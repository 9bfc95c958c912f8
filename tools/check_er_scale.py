"""sf0.1-scale ER-chain oracle: close the one gap in the round-3 sweep.

DuckDB's recursive-CTE transitive closure (oracles._closure) materializes
the full reachability set — quadratic in component size — and exceeds
practical runtime on the 4.7M-edge sf0.1 match graph (BENCH.md round-3
sweep table). This tool replaces it, FOR THE SCALE SWEEP ONLY, with a
bounded-round min-label propagation + pointer-jumping replay driven from
Python: each round is two hash joins (neighbor-min, then label-through-
label), so convergence is O(log n) rounds of linear work — the same
asymptotics as the engine's large-star/small-star CC (operators/cc.py),
implemented independently on the oracle engine.

Checks, at the given sf_dir (default /root/testdata/sf0.1):

  er_clusters  exact multiset equality of (mention_uid, cluster_id)
               between Spark and the DuckDB replay
  er_entities  exact multiset equality of the full aggregate rows
               (oracles.ER_ENTITIES_AGG over the replayed assignment)

Usage:
    python tools/check_er_scale.py [sf_dir] [--max-rounds N]
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, ".")

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def duck_assignment(con, max_rounds: int = 64) -> int:
    """Build TABLE assigned(mention_uid, cluster_id) from TABLEs m/edges
    via min-label + pointer-jump rounds. Returns rounds used."""
    con.execute(
        "CREATE OR REPLACE TABLE sym AS "
        "SELECT u, v FROM edges UNION SELECT v AS u, u AS v FROM edges"
    )
    con.execute(
        "CREATE OR REPLACE TABLE lbl AS "
        "SELECT DISTINCT u AS node, u AS comp FROM sym"
    )
    for rnd in range(1, max_rounds + 1):
        # neighbor-min: comp' = min(comp, min over neighbors' comp)
        con.execute(
            "CREATE OR REPLACE TABLE lbl2 AS "
            "SELECT l.node, least(l.comp, coalesce(n.c, l.comp)) AS comp "
            "FROM lbl l LEFT JOIN ("
            "  SELECT s.u AS node, min(l2.comp) AS c"
            "  FROM sym s JOIN lbl l2 ON s.v = l2.node GROUP BY s.u"
            ") n USING (node)"
        )
        # pointer jump: comp'' = comp'(comp') — log-round convergence
        con.execute(
            "CREATE OR REPLACE TABLE lbl3 AS "
            "SELECT l.node, least(l.comp, coalesce(p.comp, l.comp)) AS comp "
            "FROM lbl2 l LEFT JOIN lbl2 p ON l.comp = p.node"
        )
        changed = con.sql(
            "SELECT count(*) FROM lbl3 l JOIN lbl USING (node) "
            "WHERE l.comp <> lbl.comp"
        ).fetchone()[0]
        con.execute("CREATE OR REPLACE TABLE lbl AS SELECT * FROM lbl3")
        if changed == 0:
            break
    else:
        raise RuntimeError(f"CC did not converge in {max_rounds} rounds")
    # fixpoint sanity: no node can still see a smaller neighbor label
    viol = con.sql(
        "SELECT count(*) FROM sym s "
        "JOIN lbl a ON s.u = a.node JOIN lbl b ON s.v = b.node "
        "WHERE a.comp <> b.comp"
    ).fetchone()[0]
    assert viol == 0, f"non-fixpoint: {viol} cross-component edges"
    con.execute(
        "CREATE OR REPLACE TABLE assigned AS "
        "SELECT m.mention_uid, coalesce(l.comp, m.mention_uid) AS cluster_id "
        "FROM m LEFT JOIN lbl l ON m.mention_uid = l.node"
    )
    return rnd


def main() -> None:
    import duckdb

    from character_identification_spark import oracles
    from character_identification_spark.driver_contract import (
        q_er_clusters,
        q_er_entities,
    )
    from character_identification_spark.session import get_spark

    argv = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.1"
    max_rounds = (
        int(sys.argv[sys.argv.index("--max-rounds") + 1])
        if "--max-rounds" in sys.argv
        else 64
    )

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    t0 = time.monotonic()
    # materialize the chain up to the decided match edges ONCE (the same
    # CTE text the per-query oracles use — only the closure differs)
    prefix = (
        "WITH "
        + oracles._ER_M
        + ","
        + oracles._ER_BLOCKS
        + ","
        + oracles._ER_PAIRS
        + ","
        + oracles._ER_SCORED
    )
    con.execute(
        f"CREATE OR REPLACE TABLE m AS {prefix} SELECT * FROM m"
    )
    con.execute(
        f"CREATE OR REPLACE TABLE edges AS {prefix} "
        "SELECT uid1 AS u, uid2 AS v FROM decided WHERE is_match"
    )
    n_edges = con.sql("SELECT count(*) FROM edges").fetchone()[0]
    rounds = duck_assignment(con, max_rounds)
    t1 = time.monotonic()
    print(f"duckdb: {n_edges} match edges, CC converged in {rounds} rounds "
          f"({t1-t0:.1f}s)")

    d_clusters = sorted(con.sql(
        "SELECT mention_uid, cluster_id FROM assigned"
    ).fetchall())
    d_entities = sorted(
        tuple(r) for r in con.sql(
            "WITH " + oracles.ER_ENTITIES_AGG.lstrip()
        ).fetchall()
    )
    t2 = time.monotonic()
    print(f"duckdb aggregates: {len(d_entities)} entities ({t2-t1:.1f}s)")

    spark = get_spark("check-er-scale", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    s_clusters = sorted(
        (r["mention_uid"], r["cluster_id"])
        for r in q_er_clusters(spark, sf_dir).collect()
    )
    t3 = time.monotonic()
    s_entities = sorted(
        (r["cluster_id"], r["n_mentions"], r["n_aliases"], r["aliases"],
         r["n_pages"], r["canonical"])
        for r in q_er_entities(spark, sf_dir).collect()
    )
    t4 = time.monotonic()
    print(f"spark: {len(s_clusters)} assignments ({t3-t2:.1f}s), "
          f"{len(s_entities)} entities ({t4-t3:.1f}s)")

    ok = True
    if s_clusters != d_clusters:
        ndiff = sum(1 for a, b in zip(s_clusters, d_clusters) if a != b)
        print(f"FAIL er_clusters: {len(s_clusters)} vs {len(d_clusters)} "
              f"rows, {ndiff} differing")
        ok = False
    else:
        print(f"OK   er_clusters: {len(s_clusters)} assignments identical")
    if s_entities != d_entities:
        print(f"FAIL er_entities: {len(s_entities)} vs {len(d_entities)} rows")
        for a, b in list(zip(s_entities, d_entities))[:3]:
            if a != b:
                print(f"  spark={a}\n  duck ={b}")
        ok = False
    else:
        print(f"OK   er_entities: {len(s_entities)} entity rows identical")
    spark.stop()
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
