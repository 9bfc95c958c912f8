"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at the given scale factor, then compares row count, column names,
and an order-insensitive value multiset (floats canonicalized via
repr-rounding). Usage:

    python tools/check_oracles.py [sf_dir] [query ...] [--json PATH]

--json writes a driver-artifact-shaped report (query → rows_match/
schema_match/hash_match/...) covering the FULL query surface. The
driver's own per-round sweep is capped at the first 50 ``queries()``
entries (observed: CORRECTNESS_r03.json holds exactly queries()[0:50]),
so the committed full-surface run (CORRECTNESS_FULL.json at the repo
root, regenerated every round) is the artifact that makes "every
operator has a green row" literally checkable.
"""

from __future__ import annotations

import math
import sys
import time

sys.path.insert(0, ".")

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(v[k])}" for k in sorted(v)) + "}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def row_sig(row, cols):
    return "|".join(canon(row[c]) for c in cols)


def main():
    import duckdb

    from __spark_entry__ import oracle_sql, queries
    from character_identification_spark.session import get_spark

    argv = sys.argv[1:]
    json_path = None
    if "--json" in argv:
        i = argv.index("--json")
        json_path = argv[i + 1]
        argv = argv[:i] + argv[i + 2:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    spark = get_spark("check-oracles", shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, os_ = queries(), oracle_sql()
    failures = []
    report: dict = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.monotonic()
        try:
            sdf = fn(spark, sf_dir)
            scols = sorted(sdf.columns)
            srows = sdf.collect()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            report[name] = {"rows_match": False, "schema_match": False,
                            "hash_match": False, "err": f"spark: {e}"}
            continue
        t1 = time.monotonic()
        if name not in os_:
            print(f"ok?  {name}: rows-only, {len(srows)} rows ({t1-t0:.1f}s)")
            if len(srows) == 0:
                print(f"WARN {name}: zero rows")
            report[name] = {"rows_only": True, "spark_rows": len(srows),
                            "err": None}
            continue
        try:
            rel = con.sql(os_[name])
            dcols = sorted(rel.columns)
            ddf = rel.fetchall()
            dmap = {c: i for i, c in enumerate(rel.columns)}
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failures.append(name)
            report[name] = {"rows_match": False, "schema_match": False,
                            "hash_match": False, "err": f"duckdb: {e}"}
            continue
        t2 = time.monotonic()
        ok = True
        schema_ok = scols == dcols
        rows_ok = len(srows) == len(ddf)
        hash_ok = False
        if not schema_ok:
            print(f"FAIL {name}: columns spark={scols} duck={dcols}")
            ok = False
        if not rows_ok:
            print(f"FAIL {name}: rows spark={len(srows)} duck={len(ddf)}")
            ok = False
        if ok:
            s_set = sorted(row_sig(r, scols) for r in srows)
            d_set = sorted(
                "|".join(canon(r[dmap[c]]) for c in scols) for r in ddf
            )
            if s_set != d_set:
                diff = [
                    (a, b) for a, b in zip(s_set, d_set) if a != b
                ][:3]
                print(f"FAIL {name}: value mismatch; first diffs: {diff}")
                only_s = set(s_set) - set(d_set)
                only_d = set(d_set) - set(s_set)
                print(f"  spark-only({len(only_s)}): {sorted(only_s)[:2]}")
                print(f"  duck-only({len(only_d)}): {sorted(only_d)[:2]}")
                ok = False
            else:
                hash_ok = True
        if ok:
            print(
                f"OK   {name}: {len(srows)} rows "
                f"(spark {t1-t0:.1f}s, duck {t2-t1:.1f}s)"
            )
        else:
            failures.append(name)
        report[name] = {
            "rows_match": rows_ok,
            "schema_match": schema_ok,
            "hash_match": hash_ok,
            "spark_rows": len(srows),
            "oracle_rows": len(ddf),
            "spark_sec": round(t1 - t0, 2),
            "oracle_sec": round(t2 - t1, 2),
            "err": None,
        }
    if json_path:
        import json as _json

        with open(json_path, "w") as fh:
            _json.dump(report, fh, indent=1)
        print(f"wrote {json_path} ({len(report)} queries)")
    print()
    if failures:
        print(f"FAILURES ({len(failures)}): {failures}")
        sys.exit(1)
    print("all queries match")


if __name__ == "__main__":
    main()
