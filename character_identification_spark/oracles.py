r"""DuckDB oracle SQL mirroring every query in driver_contract.QUERIES.

Each SQL string recomputes the Spark query's values independently in
DuckDB over the same parquet views. Parity rules (see driver_contract
docstring): md5-derived hashes are identical by construction; int/int
double divisions are bit-identical; anything UDF- or agg-order-dependent
is rounded to 6 dp on both sides; count-ish columns are cast so DuckDB's
BIGINT/HUGEINT defaults match Spark's INT/LONG output types.

Every query has an entry — including similarity_ann (the LSH planes are
md5-pure, so the "approximate" search is deterministically replayable) and
media_features (the fake-codec byte-twiddling is re-derived from the md5
hex digest). Array-valued outputs are projected to '|'/','-joined strings
(floats as integer micros) because the driver's pandas canonicalizer can't
factorize list cells — and float→string rendering is the one place two
engines disagree on formatting.
"""

from __future__ import annotations

from character_identification_spark.functions.hashing import dd_h_long
from character_identification_spark.functions.minhash import dd_minhash_bands

# --------------------------------------------------------------------------
# ER fragments (mentions derived from part.p_name — see driver_contract)
# --------------------------------------------------------------------------

_ER_M = r"""
m AS (
  SELECT CAST(p_partkey * 4 + v AS BIGINT) AS mention_uid,
         CAST(p_partkey AS BIGINT) AS p_partkey,
         v AS variant,
         surface,
         trim(regexp_replace(regexp_replace(lower(surface), '[^a-z0-9]+', ' ', 'g'),
                             '\s+', ' ', 'g')) AS norm
  FROM (
    SELECT p_partkey, 1 AS v, p_name AS surface FROM part
    UNION ALL
    SELECT p_partkey, 2 AS v,
           string_split(p_name, ' ')[1] || ' ' ||
           substr(string_split(p_name, ' ')[2], 1, 1) AS surface
    FROM part
    UNION ALL
    SELECT p_partkey, 3 AS v,
           string_split(p_name, ' ')[1] || ' ' ||
           substr(string_split(p_name, ' ')[2], 2, 1) ||
           substr(string_split(p_name, ' ')[2], 1, 1) ||
           substr(string_split(p_name, ' ')[2], 3) AS surface
    FROM part
  )
)
"""

# capped prefix + init_last sort-key families (cap = 40, mirrors ER_CAP)
_ER_SORTKEY = r"""
sk_fam AS (
  SELECT DISTINCT mention_uid, block_key FROM (
    SELECT mention_uid, 'sk:' || substr(norm, 1, 4) AS block_key FROM m
    UNION ALL
    SELECT mention_uid,
           'il:' || substr(string_split(norm, ' ')[1], 1, 1) || ':' ||
           string_split(norm, ' ')[-1] AS block_key
    FROM m WHERE len(string_split(norm, ' ')) >= 2
  )
)
"""

# blocking.char_shingles("norm", 3)
_CHAR3_NORM = """list_distinct(list_transform(
           generate_series(1, greatest(len(norm) - 2, 1)),
           i -> substr(norm, i, 3)))"""

# twin of blocking.minhash_lsh_blocks(n_gram=3, num_hashes=8, band_size=2)
_ER_MINHASH = f"""
mh_fam AS (
  SELECT mention_uid, 'mh:' || CAST(band AS VARCHAR) || ':' || band_sig AS block_key
  FROM ({dd_minhash_bands("m", _CHAR3_NORM, ["mention_uid"], 8, 2)})
)
"""


def _capped(src: str, out: str, cap: int = 40) -> str:
    """Mirror of operators/blocking.cap_block_sizes."""
    return f"""
{out} AS (
  SELECT mention_uid,
         CASE WHEN bsz <= {cap} THEN block_key
              ELSE block_key || '#' ||
                   CAST((rn - 1) % CAST(ceil(bsz / {cap}.0) AS BIGINT) AS VARCHAR)
         END AS block_key
  FROM (
    SELECT mention_uid, block_key,
           row_number() OVER (PARTITION BY block_key ORDER BY mention_uid) AS rn,
           count(*) OVER (PARTITION BY block_key) AS bsz
    FROM {src}
  )
)
"""


_ER_BLOCKS = (
    _ER_SORTKEY
    + ","
    + _ER_MINHASH
    + r""",
all_fam AS (
  SELECT DISTINCT mention_uid, block_key FROM (
    SELECT * FROM sk_fam UNION ALL SELECT * FROM mh_fam
  )
)
,"""
    + _capped("all_fam", "blocks")
)

_ER_PAIRS = r"""
keyed AS (
  SELECT b.block_key, b.mention_uid, m.norm, m.surface
  FROM blocks b JOIN m USING (mention_uid)
),
pairs AS (
  SELECT uid1, uid2,
         min(block_key) AS block_key,
         min(norm_1) AS norm_1, min(norm_2) AS norm_2,
         min(surface_1) AS surface_1, min(surface_2) AS surface_2
  FROM (
    SELECT a.mention_uid AS uid1, b.mention_uid AS uid2, a.block_key,
           a.norm AS norm_1, a.surface AS surface_1,
           b.norm AS norm_2, b.surface AS surface_2
    FROM keyed a JOIN keyed b
      ON a.block_key = b.block_key AND a.mention_uid < b.mention_uid
  )
  GROUP BY uid1, uid2
)
"""

# mirrors operators/scoring.score_pairs (threshold 0.82), same expression
# order so double arithmetic is bit-identical
_ER_SCORED = r"""
feat AS (
  SELECT uid1, uid2, block_key,
         jaro_winkler_similarity(norm_1, norm_2) AS jw,
         jaro_winkler_similarity(t1[-1], t2[-1]) AS jw_last,
         1.0 - levenshtein(norm_1, norm_2) / greatest(len(norm_1), len(norm_2)) AS lev_ratio,
         len(list_distinct(list_intersect(t1, t2))) /
           CAST(len(list_distinct(list_concat(t1, t2))) AS DOUBLE) AS tok_jaccard,
         (len(list_filter(t1, x -> NOT list_contains(t2, x))) = 0
          OR len(list_filter(t2, x -> NOT list_contains(t1, x))) = 0) AS tok_contained,
         (len(t1) = len(t2) AND len(t1) >= 2 AND t1[2:] = t2[2:]
          AND least(length(t1[1]), length(t2[1])) = 1
          AND (starts_with(t1[1], t2[1]) OR starts_with(t2[1], t1[1]))) AS initial_alias,
         (len(t1) = len(t2) AND len(list_filter(
            list_transform(generate_series(1, len(t1)),
              i -> damerau_levenshtein(t1[i], t2[i]) <= 1),
            x -> NOT x)) = 0) AS tokenwise_typo
  FROM (SELECT *, string_split(norm_1, ' ') AS t1, string_split(norm_2, ' ') AS t2
        FROM pairs)
),
scored AS (
  SELECT *,
         0.5 * jw + 0.3 * lev_ratio + 0.2 * tok_jaccard
           + CASE WHEN tok_contained THEN 0.12 ELSE 0.0 END AS score
  FROM feat
),
decided AS (
  SELECT *,
         (tokenwise_typo OR (lev_ratio >= 0.85 AND jw_last >= 0.85)
          OR (tok_contained AND jw >= 0.65) OR initial_alias
          OR (score >= 0.82 AND jw_last >= 0.85)) AS is_match
  FROM scored
)
"""


def _closure(edges_cte: str) -> str:
    """Recursive min-label transitive closure (oracle twin of the
    large-star/small-star CC in operators/cc.py)."""
    return f"""
sym AS (
  SELECT u, v FROM {edges_cte}
  UNION
  SELECT v AS u, u AS v FROM {edges_cte}
),
reach AS (
  SELECT u AS a, v AS b FROM sym
  UNION
  SELECT r.a, s.v AS b FROM reach r JOIN sym s ON r.b = s.u WHERE s.v <> r.a
),
comp AS (SELECT a AS node, least(a, min(b)) AS component FROM reach GROUP BY a)
"""


_ER_ASSIGN = (
    r"""
edges AS (SELECT uid1 AS u, uid2 AS v FROM decided WHERE is_match),
"""
    + _closure("edges")
    + r""",
assigned AS (
  SELECT m.mention_uid, coalesce(c.component, m.mention_uid) AS cluster_id
  FROM m LEFT JOIN comp c ON m.mention_uid = c.node
)
"""
)

_ER_FULL_PREFIX = (
    "WITH RECURSIVE "
    + _ER_M
    + ","
    + _ER_BLOCKS
    + ","
    + _ER_PAIRS
    + ","
    + _ER_SCORED
    + ","
    + _ER_ASSIGN
)

SQL_ER_MENTIONS = "WITH " + _ER_M + "\nSELECT * FROM m"

SQL_ER_BLOCKING_SORTKEY = (
    "WITH "
    + _ER_M
    + ","
    + _ER_SORTKEY
    + ","
    + _capped("sk_fam", "capped")
    + "\nSELECT mention_uid, block_key FROM capped"
)

SQL_ER_BLOCKING_MINHASH = (
    "WITH " + _ER_M + "," + _ER_MINHASH + "\nSELECT mention_uid, block_key FROM mh_fam"
)

SQL_ER_CANDIDATE_PAIRS = (
    "WITH " + _ER_M + "," + _ER_BLOCKS + "," + _ER_PAIRS + "\nSELECT * FROM pairs"
)

SQL_ER_SCORED_PAIRS = (
    "WITH "
    + _ER_M
    + ","
    + _ER_BLOCKS
    + ","
    + _ER_PAIRS
    + ","
    + _ER_SCORED
    + r"""
SELECT uid1, uid2, block_key,
       round(jw, 6) AS jw, round(jw_last, 6) AS jw_last,
       round(lev_ratio, 6) AS lev_ratio,
       round(tok_jaccard, 6) AS tok_jaccard, tok_contained, initial_alias,
       tokenwise_typo, round(score, 6) AS score, is_match
FROM decided
"""
)

def _dd_embed_comp(d: int) -> str:
    """DuckDB twin of functions/vectors.hash_embedding component d."""
    h = (
        f"CAST(CAST('0x' || substr(md5('{d}|' || s), 1, 15) AS UBIGINT) AS BIGINT)"
    )
    return (
        "list_sum(list_transform(sh, s -> "
        f"(({h} / 576460752303423488.0) - 1.0)))"
    )


SQL_ER_SCORED_EMBEDDING = (
    "WITH "
    + _ER_M
    + ","
    + _ER_BLOCKS
    + ","
    + _ER_PAIRS
    + r""",
emb AS (
  SELECT mention_uid, ["""
    + ", ".join(_dd_embed_comp(d) for d in range(16))
    + r"""] AS emb
  FROM (
    SELECT mention_uid,
           list_distinct(list_transform(
             generate_series(1, greatest(len(norm) - 2, 1)),
             i -> substr(norm, i, 3))) AS sh
    FROM m
  )
),
ep AS (
  SELECT p.*, e1.emb AS emb_1, e2.emb AS emb_2
  FROM pairs p
  JOIN emb e1 ON p.uid1 = e1.mention_uid
  JOIN emb e2 ON p.uid2 = e2.mention_uid
),
efeat AS (
  SELECT uid1, uid2,
         jaro_winkler_similarity(norm_1, norm_2) AS jw,
         jaro_winkler_similarity(t1[-1], t2[-1]) AS jw_last,
         1.0 - levenshtein(norm_1, norm_2) / greatest(len(norm_1), len(norm_2)) AS lev_ratio,
         len(list_distinct(list_intersect(t1, t2))) /
           CAST(len(list_distinct(list_concat(t1, t2))) AS DOUBLE) AS tok_jaccard,
         (len(list_filter(t1, x -> NOT list_contains(t2, x))) = 0
          OR len(list_filter(t2, x -> NOT list_contains(t1, x))) = 0) AS tok_contained,
         (len(t1) = len(t2) AND len(t1) >= 2 AND t1[2:] = t2[2:]
          AND least(length(t1[1]), length(t2[1])) = 1
          AND (starts_with(t1[1], t2[1]) OR starts_with(t2[1], t1[1]))) AS initial_alias,
         (len(t1) = len(t2) AND len(list_filter(
            list_transform(generate_series(1, len(t1)),
              i -> damerau_levenshtein(t1[i], t2[i]) <= 1),
            x -> NOT x)) = 0) AS tokenwise_typo,
         list_dot_product(emb_1, emb_2) /
           (sqrt(list_dot_product(emb_1, emb_1)) * sqrt(list_dot_product(emb_2, emb_2)))
           AS cos_sim
  FROM (SELECT *, string_split(norm_1, ' ') AS t1, string_split(norm_2, ' ') AS t2
        FROM ep)
),
escored AS (
  SELECT *,
         0.35 * jw + 0.2 * lev_ratio + 0.15 * tok_jaccard
           + 0.3 * ((cos_sim + 1.0) / 2.0)
           + CASE WHEN tok_contained THEN 0.12 ELSE 0.0 END AS score
  FROM efeat
),
edecided AS (
  SELECT *,
         (tokenwise_typo OR (lev_ratio >= 0.85 AND jw_last >= 0.85)
          OR (tok_contained AND jw >= 0.65) OR initial_alias
          OR (score >= 0.82 AND jw_last >= 0.85)) AS is_match
  FROM escored
)
SELECT uid1, uid2, round(jw, 6) AS jw, round(jw_last, 6) AS jw_last,
       round(cos_sim, 6) AS cos_sim, round(score, 6) AS score, is_match
FROM edecided
"""
)

SQL_ER_CLUSTERS = _ER_FULL_PREFIX + "\nSELECT mention_uid, cluster_id FROM assigned"

# the post-CC aggregation, shared with tools/check_er_scale.py's
# bounded-round sf0.1 replay (which materializes m/assigned as TABLES
# instead of the recursive CTE — the recursive closure's full
# reachability set is quadratic in component size and exceeds practical
# runtime at 4.7M edges)
ER_ENTITIES_AGG = r"""
clustered AS (
  SELECT a.cluster_id, m.norm, CAST(m.p_partkey AS VARCHAR) AS url
  FROM assigned a JOIN m USING (mention_uid)
),
by_name AS (
  SELECT cluster_id, norm, count(*) AS cnt FROM clustered GROUP BY cluster_id, norm
),
canon AS (
  SELECT cluster_id, norm AS canonical FROM (
    SELECT cluster_id, norm,
           row_number() OVER (PARTITION BY cluster_id ORDER BY cnt DESC, norm ASC) AS rk
    FROM by_name
  ) WHERE rk = 1
),
stats AS (
  SELECT cluster_id, count(*) AS n_mentions, count(DISTINCT norm) AS n_aliases,
         array_to_string(list_sort(list_distinct(list(norm))), '|') AS aliases,
         count(DISTINCT url) AS n_pages
  FROM clustered GROUP BY cluster_id
)
SELECT s.cluster_id, s.n_mentions, s.n_aliases, s.aliases, s.n_pages, c.canonical
FROM stats s JOIN canon c USING (cluster_id)
"""

SQL_ER_ENTITIES = _ER_FULL_PREFIX + "," + ER_ENTITIES_AGG

# --------------------------------------------------------------------------
# Dedup fragments over augmented documents
# --------------------------------------------------------------------------

_DOCS = r"""
docs AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents
  UNION ALL
  SELECT CAST(doc_id + 100000 AS BIGINT) AS doc_id,
         array_to_string(list_slice(regexp_split_to_array(trim(text), '\s+'), 1,
           greatest(len(regexp_split_to_array(trim(text), '\s+')) - 3, 1)), ' ') AS text
  FROM documents
  UNION ALL
  SELECT CAST(doc_id + 200000 AS BIGINT) AS doc_id, text FROM documents
)
"""

SQL_DEDUP_EXACT = (
    "WITH "
    + _DOCS
    + r""",
d AS (SELECT doc_id, md5(text) AS digest FROM docs),
g AS (SELECT digest, count(*) AS group_size, min(doc_id) AS canonical_id
      FROM d GROUP BY digest)
SELECT d.doc_id, d.digest, g.group_size, g.canonical_id,
       d.doc_id <> g.canonical_id AS is_duplicate
FROM d JOIN g USING (digest)
"""
)


def _dedup_minhash_verified(cap: int) -> str:
    """Twin of dedup.minhash_dup_pairs(n_gram=3, num_hashes=16,
    band_size=2, max_bucket_size=cap): word 3-gram shingles, banded
    MinHash buckets salt-split by the cap, exact-Jaccard verify. The
    buckets take cap_block_sizes' (mention_uid, block_key) names, as the
    engine's do."""
    return rf"""
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(len(toks) - 2, 1)),
           i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS shingles
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM docs)
),
bands AS (
  SELECT doc_id AS mention_uid, CAST(band AS VARCHAR) || ':' || band_sig AS block_key
  FROM ({dd_minhash_bands("sh", "shingles", ["doc_id"], 16, 2)})
),
{_capped("bands", "buckets", cap)},
cand AS (
  SELECT DISTINCT a.mention_uid AS id1, b.mention_uid AS id2
  FROM buckets a JOIN buckets b
    ON a.block_key = b.block_key AND a.mention_uid < b.mention_uid
),
verified AS (
  SELECT id1, id2,
         len(list_distinct(list_intersect(s1.shingles, s2.shingles))) /
           CAST(len(list_distinct(list_concat(s1.shingles, s2.shingles))) AS DOUBLE)
           AS jaccard
  FROM cand JOIN sh s1 ON cand.id1 = s1.doc_id JOIN sh s2 ON cand.id2 = s2.doc_id
)
"""


# every Spark caller passes max_bucket_size=1000
_DEDUP_MINHASH_VERIFIED = _dedup_minhash_verified(1000)

SQL_DEDUP_MINHASH_PAIRS = (
    "WITH "
    + _DOCS
    + ","
    + _DEDUP_MINHASH_VERIFIED
    + "\nSELECT id1, id2, jaccard, jaccard >= 0.7 AS is_dup FROM verified"
)

# 60-bit bit-vote SimHash over whitespace tokens (mirrors operators/dedup.simhash)
_SIMHASH = r"""
tokw AS (
  SELECT doc_id, tok, count(*) AS w
  FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok FROM docs)
  GROUP BY doc_id, tok
),
tokh AS (
  SELECT doc_id, w,
         CAST(CAST('0x' || substr(md5(CAST(tok AS VARCHAR)), 1, 15) AS UBIGINT) AS BIGINT) AS th
  FROM tokw
),
votes AS (
  SELECT doc_id, bit,
         sum(CASE WHEN (th >> bit) & 1 = 1 THEN w ELSE -w END) AS v
  FROM tokh CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS bit)
  GROUP BY doc_id, bit
),
sh_hash AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN v > 0 THEN CAST(1 AS BIGINT) << bit ELSE 0 END) AS BIGINT)
           AS simhash
  FROM votes GROUP BY doc_id
)
"""

SQL_DEDUP_SIMHASH = "WITH " + _DOCS + "," + _SIMHASH + "\nSELECT doc_id, simhash FROM sh_hash"

SQL_DEDUP_SIMHASH_PAIRS = (
    "WITH "
    + _DOCS
    + ","
    + _SIMHASH
    + r""",
bands AS (
  SELECT doc_id, simhash, band, (simhash >> (band * 15)) & 32767 AS key
  FROM sh_hash CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS band)
)
SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming,
       bit_count(xor(a.simhash, b.simhash)) <= 3 AS is_dup
FROM bands a JOIN bands b
  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
"""
)

SQL_DEDUP_CLUSTERS = (
    "WITH RECURSIVE "
    + _DOCS
    + ","
    + _DEDUP_MINHASH_VERIFIED
    + r""",
edges AS (SELECT id1 AS u, id2 AS v FROM verified WHERE jaccard >= 0.7),
"""
    + _closure("edges")
    + r"""
SELECT d.doc_id,
       coalesce(c.component, d.doc_id) AS dup_group,
       d.doc_id = coalesce(c.component, d.doc_id) AS keep
FROM (SELECT doc_id FROM docs) d LEFT JOIN comp c ON d.doc_id = c.node
"""
)

# exact twin of operators/dedup.duplicated_spans(k=8, min_docs=2): the
# window hash is the engine's h_long (60-bit md5 prefix) of the space-
# joined 8-token slice, so the duplicate-window set — and therefore the
# merged island spans — replays identically
SQL_DEDUP_SPANS = (
    "WITH "
    + _DOCS
    + r""",
tok AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
  FROM docs
),
win AS (
  SELECT doc_id, s AS start,
         CAST(CAST('0x' || substr(md5(
           array_to_string(t[s + 1 : s + 8], ' ')), 1, 15)
           AS UBIGINT) AS BIGINT) AS h
  FROM tok, unnest(generate_series(0, len(t) - 8)) AS u(s)
  WHERE len(t) >= 8
),
shared AS (
  SELECT h, count(DISTINCT doc_id) AS share FROM win GROUP BY h
  HAVING count(DISTINCT doc_id) >= 2
),
dup AS (SELECT win.doc_id, win.start, shared.share FROM win JOIN shared USING (h)),
isl AS (
  SELECT doc_id, start, share,
         CASE WHEN start > coalesce(
                max(start + 8) OVER (PARTITION BY doc_id ORDER BY start
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS new_span
  FROM dup
),
isl2 AS (
  SELECT *, sum(new_span) OVER (PARTITION BY doc_id ORDER BY start
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
  FROM isl
)
SELECT doc_id, CAST(min(start) AS INTEGER) AS span_start,
       CAST(max(start) + 8 AS INTEGER) AS span_end,
       CAST(count(*) AS BIGINT) AS n_windows,
       CAST(max(share) AS BIGINT) AS max_share
FROM isl2 GROUP BY doc_id, span_id
"""
)

# exact twin of operators/dedup.decontaminate(k=8) with probes = every
# 20th raw document (q_decontaminate)
SQL_DECONTAMINATE = (
    "WITH "
    + _DOCS
    + r""",
tok AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM docs
),
win AS (
  SELECT doc_id,
         CAST(CAST('0x' || substr(md5(
           array_to_string(t[s + 1 : s + 8], ' ')), 1, 15)
           AS UBIGINT) AS BIGINT) AS h
  FROM tok, unnest(generate_series(0, len(t) - 8)) AS u(s)
  WHERE len(t) >= 8
),
ptok AS (
  SELECT regexp_split_to_array(trim(text), '\s+') AS t
  FROM documents WHERE doc_id % 20 = 0
),
ph AS (
  SELECT DISTINCT CAST(CAST('0x' || substr(md5(
           array_to_string(t[s + 1 : s + 8], ' ')), 1, 15)
           AS UBIGINT) AS BIGINT) AS h
  FROM ptok, unnest(generate_series(0, len(t) - 8)) AS u(s)
  WHERE len(t) >= 8
),
hits AS (
  SELECT doc_id, count(DISTINCT h) AS n_hits
  FROM win JOIN ph USING (h) GROUP BY doc_id
)
SELECT d.doc_id, coalesce(hits.n_hits > 0, FALSE) AS contaminated,
       CAST(coalesce(hits.n_hits, 0) AS BIGINT) AS n_hits
FROM (SELECT doc_id FROM docs) d LEFT JOIN hits USING (doc_id)
"""
)

SQL_DEDUP_NGRAM_JACCARD = (
    "WITH "
    + _DOCS
    + r""",
sampled AS (SELECT * FROM docs WHERE doc_id % 5 = 0),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(len(toks) - 2, 1)),
           i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS sh
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM sampled)
),
p AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2,
         len(list_distinct(list_intersect(a.sh, b.sh))) /
           CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) AS jaccard
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
)
SELECT id1, id2, jaccard, jaccard >= 0.7 AS is_dup FROM p WHERE jaccard > 0
"""
)

# exact twin of dedup.prefix_jaccard_pairs(tau=0.7, n=3) over the
# augmented dup corpus (q_dedup_prefix_jaccard): identical rarest-first
# canonical order (frequency asc, shingle asc), identical prefix length
# sz − ceil(0.7·sz) + 1, identical exact-Jaccard verification.
SQL_DEDUP_PREFIX_JACCARD = (
    "WITH "
    + _DOCS
    + r""",
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(len(toks) - 2, 1)),
           i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS sh
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM docs)
),
tok AS (SELECT doc_id, unnest(sh) AS t FROM sh),
freq AS (SELECT t, count(*) AS f FROM tok GROUP BY t),
ordd AS (
  SELECT tok.doc_id, list(tok.t ORDER BY freq.f, tok.t) AS ord,
         count(*) AS sz
  FROM tok JOIN freq USING (t) GROUP BY tok.doc_id
),
pref AS (
  SELECT doc_id,
         unnest(ord[1 : CAST(sz - ceil(sz * 0.7) + 1 AS INTEGER)]) AS t
  FROM ordd
),
cand AS (
  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
  FROM pref a JOIN pref b ON a.t = b.t AND a.doc_id < b.doc_id
)
SELECT c.id1, c.id2,
       len(list_distinct(list_intersect(s1.sh, s2.sh))) /
         CAST(len(list_distinct(list_concat(s1.sh, s2.sh))) AS DOUBLE) AS jaccard
FROM cand c JOIN sh s1 ON c.id1 = s1.doc_id JOIN sh s2 ON c.id2 = s2.doc_id
WHERE len(list_distinct(list_intersect(s1.sh, s2.sh))) /
        CAST(len(list_distinct(list_concat(s1.sh, s2.sh))) AS DOUBLE) >= 0.7
"""
)


def _dd_sign_bucket(n_planes: int, offset: int = 0) -> str:
    """DuckDB twin of similarity.sign_lsh_bucket over a DOUBLE[] column v
    (generalizes the 4-plane _LSH_BUCKET_EXPR below; ``offset`` selects
    the plane-index window, for multi-table bucketings)."""
    bits = []
    for p in range(n_planes):
        h = (
            f"CAST(CAST('0x' || substr(md5('{offset + p}|' || CAST(i - 1 AS VARCHAR)), 1, 15)"
            " AS UBIGINT) AS BIGINT)"
        )
        dot = (
            "list_sum(list_transform(generate_series(1, len(v)), "
            f"i -> v[i] * (({h} / 576460752303423488.0) - 1.0)))"
        )
        bits.append(f"(CASE WHEN ({dot}) >= 0 THEN {1 << p} ELSE 0 END)")
    return "CAST(" + " + ".join(bits) + " AS BIGINT)"


# exact twin of embedding_dup_pairs' DEFAULT n_planes=8 sign-LSH path:
# candidates = bucket equality, then exact cosine
SQL_DEDUP_EMBEDDING_PAIRS = f"""
WITH e AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings
),
aug AS (
  SELECT vec_id, v FROM e
  UNION ALL
  SELECT vec_id + 100000 AS vec_id, list_transform(v, x -> x * 0.5) AS v FROM e
),
bk AS (
  SELECT vec_id, v, {_dd_sign_bucket(8)} AS bucket FROM aug
),
p AS (
  SELECT a.vec_id AS id1, b.vec_id AS id2,
         list_dot_product(a.v, b.v) /
           (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
           AS cos_sim
  FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT id1, id2, round(cos_sim, 6) AS cos_sim, cos_sim >= 0.95 AS is_dup
FROM p WHERE cos_sim >= 0.4
"""

# --------------------------------------------------------------------------
# Text analysis
# --------------------------------------------------------------------------

SQL_TEXT_STATS = r"""
WITH t AS (
  SELECT doc_id, text,
         regexp_split_to_array(trim(text), '\s+') AS toks,
         CAST(len(text) AS INTEGER) AS n_chars,
         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INTEGER) AS n_tokens
  FROM documents
),
s AS (
  SELECT doc_id, n_chars, n_tokens,
         round((n_chars - (n_tokens - 1)) / CAST(n_tokens AS DOUBLE), 6) AS avg_token_len,
         round((n_chars - len(regexp_replace(text, '[^\w\s]', '', 'g')))
               / CAST(n_chars AS DOUBLE), 6) AS punct_ratio,
         round((n_chars - len(regexp_replace(text, '[0-9]', '', 'g')))
               / CAST(n_chars AS DOUBLE), 6) AS digit_ratio,
         round(len(list_distinct(toks)) / CAST(n_tokens AS DOUBLE), 6) AS uniq_token_ratio,
         round(len(list_filter(toks, x -> list_contains(
                 ['the','and','of','to','a','in','is','that','it','for'], lower(x))))
               / CAST(n_tokens AS DOUBLE), 6) AS stopword_ratio
  FROM t
)
SELECT *,
       round(0.25 * least(n_tokens / 50.0, 1.0)
             + 0.25 * (1.0 - least(punct_ratio * 4.0, 1.0))
             + 0.2 * (1.0 - least(digit_ratio * 4.0, 1.0))
             + 0.15 * uniq_token_ratio
             + 0.15 * least(stopword_ratio * 5.0, 1.0), 6) AS quality
FROM s
"""

_LANGS = {
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "auf", "mit", "zu"],
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "it", "for"],
    "es": ["el", "la", "los", "y", "es", "un", "una", "en", "que", "por"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "dans", "que", "pour"],
}

_LANG_SCORES = "\n  UNION ALL\n".join(
    "  SELECT doc_id, '{lang}' AS lang, "
    "round(len(list_filter(toks, x -> list_contains([{words}], x))) "
    "/ CAST(len(toks) AS DOUBLE), 6) AS score FROM t".format(
        lang=lang, words=",".join(f"'{w}'" for w in words)
    )
    for lang, words in sorted(_LANGS.items())
)

SQL_TEXT_LANGUAGE_ID = (
    r"""
WITH t AS (
  SELECT doc_id,
         list_transform(regexp_split_to_array(trim(text), '\s+'), x -> lower(x)) AS toks
  FROM documents
),
ls AS (
"""
    + _LANG_SCORES
    + r"""
),
best AS (
  SELECT doc_id, lang, score,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang DESC) AS rk
  FROM ls
)
SELECT doc_id,
       CASE WHEN score > 0 THEN lang ELSE 'und' END AS lang_pred,
       score AS lang_score
FROM best WHERE rk = 1
"""
)

SQL_TEXT_FINGERPRINT = r"""
WITH n AS (
  SELECT doc_id, text,
         trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'),
                             '\s+', ' ', 'g')) AS norm
  FROM documents
),
w AS (
  SELECT doc_id, text, norm, regexp_split_to_array(trim(norm), '\s+') AS toks FROM n
)
SELECT doc_id, md5(text) AS fp_exact, md5(norm) AS fp_norm,
       md5(list_min(list_distinct(list_transform(
         generate_series(1, greatest(len(toks) - 4, 1)),
         i -> array_to_string(list_slice(toks, i, i + 4), ' '))))) AS fp_shingle
FROM w
"""

SQL_TEXT_TOKEN_COUNTS = r"""
SELECT doc_id,
       CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INTEGER) AS n_tokens,
       CAST(len(regexp_split_to_array(trim(
         regexp_replace(lower(text), '([a-z]+|[0-9]+|[^a-z0-9\s])', '\1 ', 'g')),
         '\s+')) AS INTEGER) AS n_bpe
FROM documents
"""

# exact twin of textstats.lm_score: the self-trained char-trigram LM —
# counts and total replay exactly; avg-of-logs agrees after 6-dp rounding
SQL_TEXT_LM_SCORE = r"""
WITH t AS (
  SELECT doc_id, lower(trim(text)) AS s FROM documents
),
g AS (
  SELECT doc_id, substr(s, CAST(i AS INTEGER), 3) AS gram
  FROM t, unnest(generate_series(1, length(s) - 2)) AS u(i)
  WHERE length(s) >= 3
),
c AS (SELECT gram, count(*) AS cnt FROM g GROUP BY gram),
tot AS (SELECT sum(cnt) AS tot FROM c),
sc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         round(avg(ln(cnt / tot)), 6) AS lm_score
  FROM g JOIN c USING (gram), tot GROUP BY doc_id
)
SELECT t.doc_id, coalesce(sc.n_grams, 0) AS n_grams, sc.lm_score
FROM t LEFT JOIN sc USING (doc_id)
"""

# --------------------------------------------------------------------------
# Curation: URL dedup, repetition stats, PII scrub, keep-best selection
# --------------------------------------------------------------------------

# twin of curation.canonical_url over a column named url (RE2 rewrite
# syntax \1; the tracking-param replace needs 'g' — DuckDB replaces only
# the first match by default, Spark replaces all)
_CANON_URL = r"""
regexp_replace(regexp_replace(regexp_replace(
  lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.\-]*://[^/?#]*', 0)),
  '^(https?://)www\.', '\1'),
  '^(https://[^:]*):443$', '\1'),
  '^(http://[^:]*):80$', '\1')
||
regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
  regexp_replace(url, '^[a-zA-Z][a-zA-Z0-9+.\-]*://[^/?#]*', ''),
  '#.*$', ''),
  '[?&](utm_[a-z0-9]+|fbclid|gclid|msclkid)=[^&#]*', '', 'g'),
  '^([^?&]*)&', '\1?'),
  '[?&]+$', ''),
  '/+$', '')
"""

SQL_URL_DEDUP = (
    r"""
WITH u AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         (CASE doc_id % 3 WHEN 0 THEN 'HTTPS://WWW.Example.COM:443'
                          WHEN 1 THEN 'https://example.com'
                          ELSE 'http://Example.Com:80' END)
         || '/Docs/' || CAST(doc_id % 100 AS VARCHAR)
         || (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END)
         || (CASE doc_id % 5
               WHEN 0 THEN '?utm_source=feed&id=' || CAST(doc_id % 100 AS VARCHAR)
               WHEN 1 THEN '?id=' || CAST(doc_id % 100 AS VARCHAR) || '&utm_campaign=x'
               WHEN 2 THEN '?gclid=abc' ELSE '' END)
         || (CASE WHEN doc_id % 7 = 0 THEN '#section-2' ELSE '' END) AS url
  FROM documents
),
c AS (SELECT doc_id, """
    + _CANON_URL
    + r""" AS canonical_url FROM u)
SELECT canonical_url, min(doc_id) AS keep_id, count(*) AS n_copies
FROM c GROUP BY canonical_url
"""
)

SQL_TEXT_REPETITION = r"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks,
         CAST(len(text) AS INTEGER) AS n_chars
  FROM documents
),
g AS (
  SELECT doc_id, 2 AS n,
         unnest(list_transform(generate_series(1, greatest(len(toks) - 1, 1)),
                i -> array_to_string(list_slice(toks, i, i + 1), ' '))) AS gram
  FROM t
  UNION ALL
  SELECT doc_id, 3 AS n,
         unnest(list_transform(generate_series(1, greatest(len(toks) - 2, 1)),
                i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS gram
  FROM t
  UNION ALL
  SELECT doc_id, 5 AS n,
         unnest(list_transform(generate_series(1, greatest(len(toks) - 4, 1)),
                i -> array_to_string(list_slice(toks, i, i + 4), ' '))) AS gram
  FROM t
),
c AS (SELECT doc_id, n, gram, count(*) AS cnt FROM g GROUP BY doc_id, n, gram),
a AS (SELECT doc_id, n, max(cnt * len(gram)) AS top_chars, sum(cnt) AS total,
             count(*) AS n_distinct
      FROM c GROUP BY doc_id, n)
SELECT t.doc_id,
       round(coalesce(max(CASE WHEN a.n = 2 THEN a.top_chars END)
                      / CAST(t.n_chars AS DOUBLE), 0.0), 6) AS top2_char_frac,
       round(coalesce(max(CASE WHEN a.n = 3 THEN a.top_chars END)
                      / CAST(t.n_chars AS DOUBLE), 0.0), 6) AS top3_char_frac,
       round(coalesce(1.0 - max(CASE WHEN a.n = 5 THEN a.n_distinct END)
                      / CAST(max(CASE WHEN a.n = 5 THEN a.total END) AS DOUBLE),
                      0.0), 6) AS dup5_frac
FROM t LEFT JOIN a ON t.doc_id = a.doc_id
GROUP BY t.doc_id, t.n_chars
"""

_PII_EMAIL = r"[a-zA-Z0-9._%+\-]+@[a-zA-Z0-9.\-]+\.[a-zA-Z]{2,}"
_PII_IPV4 = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
_PII_PHONE = r"\+?[0-9][0-9()\- ]{6,}[0-9]"

SQL_PII_SCRUB = rf"""
WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         text
         || (CASE WHEN doc_id % 3 = 0
              THEN ' contact alice.' || CAST(doc_id AS VARCHAR) || '@Example-Mail.org'
              ELSE '' END)
         || (CASE WHEN doc_id % 4 = 0
              THEN ' call +1 (555) 010-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              ELSE '' END)
         || (CASE WHEN doc_id % 5 = 0
              THEN ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                   || '.' || CAST(doc_id % 100 AS VARCHAR)
              ELSE '' END) AS text
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS INTEGER) AS n_emails,
       CAST(len(regexp_extract_all(text, '{_PII_IPV4}')) AS INTEGER) AS n_ipv4,
       CAST(len(regexp_extract_all(text, '{_PII_PHONE}')) AS INTEGER) AS n_phones,
       md5(regexp_replace(regexp_replace(regexp_replace(text,
           '{_PII_EMAIL}', '<EMAIL>', 'g'),
           '{_PII_IPV4}', '<IP>', 'g'),
           '{_PII_PHONE}', '<PHONE>', 'g')) AS redacted_digest
FROM d
"""

SQL_DEDUP_KEEP_BEST = (
    "WITH RECURSIVE "
    + _DOCS
    + ","
    + _DEDUP_MINHASH_VERIFIED
    + r""",
edges AS (SELECT id1 AS u, id2 AS v FROM verified WHERE jaccard >= 0.7),
"""
    + _closure("edges")
    + r""",
clusters AS (
  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS dup_group
  FROM (SELECT doc_id FROM docs) d LEFT JOIN comp c ON d.doc_id = c.node
),
tq0 AS (
  SELECT doc_id, text,
         regexp_split_to_array(trim(text), '\s+') AS toks,
         CAST(len(text) AS INTEGER) AS n_chars,
         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INTEGER) AS n_tokens
  FROM docs
),
tq1 AS (
  SELECT doc_id, n_chars, n_tokens,
         round((n_chars - len(regexp_replace(text, '[^\w\s]', '', 'g')))
               / CAST(n_chars AS DOUBLE), 6) AS punct_ratio,
         round((n_chars - len(regexp_replace(text, '[0-9]', '', 'g')))
               / CAST(n_chars AS DOUBLE), 6) AS digit_ratio,
         round(len(list_distinct(toks)) / CAST(n_tokens AS DOUBLE), 6) AS uniq_token_ratio,
         round(len(list_filter(toks, x -> list_contains(
                 ['the','and','of','to','a','in','is','that','it','for'], lower(x))))
               / CAST(n_tokens AS DOUBLE), 6) AS stopword_ratio
  FROM tq0
),
quality AS (
  SELECT doc_id,
         round(0.25 * least(n_tokens / 50.0, 1.0)
               + 0.25 * (1.0 - least(punct_ratio * 4.0, 1.0))
               + 0.2 * (1.0 - least(digit_ratio * 4.0, 1.0))
               + 0.15 * uniq_token_ratio
               + 0.15 * least(stopword_ratio * 5.0, 1.0), 6) AS quality
  FROM tq1
)
SELECT dup_group, keep_doc_id, quality, n_members FROM (
  SELECT cl.dup_group, cl.doc_id AS keep_doc_id, q.quality,
         row_number() OVER (PARTITION BY cl.dup_group
                            ORDER BY q.quality DESC, cl.doc_id ASC) AS rk,
         count(*) OVER (PARTITION BY cl.dup_group) AS n_members
  FROM clusters cl JOIN quality q ON cl.doc_id = q.doc_id
) WHERE rk = 1
"""
)

# --------------------------------------------------------------------------
# Similarity
# --------------------------------------------------------------------------

SQL_SIMILARITY_TOPK = r"""
WITH e AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings
),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 8),
s AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         list_dot_product(e.v, q.qv) /
           (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv)))
           AS cos_sim
  FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, round(cos_sim, 6) AS cos_sim,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rank
FROM s
QUALIFY rank <= 10
"""

def _dd_plane_dot(p: int) -> str:
    """DuckDB twin of operators/similarity.plane_component folded into a
    dot product against plane p (only the SIGN is consumed downstream)."""
    h = (
        f"CAST(CAST('0x' || substr(md5('{p}|' || CAST(i - 1 AS VARCHAR)), 1, 15)"
        " AS UBIGINT) AS BIGINT)"
    )
    return (
        "list_sum(list_transform(generate_series(1, len(v)), "
        f"i -> v[i] * (({h} / 576460752303423488.0) - 1.0)))"
    )


_LSH_BUCKET_EXPR = "CAST(" + " + ".join(
    f"(CASE WHEN ({_dd_plane_dot(p)}) >= 0 THEN {1 << p} ELSE 0 END)" for p in range(4)
) + " AS BIGINT)"

SQL_SIMILARITY_LSH_BUCKETS = (
    r"""
WITH e AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings
)
SELECT vec_id, """
    + _LSH_BUCKET_EXPR
    + " AS bucket FROM e"
)

SQL_EVAL_BCUBED = (
    r"""
WITH e AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(embedding AS DOUBLE[]) AS v,
         CAST(label AS BIGINT) AS entity
  FROM embeddings
),
m AS (SELECT vec_id, """
    + _LSH_BUCKET_EXPR
    + r""" AS cluster_id, entity FROM e),
cell AS (SELECT cluster_id, entity, count(*) AS ov FROM m GROUP BY cluster_id, entity),
csz AS (SELECT cluster_id, count(*) AS cn FROM m GROUP BY cluster_id),
esz AS (SELECT entity, count(*) AS en FROM m GROUP BY entity),
per AS (
  SELECT ov / CAST(cn AS DOUBLE) AS p, ov / CAST(en AS DOUBLE) AS r
  FROM m JOIN cell USING (cluster_id, entity)
         JOIN csz USING (cluster_id) JOIN esz USING (entity)
),
agg AS (SELECT round(avg(p), 6) AS precision, round(avg(r), 6) AS recall FROM per)
SELECT precision, recall,
       round(2 * precision * recall / (precision + recall), 6) AS f1
FROM agg
"""
)

SQL_EVAL_BLANC = (
    r"""
WITH e AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(embedding AS DOUBLE[]) AS v,
         CAST(label AS BIGINT) AS entity
  FROM embeddings
),
m AS (SELECT vec_id, """
    + _LSH_BUCKET_EXPR
    + r""" AS cluster_id, entity FROM e),
b2 AS (SELECT CAST(sum(n * (n - 1)) AS BIGINT) AS b2 FROM
        (SELECT count(*) AS n FROM m GROUP BY cluster_id, entity)),
a2 AS (SELECT CAST(sum(n * (n - 1)) AS BIGINT) AS a2 FROM
        (SELECT count(*) AS n FROM m GROUP BY cluster_id)),
g2 AS (SELECT CAST(sum(n * (n - 1)) AS BIGINT) AS g2 FROM
        (SELECT count(*) AS n FROM m GROUP BY entity)),
t2 AS (SELECT CAST(count(*) * (count(*) - 1) AS BIGINT) AS t2 FROM m),
s AS (SELECT * FROM b2, a2, g2, t2),
c AS (
  SELECT b2 / CAST(a2 AS DOUBLE) AS pc, b2 / CAST(g2 AS DOUBLE) AS rc,
         (t2 - a2 - g2 + b2) / CAST(t2 - a2 AS DOUBLE) AS pn,
         (t2 - a2 - g2 + b2) / CAST(t2 - g2 AS DOUBLE) AS rn
  FROM s
)
SELECT round(pc, 6) AS p_coref, round(rc, 6) AS r_coref,
       round(2 * pc * rc / (pc + rc), 6) AS f_coref,
       round(pn, 6) AS p_non, round(rn, 6) AS r_non,
       round(2 * pn * rn / (pn + rn), 6) AS f_non,
       round((2 * pc * rc / (pc + rc) + 2 * pn * rn / (pn + rn)) / 2, 6) AS blanc
FROM c
"""
)

SQL_EVAL_LINKING_F1 = (
    r"""
WITH e AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(embedding AS DOUBLE[]) AS v,
         CAST(label AS BIGINT) AS entity
  FROM embeddings
),
m AS (SELECT vec_id, """
    + _LSH_BUCKET_EXPR
    + r""" AS cluster_id, entity FROM e),
cell AS (SELECT cluster_id, entity, count(*) AS n FROM m GROUP BY cluster_id, entity),
maj AS (
  SELECT cluster_id, entity AS pred FROM (
    SELECT cluster_id, entity,
           row_number() OVER (PARTITION BY cluster_id ORDER BY n DESC, entity ASC) AS rk
    FROM cell
  ) WHERE rk = 1
),
pred AS (SELECT m.vec_id, m.entity, maj.pred FROM m JOIN maj USING (cluster_id)),
gold_n AS (SELECT entity, count(*) AS gn FROM pred GROUP BY entity),
pred_n AS (SELECT pred AS entity, count(*) AS an FROM pred GROUP BY pred),
correct AS (SELECT entity, count(*) AS c FROM pred WHERE entity = pred GROUP BY entity),
per AS (
  SELECT CAST(g.entity AS VARCHAR) AS label,
         coalesce(c.c, 0) AS c, g.gn, coalesce(p.an, 0) AS an
  FROM gold_n g LEFT JOIN pred_n p ON g.entity = p.entity
                LEFT JOIN correct c ON g.entity = c.entity
),
rows_ AS (
  SELECT label,
         round(CASE WHEN an > 0 THEN c / CAST(an AS DOUBLE) ELSE 0.0 END, 6) AS precision,
         round(CASE WHEN gn > 0 THEN c / CAST(gn AS DOUBLE) ELSE 0.0 END, 6) AS recall,
         round(CASE WHEN (CASE WHEN an > 0 THEN c / CAST(an AS DOUBLE) ELSE 0.0 END)
                       + (CASE WHEN gn > 0 THEN c / CAST(gn AS DOUBLE) ELSE 0.0 END) > 0
               THEN 2 * (CASE WHEN an > 0 THEN c / CAST(an AS DOUBLE) ELSE 0.0 END)
                      * (CASE WHEN gn > 0 THEN c / CAST(gn AS DOUBLE) ELSE 0.0 END)
                    / ((CASE WHEN an > 0 THEN c / CAST(an AS DOUBLE) ELSE 0.0 END)
                       + (CASE WHEN gn > 0 THEN c / CAST(gn AS DOUBLE) ELSE 0.0 END))
               ELSE 0.0 END, 6) AS f1
  FROM per
),
macro AS (
  SELECT '#macro#' AS label,
         round(sum(c) / CAST(sum(an) AS DOUBLE), 6) AS precision,
         round(sum(c) / CAST(sum(gn) AS DOUBLE), 6) AS recall,
         round(2 * (sum(c) / CAST(sum(an) AS DOUBLE)) * (sum(c) / CAST(sum(gn) AS DOUBLE))
               / ((sum(c) / CAST(sum(an) AS DOUBLE)) + (sum(c) / CAST(sum(gn) AS DOUBLE))),
               6) AS f1
  FROM per
)
SELECT * FROM rows_ UNION ALL SELECT * FROM macro
"""
)

# twin of ivf_topk(n_centroids=16, nprobe=4, k=10): md5-exemplar codebook,
# nearest-centroid inverted lists, nprobe probes, exact rerank
SQL_SIMILARITY_IVF = r"""
WITH e AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings
),
cents AS (
  SELECT vec_id AS cid, v AS cvec FROM e
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
),
lists AS (
  SELECT vec_id AS neighbor_id, v AS cv, cid FROM (
    SELECT e.vec_id, e.v, c.cid,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_dot_product(e.v, c.cvec) /
                      (sqrt(list_dot_product(e.v, e.v)) *
                       sqrt(list_dot_product(c.cvec, c.cvec))) DESC, c.cid
           ) AS crk
    FROM e CROSS JOIN cents c
  ) WHERE crk = 1
),
probes AS (
  SELECT vec_id AS query_id, v AS qv, cid FROM (
    SELECT e.vec_id, e.v, c.cid,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_dot_product(e.v, c.cvec) /
                      (sqrt(list_dot_product(e.v, e.v)) *
                       sqrt(list_dot_product(c.cvec, c.cvec))) DESC, c.cid
           ) AS crk
    FROM e CROSS JOIN cents c
    WHERE e.vec_id < 8
  ) WHERE crk <= 4
),
s AS (
  SELECT p.query_id, l.neighbor_id,
         list_dot_product(l.cv, p.qv) /
           (sqrt(list_dot_product(l.cv, l.cv)) * sqrt(list_dot_product(p.qv, p.qv)))
           AS cos_sim
  FROM lists l JOIN probes p USING (cid)
  WHERE l.neighbor_id <> p.query_id
)
SELECT query_id, neighbor_id, round(cos_sim, 6) AS cos_sim,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rank
FROM s
QUALIFY rank <= 10
"""

# twin of q_eval_pairf1_multi: membership sets {bucket(planes 0-3),
# bucket(planes 4-7)} intersect ⇒ predicted coreferent; gold = label equality
SQL_EVAL_PAIRF1_MULTI = f"""
WITH e AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(embedding AS DOUBLE[]) AS v,
         CAST(label AS BIGINT) AS label
  FROM embeddings
),
vv AS (
  SELECT vec_id, label, {_dd_sign_bucket(4, 0)} AS b0, {_dd_sign_bucket(4, 4)} AS b1
  FROM e
),
p AS (
  SELECT (a.b0 = b.b0 OR a.b1 = b.b1) AS pred, (a.label = b.label) AS gold
  FROM vv a JOIN vv b ON a.vec_id < b.vec_id
),
agg AS (
  SELECT sum(CASE WHEN pred AND gold THEN 1 ELSE 0 END) AS tp,
         sum(CASE WHEN pred AND NOT gold THEN 1 ELSE 0 END) AS fp,
         sum(CASE WHEN NOT pred AND gold THEN 1 ELSE 0 END) AS fn
  FROM p
)
SELECT CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp, CAST(fn AS BIGINT) AS fn,
       round(tp / CAST(tp + fp AS DOUBLE), 6) AS precision,
       round(tp / CAST(tp + fn AS DOUBLE), 6) AS recall,
       round(2.0 * tp / (2.0 * tp + fp + fn), 6) AS f1
FROM agg
"""

SQL_EVENTS_JSON_PROPS = r"""
SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS prop_k
FROM events
"""

SQL_TEXT_VOCAB = r"""
SELECT tok AS token, count(*) AS n
FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok FROM documents)
GROUP BY tok
"""

# --------------------------------------------------------------------------
# As-of / windows / events
# --------------------------------------------------------------------------

SQL_ASOF_PREV_EVENT = r"""
SELECT event_id, ts, user_id, event_type, value, props,
       last_value(CASE WHEN event_type = 'click' THEN value END IGNORE NULLS)
         OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_click_value
FROM events
"""

SQL_ASOF_JOIN_EVENTS = r"""
SELECT l.event_id, l.ts, l.user_id, l.event_type, l.value, l.props,
       r.value AS asof_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') l
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') r
  ON l.user_id = r.user_id AND l.ts > r.ts
"""

SQL_EVENTS_TUMBLING = r"""
SELECT date_trunc('hour', ts) AS window_start,
       date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
       event_type, count(*) AS n_events, round(sum(value), 6) AS sum_value
FROM events
GROUP BY 1, 2, 3
"""

SQL_EVENTS_HOPPING = r"""
WITH w AS (
  SELECT event_type, value, time_bucket(INTERVAL 30 MINUTE, ts) AS ws
  FROM events
  UNION ALL
  SELECT event_type, value,
         time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE AS ws
  FROM events
)
SELECT ws AS window_start, ws + INTERVAL 1 HOUR AS window_end, event_type,
       CAST(count(*) AS BIGINT) AS n_events, round(sum(value), 6) AS sum_value
FROM w GROUP BY 1, 2, 3
"""


SQL_QUALITY_GATE = (
    "SELECT s.doc_id, s.quality, r.dup5_frac, l.lang_pred,\n"
    "       (s.quality >= 0.5 AND r.dup5_frac <= 0.3 AND r.top2_char_frac <= 0.2\n"
    "        AND l.lang_pred = 'en' AND s.n_tokens BETWEEN 10 AND 100000) AS keep\n"
    "FROM (" + SQL_TEXT_STATS + ") s\n"
    "JOIN (" + SQL_TEXT_REPETITION + ") r ON s.doc_id = r.doc_id\n"
    "JOIN (" + SQL_TEXT_LANGUAGE_ID + ") l ON s.doc_id = l.doc_id\n"
)

_DD_U60 = (
    "CAST(CAST('0x' || substr(md5('{salt}|' || CAST({key} AS VARCHAR)), 1, 15) "
    "AS UBIGINT) AS BIGINT) / 1152921504606846976.0"
)

SQL_SAMPLE_STRATIFIED = rf"""
SELECT doc_id, lang
FROM documents
WHERE {_DD_U60.format(salt="strat", key="doc_id")} <
      CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.25
                WHEN 'zh' THEN 0.1 WHEN 'es' THEN 1.0 ELSE 0.0 END
"""

SQL_MIX_CORPORA = rf"""
WITH kept AS (
  SELECT source FROM documents
  WHERE {_DD_U60.format(salt="mix", key="doc_id")} <
        CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.5
                    WHEN 'src2' THEN 0.25 WHEN 'src3' THEN 0.1 ELSE 0.0 END
),
tot AS (SELECT source, count(*) AS n_total FROM documents GROUP BY source),
k AS (SELECT source, count(*) AS n_kept FROM kept GROUP BY source)
SELECT t.source, t.n_total, COALESCE(k.n_kept, 0) AS n_kept,
       round(COALESCE(k.n_kept, 0) / CAST(t.n_total AS DOUBLE), 6) AS realized_rate
FROM tot t LEFT JOIN k USING (source)
"""

# exact twin of curation.pack_sequences(budget=512, n_subshards=4):
# packing order key and subshard are the engine's md5 primitives; start
# is the exclusive window cumsum; integer division (//) mirrors Spark's
# DIV so the binning stays exact past 2^53 token streams
SQL_PACK_SEQUENCES = r"""
WITH d AS (
  SELECT doc_id, lang AS shard,
         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INTEGER) AS n_tokens,
         CAST(CAST('0x' || substr(md5('pack|' || CAST(doc_id AS VARCHAR)), 1, 15)
           AS UBIGINT) AS BIGINT) AS okey
  FROM documents
),
d2 AS (SELECT *, CAST(okey % 4 AS INTEGER) AS subshard FROM d),
d3 AS (
  SELECT *, CAST(coalesce(sum(n_tokens) OVER (
           PARTITION BY shard, subshard ORDER BY okey, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start
  FROM d2
)
SELECT doc_id, shard, subshard, n_tokens,
       CAST(start // 512 AS BIGINT) AS seq_index,
       CAST(start % 512 AS BIGINT) AS offset_in_seq
FROM d3
"""

# exact twin of curation.strip_common_chunks(chunk_tokens=10, min_docs=3)
# over the augmented corpus; chunk hash = engine h_hex; clean_digest =
# md5 of retained chunks in index order (string_agg skips NULLs — the
# same semantics as Spark's null-skipping collect_list)
SQL_STRIP_COMMON_CHUNKS = (
    "WITH "
    + _DOCS
    + r""",
tok AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM docs
),
ch AS (
  SELECT doc_id, CAST(i AS INTEGER) AS idx,
         array_to_string(list_slice(t, (CAST(i AS INTEGER) - 1) * 10 + 1,
                                       (CAST(i AS INTEGER) - 1) * 10 + 10), ' ') AS chunk
  FROM tok, unnest(generate_series(1, greatest((len(t) + 9) // 10, 1))) AS u(i)
),
ch2 AS (SELECT *, substr(md5(chunk), 1, 15) AS chash FROM ch),
f AS (
  SELECT chash, count(DISTINCT doc_id) AS doc_freq FROM ch2 GROUP BY chash
),
fl AS (
  SELECT ch2.doc_id, ch2.idx, ch2.chunk, f.doc_freq >= 3 AS common
  FROM ch2 JOIN f USING (chash)
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(CASE WHEN common THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
       round(sum(CASE WHEN common THEN 1 ELSE 0 END) /
             CAST(count(*) AS DOUBLE), 6) AS common_frac,
       md5(coalesce(string_agg(CASE WHEN NOT common THEN chunk END, ' '
                               ORDER BY idx), '')) AS clean_digest
FROM fl GROUP BY doc_id
"""
)

# exact twin of curation.domain_cap(cap=100, domain=source): the keep
# rate division is forced to DOUBLE (DuckDB's literal 100.0 would be
# DECIMAL and could disagree with Spark's double in the low bits that
# decide a draw's membership)
SQL_DOMAIN_CAP = rf"""
WITH tot AS (
  SELECT lang AS domain, count(*) AS n_total FROM documents GROUP BY lang
),
rate AS (
  SELECT domain, n_total,
         least(CAST(1 AS DOUBLE), CAST(100 AS DOUBLE) / n_total) AS keep_rate
  FROM tot
),
kept AS (
  SELECT d.lang AS domain, count(*) AS n_kept
  FROM documents d JOIN rate r ON d.lang = r.domain
  WHERE {_DD_U60.format(salt="domcap", key="doc_id")} < r.keep_rate
  GROUP BY d.lang
)
SELECT r.domain, r.n_total, round(r.keep_rate, 6) AS keep_rate,
       coalesce(k.n_kept, 0) AS n_kept,
       round(coalesce(k.n_kept, 0) / CAST(r.n_total AS DOUBLE), 6) AS realized_rate
FROM rate r LEFT JOIN kept k USING (domain)
"""

# exact twin of textstats.dsir_weights(target = source='src0',
# n_buckets=1024, alpha=0.5): bucket = engine h_long mod 1024; all
# smoothing arithmetic forced to DOUBLE (Spark's literals are doubles);
# ln-vs-Math.log agree within ulps absorbed by the 6-dp rounding (the
# same discipline SQL_TEXT_LM_SCORE already proves out)
SQL_DSIR_WEIGHTS = r"""
WITH d AS (
  SELECT doc_id, (source = 'src0') AS is_target,
         regexp_split_to_array(trim(text), '\s+') AS t
  FROM documents
),
g AS (
  SELECT doc_id, is_target, t[CAST(i AS INTEGER)] AS gram
  FROM d, unnest(generate_series(1, len(t))) AS u(i)
  UNION ALL
  SELECT doc_id, is_target,
         array_to_string(list_slice(t, CAST(i AS INTEGER),
                                       CAST(i AS INTEGER) + 1), ' ') AS gram
  FROM d, unnest(generate_series(1, len(t) - 1)) AS u(i)
  WHERE len(t) >= 2
),
gb AS (
  SELECT doc_id, is_target,
         CAST(CAST(CAST('0x' || substr(md5(CAST(gram AS VARCHAR)), 1, 15)
           AS UBIGINT) AS BIGINT) % 1024 AS INTEGER) AS bucket
  FROM g
),
c AS (
  SELECT bucket, count(*) AS cnt_raw,
         sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS cnt_tgt
  FROM gb GROUP BY bucket
),
tt AS (SELECT sum(cnt_raw) AS tot_raw, sum(cnt_tgt) AS tot_tgt FROM c),
m AS (
  SELECT bucket,
         ln((cnt_tgt + CAST(0.5 AS DOUBLE)) / (tot_tgt + CAST(512 AS DOUBLE)))
         - ln((cnt_raw + CAST(0.5 AS DOUBLE)) / (tot_raw + CAST(512 AS DOUBLE)))
         AS log_ratio
  FROM c, tt
),
sc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
         round(sum(log_ratio), 6) AS dsir_logw
  FROM gb JOIN m USING (bucket) GROUP BY doc_id
)
SELECT d.doc_id, d.is_target, coalesce(sc.n_feats, 0) AS n_feats, sc.dsir_logw
FROM d LEFT JOIN sc USING (doc_id)
"""

# exact twin of curation.blocklist_filter(('slow','dup','spam'))
SQL_BLOCKLIST_FILTER = r"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents
),
h AS (
  SELECT doc_id, CAST(len(toks) AS INTEGER) AS n,
         CAST(len(list_filter(toks, x -> lower(x) IN ('slow', 'dup', 'spam')))
              AS BIGINT) AS n_blocked
  FROM t
)
SELECT doc_id, n_blocked,
       round(CASE WHEN n > 0 THEN n_blocked / CAST(n AS DOUBLE) ELSE 0.0 END,
             6) AS blocked_frac,
       n_blocked = 0 AS keep
FROM h
"""

# exact twin of textstats.bpe_pair_counts(top_k=20): word counts over
# the corpus, char pairs per distinct word (len >= 2), weighted pair agg,
# deterministic (count desc, pair asc) top-20
SQL_BPE_PAIR_COUNTS = r"""
WITH w AS (
  SELECT word, count(*) AS wf FROM (
    SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS word
    FROM documents
  ) GROUP BY word HAVING length(word) >= 2
),
p AS (
  SELECT substr(word, CAST(i AS INTEGER), 2) AS pair, wf, word
  FROM w, unnest(generate_series(1, length(word) - 1)) AS u(i)
)
SELECT pair, CAST(sum(wf) AS BIGINT) AS n_occurrences,
       CAST(count(DISTINCT word) AS BIGINT) AS n_words
FROM p GROUP BY pair
ORDER BY n_occurrences DESC, pair ASC
LIMIT 20
"""

# exact twin of textstats.winnow_fingerprint(k=5, w=4): gram hash =
# engine h_long of each 5-char substring; per-window minima over 4-hash
# windows; distinct set reduced by bit_xor (order-free, overflow-free)
SQL_WINNOW_FINGERPRINT = r"""
WITH t AS (
  SELECT doc_id, lower(trim(text)) AS s FROM documents
),
hl AS (
  SELECT doc_id,
         CASE WHEN length(s) >= 5 THEN
           list_transform(generate_series(1, length(s) - 4),
             i -> CAST(CAST('0x' || substr(md5(substr(s, CAST(i AS INTEGER), 5)),
               1, 15) AS UBIGINT) AS BIGINT))
         ELSE CAST([] AS BIGINT[]) END AS hashes
  FROM t
),
sl AS (
  SELECT doc_id,
         CASE WHEN len(hashes) >= 1 THEN
           list_distinct(list_transform(
             generate_series(1, greatest(len(hashes) - 3, 1)),
             j -> list_min(list_slice(hashes, CAST(j AS INTEGER),
                                              CAST(j AS INTEGER) + 3))))
         ELSE CAST([] AS BIGINT[]) END AS sel
  FROM hl
),
agg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fingerprints,
         CAST(bit_xor(x) AS BIGINT) AS fp_digest
  FROM (SELECT doc_id, unnest(sel) AS x FROM sl) GROUP BY doc_id
)
SELECT sl.doc_id, coalesce(a.n_fingerprints, 0) AS n_fingerprints,
       coalesce(a.fp_digest, 0) AS fp_digest
FROM sl LEFT JOIN agg a USING (doc_id)
"""

SQL_EVENTS_FUNNEL = r"""
WITH seq AS (
  SELECT user_id,
         string_agg(event_type, '>' ORDER BY ts, event_id, event_type) AS path
  FROM events GROUP BY user_id
)
SELECT CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(CASE WHEN regexp_matches(path, '(^|>)view(>|$)') THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
       CAST(sum(CASE WHEN regexp_matches(path, '(^|>)view>(.*>)?click(>|$)') THEN 1 ELSE 0 END) AS BIGINT) AS n_view_click,
       CAST(sum(CASE WHEN regexp_matches(path, '(^|>)view>(.*>)?click>(.*>)?purchase(>|$)') THEN 1 ELSE 0 END) AS BIGINT) AS n_view_click_purchase
FROM seq
"""

SQL_EVENTS_QUANTILES = r"""
SELECT event_type,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.9), 6) AS p90,
       round(quantile_cont(value, 0.99), 6) AS p99,
       CAST(count(*) AS BIGINT) AS n_events
FROM events GROUP BY event_type
"""

SQL_EVENTS_SESSIONS = r"""
WITH o AS (
  SELECT user_id, ts, value, event_id,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL 10 MINUTE
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
s AS (
  -- the cumsum window MUST use the same (ts, event_id) tiebreaker as the
  -- lag CTE: with ts-only ordering, duplicate timestamps at a session
  -- boundary could order the new_session=1 row after its tie-mates and
  -- split sessions nondeterministically.
  SELECT user_id, ts, value,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM o
)
SELECT user_id, min(ts) AS session_start,
       max(ts) + INTERVAL 10 MINUTE AS session_end,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 6) AS sum_value
FROM s GROUP BY user_id, session_id
"""

SQL_EVENTS_ROLLUP = r"""
WITH e AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, value
  FROM events
)
SELECT event_type, day,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 6) AS sum_value,
       CAST(grouping(event_type) * 2 + grouping(day) AS BIGINT) AS gid
FROM e
GROUP BY ROLLUP (event_type, day)
"""

SQL_EVENTS_NEIGHBORS = r"""
SELECT event_id, user_id, ts,
       lag(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_event_id,
       lead(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_event_id
FROM events
"""

# --------------------------------------------------------------------------
# Relational coverage
# --------------------------------------------------------------------------

SQL_ORDERS_SPLIT_ROUTING = r"""
SELECT CASE WHEN o_orderdate < TIMESTAMP '1996-01-01' THEN 'trn'
            WHEN o_orderdate < TIMESTAMP '1997-01-01' THEN 'dev'
            ELSE 'tst' END AS split,
       count(*) AS n_orders, count(DISTINCT o_custkey) AS n_customers
FROM orders GROUP BY 1
"""

SQL_EVENTS_TYPE_SHARE = r"""
WITH per AS (
  SELECT user_id, event_type, count(*) AS n FROM events GROUP BY user_id, event_type
),
tot AS (SELECT user_id, count(*) AS total FROM events GROUP BY user_id)
SELECT per.user_id, per.event_type, per.n,
       round(per.n / CAST(tot.total AS DOUBLE), 6) AS share
FROM per JOIN tot USING (user_id)
"""

SQL_TPCH_Q1 = r"""
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
         AS sum_disc_price,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6)))
         AS DOUBLE) AS sum_charge,
       round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6)
         AS avg_qty,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6)
         AS avg_price,
       round(CAST(sum(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6)
         AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""

SQL_TPCH_Q6 = r"""
SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) AS DOUBLE)
         AS revenue,
       count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
"""

SQL_TPCH_Q3 = r"""
SELECT l.l_orderkey, o.o_orderdate,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
         AS DOUBLE) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l.l_shipdate  > TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l.l_orderkey, o.o_orderdate
ORDER BY revenue DESC, l.l_orderkey
LIMIT 10
"""

SQL_ORDER_ENRICH_BROADCAST = r"""
SELECT o.o_orderkey, o.o_totalprice, c.c_name, n.n_name
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
"""

SQL_TOP_ORDERS_PER_CUST = r"""
SELECT o_custkey, o_orderkey, o_totalprice, CAST(rk AS INTEGER) AS rk
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rk
  FROM orders
)
WHERE rk <= 3
"""

SQL_CUST_NO_ORDERS = r"""
SELECT c_custkey, c_name
FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P'
)
"""


def _bloom_semijoin_sql(m_bits: int = 256, g: int = 3) -> str:
    """Twin of q_bloom_semijoin (bloom.bloom_semijoin_stats over
    high-balance customers → orders): identical md5 positions
    ('bloom{i}|key' % m_bits), 32-bit words via bit_or, literal-array
    membership masks, and the exact semi-join comparison."""

    def _p(i: int, key: str) -> str:
        h = f"CAST(CAST('0x' || substr(md5('bloom{i}|' || CAST({key} AS VARCHAR)), 1, 15) AS UBIGINT) AS BIGINT)"
        return f"({h} % {m_bits})"

    pos_union = "\n  UNION ALL\n".join(
        f"  SELECT {_p(i, 'k')} AS p FROM bk" for i in range(g)
    )
    tests = " AND ".join(
        f"(warr.arr[{_p(i, 'o.o_custkey')} // 32 + 1]"
        f" & (CAST(1 AS BIGINT) << CAST({_p(i, 'o.o_custkey')} % 32 AS INTEGER))) <> 0"
        for i in range(g)
    )
    return f"""
WITH bk AS (
  SELECT DISTINCT c_custkey AS k FROM customer
  WHERE c_acctbal > 9900 AND c_custkey IS NOT NULL
),
pos AS (
{pos_union}
),
wt AS (
  SELECT p // 32 AS w,
         bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INTEGER)) AS m
  FROM pos GROUP BY p // 32
),
warr AS (
  SELECT list(coalesce(wt.m, 0) ORDER BY gs.i) AS arr
  FROM unnest(generate_series(0, {m_bits // 32 - 1})) AS gs(i)
  LEFT JOIN wt ON wt.w = gs.i
),
flags AS (
  SELECT ({tests}) AS pass,
         (bk.k IS NOT NULL) AS matched
  FROM orders o
  CROSS JOIN warr
  LEFT JOIN bk ON o.o_custkey = bk.k
)
SELECT CAST((SELECT count(*) FROM bk) AS BIGINT) AS n_build_keys,
       CAST(count(*) AS BIGINT) AS n_probe_rows,
       CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
       CAST(sum(CASE WHEN matched THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
       CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END)
            - sum(CASE WHEN matched THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos
FROM flags
"""


SQL_BLOOM_SEMIJOIN = _bloom_semijoin_sql(256, 3)

# --------------------------------------------------------------------------
# Multimodal plan + cluster pooling
# --------------------------------------------------------------------------

# mirrors multimodal.synthetic_media(n=24) (video = i%3==2, frames=30*(i+1))
# + frame_sample_plan(every_n=10)
SQL_MEDIA_FRAME_PLAN = r"""
SELECT CAST(i AS BIGINT) AS media_id,
       CAST(unnest(generate_series(0, 30 * (CAST(i AS INTEGER) + 1) - 1, 10))
            AS INTEGER) AS frame_idx
FROM range(0, 24) t(i)
WHERE i % 3 = 2
"""

SQL_CLUSTER_EMBEDDINGS = r"""
WITH e AS (
  SELECT CAST(label AS BIGINT) AS cluster_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings
),
s AS (
  SELECT cluster_id, t.i - 1 AS slot, v[t.i] AS val
  FROM e, unnest(generate_series(1, len(v))) AS t(i)
),
a AS (
  SELECT cluster_id, slot, avg(val) AS mean_v, max(val) AS max_v
  FROM s GROUP BY cluster_id, slot
)
SELECT cluster_id,
       string_agg(CAST(CAST(round(mean_v * 1000000) AS BIGINT) AS VARCHAR),
                  ',' ORDER BY slot) AS emb_mean,
       string_agg(CAST(CAST(round(max_v * 1000000) AS BIGINT) AS VARCHAR),
                  ',' ORDER BY slot) AS emb_max
FROM a GROUP BY cluster_id
"""


def _dd_media_feature(d: int) -> str:
    """DuckDB twin of multimodal._fake_decode feature d (little-endian u4
    at byte offset 4d of the repeated digest → float32 → integer micros)."""
    j = (4 * d) % 16  # the 64-byte window is the 16-byte digest repeated 4x
    hexpairs = " || ".join(f"substr(hx, {2 * (j + k) + 1}, 2)" for k in (3, 2, 1, 0))
    u4 = f"CAST(CAST('0x' || {hexpairs} AS UBIGINT) AS BIGINT)"
    return (
        f"CAST(round(CAST(CAST({u4} / 4294967296.0 AS REAL) AS DOUBLE)"
        " * 1000000) AS BIGINT)"
    )


# mirrors multimodal.synthetic_media(n=24, seed=7): payload = ascii hexdigest
# of md5('7|i') repeated (i%5+1) times; features = _fake_decode(payload)
SQL_MEDIA_FEATURES = (
    r"""
WITH base AS (
  SELECT CAST(i AS BIGINT) AS media_id,
         CASE CAST(i AS INTEGER) % 3 WHEN 0 THEN 'image'
                                     WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         CAST(i AS INTEGER) % 5 + 1 AS reps,
         md5('7|' || CAST(i AS VARCHAR)) AS ph
  FROM range(0, 24) t(i)
),
d AS (
  SELECT media_id, kind, CAST(32 * reps AS INTEGER) AS n_bytes,
         md5(repeat(ph, reps)) AS hx
  FROM base
)
SELECT media_id, kind, n_bytes, hx AS digest,
       array_to_string(["""
    + ", ".join(f"CAST({_dd_media_feature(d)} AS VARCHAR)" for d in range(16))
    + r"""], ',') AS features
FROM d
"""
)


def _dd_table_bucket_bits(t: int, n_planes: int = 6) -> str:
    """DuckDB twin of similarity.ann_topk's per-table bucket INT (sign
    bits over planes t*n_planes .. t*n_planes+n_planes-1)."""
    bits = []
    for p in range(n_planes):
        plane = t * n_planes + p
        h = (
            f"CAST(CAST('0x' || substr(md5('{plane}|' || CAST(i - 1 AS VARCHAR)), 1, 15)"
            " AS UBIGINT) AS BIGINT)"
        )
        dot = (
            "list_sum(list_transform(generate_series(1, len(v)), "
            f"i -> v[i] * (({h} / 576460752303423488.0) - 1.0)))"
        )
        bits.append(f"(CASE WHEN ({dot}) >= 0 THEN {1 << p} ELSE 0 END)")
    return "(" + " + ".join(bits) + ")"


def _dd_table_bucket(t: int, n_planes: int = 6) -> str:
    """Per-table bucket string: 't<t>:' + the sign-bit integer."""
    return f"'t{t}:' || CAST({_dd_table_bucket_bits(t, n_planes)} AS VARCHAR)"


def _ann_sql(
    k: int,
    n_planes: int = 4,
    multiprobe: bool = False,
    query_where: str | None = "vec_id < 8",
    cap: int | None = None,
) -> str:
    """Twin of similarity.ann_topk / knn_graph at n_tables=2: the
    md5-pure hyperplanes make even the approximate path deterministically
    replayable. ``cap`` mirrors max_bucket_size — corpus buckets above
    the cap split into ⌈size/cap⌉ exact sub-buckets (row_number
    round-robin ordered by neighbor_id), each query probe picks ONE
    sub-bucket by the md5 'qsalt' hash, the join runs on (bucket, salt).
    ``query_where=None`` is the corpus-as-queries knn_graph shape."""
    qw = f" WHERE {query_where}" if query_where else ""
    cb = "\n  UNION ALL\n".join(
        f"  SELECT vec_id AS neighbor_id, {_dd_table_bucket(t, n_planes)} AS bucket"
        f" FROM e"
        for t in range(2)
    )
    if multiprobe:
        flips = ", ".join(f"({f})" for f in [0] + [1 << p for p in range(n_planes)])
        qb = "\n  UNION ALL\n".join(
            f"""  SELECT vec_id AS query_id,
         't{t}:' || CAST(xor({_dd_table_bucket_bits(t, n_planes)}, f) AS VARCHAR) AS bucket
  FROM e, (VALUES {flips}) flips(f){qw}"""
            for t in range(2)
        )
    else:
        qb = "\n  UNION ALL\n".join(
            f"  SELECT vec_id AS query_id, {_dd_table_bucket(t, n_planes)} AS bucket"
            f" FROM e{qw}"
            for t in range(2)
        )
    if cap:
        salt_q = dd_h_long("'qsalt|' || CAST(query_id AS VARCHAR) || '|' || bucket")
        cand = f"""cbs AS (
  SELECT neighbor_id, bucket,
         CAST(ceil(CAST(count(*) OVER (PARTITION BY bucket) AS DOUBLE) / {cap})
              AS BIGINT) AS nsplit,
         row_number() OVER (PARTITION BY bucket ORDER BY neighbor_id) - 1 AS rn0
  FROM cb
),
cbx AS (SELECT neighbor_id, bucket, nsplit, rn0 % nsplit AS salt FROM cbs),
sizes AS (SELECT DISTINCT bucket, nsplit FROM cbx),
qbx AS (
  SELECT query_id, bucket, {salt_q} % nsplit AS salt
  FROM qb JOIN sizes USING (bucket)
),
cand AS (
  SELECT DISTINCT query_id, neighbor_id
  FROM cbx JOIN qbx USING (bucket, salt)
  WHERE neighbor_id <> query_id
)"""
    else:
        cand = """cand AS (
  SELECT DISTINCT query_id, neighbor_id
  FROM cb JOIN qb USING (bucket)
  WHERE neighbor_id <> query_id
)"""
    return f"""
WITH e AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings
),
cb AS (
{cb}
),
qb AS (
{qb}
),
{cand},
s AS (
  SELECT query_id, neighbor_id,
         list_dot_product(c.v, q.v) /
           (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(q.v, q.v)))
           AS cos_sim
  FROM cand JOIN e c ON cand.neighbor_id = c.vec_id
            JOIN e q ON cand.query_id = q.vec_id
)
SELECT query_id, neighbor_id, round(cos_sim, 6) AS cos_sim,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rank
FROM s
QUALIFY rank <= {k}
"""


# exact twin of ann_topk(k=10, n_planes=4, n_tables=2) — the measured-good
# default (recall@10 ≈ 0.19, BENCH.md); cap=1000 is the operator's default
# max_bucket_size (vacuous at the test SFs, exact at any SF)
SQL_SIMILARITY_ANN = _ann_sql(10, 4, multiprobe=False, cap=1000)

# exact twin of ann_topk(k=10, n_planes=4, n_tables=2, multiprobe=True,
# max_bucket_size=32): the query side probes its bucket plus every 1-bit
# flip (xor with 0,1,2,4,8) per table; cap=32 actually splits buckets at
# sf0.01 (max 42) so the salted path is pinned by the value gate
SQL_SIMILARITY_ANN_MULTIPROBE = _ann_sql(10, 4, multiprobe=True, cap=32)

# exact twin of dedup.semantic_dedup(n_centroids=16, tau=0.35): same
# md5-exemplar codebook as similarity_ivf, nearest-centroid assignment,
# drop any vector with a lower-id cluster-mate above tau
SQL_DEDUP_SEMANTIC = r"""
WITH e AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings
),
cents AS (
  SELECT vec_id AS cid, v AS cvec FROM e
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
),
assign AS (
  SELECT vec_id, v, cid FROM (
    SELECT e.vec_id, e.v, c.cid,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_dot_product(e.v, c.cvec) /
                      (sqrt(list_dot_product(e.v, e.v)) *
                       sqrt(list_dot_product(c.cvec, c.cvec))) DESC, c.cid
           ) AS crk
    FROM e CROSS JOIN cents c
  ) WHERE crk = 1
),
drops AS (
  SELECT DISTINCT a.vec_id
  FROM assign a JOIN assign b ON a.cid = b.cid AND b.vec_id < a.vec_id
  WHERE list_dot_product(a.v, b.v) /
          (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
        > 0.35
)
SELECT a.vec_id, a.cid, (d.vec_id IS NULL) AS keep
FROM assign a LEFT JOIN drops d ON a.vec_id = d.vec_id
"""

# exact twin of search.bm25_search(["spark","vector","slow"], k=15,
# k1=1.2, b=0.75): same [a-z0-9]+ tokenization, Lucene idf, rounded
# score as the rank key
SQL_SEARCH_BM25 = r"""
WITH base AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
  FROM documents
),
dl AS (SELECT doc_id, toks, len(toks) AS dl FROM base),
consts AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
postings AS (
  SELECT doc_id, dl, term, count(*) AS tf FROM (
    SELECT doc_id, dl, unnest(toks) AS term FROM dl
  ) WHERE term IN ('spark', 'vector', 'slow')
  GROUP BY doc_id, dl, term
),
df_stats AS (SELECT term, count(DISTINCT doc_id) AS df FROM postings GROUP BY term),
scored AS (
  SELECT p.doc_id,
         CAST(count(*) AS INTEGER) AS n_terms_hit,
         round(sum(
           ln((c.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
           * (p.tf * 2.2)
           / (p.tf + 1.2 * (0.25 + 0.75 * p.dl / c.avgdl))
         ), 6) AS score
  FROM postings p JOIN df_stats d USING (term), consts c
  GROUP BY p.doc_id
)
SELECT doc_id, n_terms_hit, score,
       CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INTEGER) AS rank
FROM scored
QUALIFY rank <= 15
"""

# exact twin of knn_graph(k=5, n_planes=4, n_tables=2, multiprobe=True,
# max_bucket_size=32): the multiprobe query side IS the whole corpus (no
# vec_id filter); the 32-cap salt split is the round-5 skew fix — every
# downstream graph twin (pagerank/bfs/triangles/communities) inherits it
SQL_SIMILARITY_KNN_GRAPH = _ann_sql(5, 4, multiprobe=True, query_where=None, cap=32)

# exact twin of curation.chunk_documents(chunk_tokens=32, overlap=8):
# stride-24 sliding windows over whitespace tokens
SQL_CHUNK_DOCUMENTS = r"""
WITH d AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
)
SELECT doc_id,
       CAST(start / 24 AS INTEGER) AS chunk_id,
       CAST(len(list_slice(t, CAST(start AS INTEGER) + 1,
                           CAST(start AS INTEGER) + 32)) AS INTEGER) AS n_tokens,
       array_to_string(list_slice(t, CAST(start AS INTEGER) + 1,
                                  CAST(start AS INTEGER) + 32), ' ') AS chunk_text
FROM d, unnest(generate_series(0, len(t) - 1, 24)) AS u(start)
"""


def _bpe_ctes(n_merges: int) -> str:
    """Shared CTE chain for the BPE twins: n_merges unrolled rounds of
    pair-count → (count desc, pair asc) argmax → greedy left-to-right
    merge via list_reduce (the sequential fold matching F.aggregate).
    Each s{k} carries (word, wf, syms)."""
    ctes = [
        r"""words AS (
  SELECT word, count(*) AS wf FROM (
    SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS word FROM documents
  ) GROUP BY word HAVING length(word) >= 2
),
s0 AS (
  SELECT word, wf, list_transform(generate_series(1, length(word)),
                                  i -> substr(word, CAST(i AS INTEGER), 1)) AS syms
  FROM words
)"""
    ]
    for k in range(1, n_merges + 1):
        ctes.append(
            f"""c{k} AS (
  SELECT pair, sum(wf) AS n FROM (
    SELECT wf, unnest(list_transform(generate_series(1, len(syms) - 1),
      i -> syms[CAST(i AS INTEGER)] || ' ' || syms[CAST(i AS INTEGER) + 1])) AS pair
    FROM s{k - 1} WHERE len(syms) >= 2
  ) GROUP BY pair
),
m{k} AS (
  SELECT n, str_split(pair, ' ')[1] AS l, str_split(pair, ' ')[2] AS r
  FROM c{k} ORDER BY n DESC, pair LIMIT 1
),
s{k} AS (
  SELECT word, wf, list_reduce(list_transform(syms, s -> [s]),
    (acc, x) -> CASE WHEN acc[len(acc)] = m.l AND x[1] = m.r
        THEN list_concat(acc[1:len(acc) - 1], [acc[len(acc)] || x[1]])
        ELSE list_concat(acc, x) END) AS syms
  FROM s{k - 1}, m{k} m
)"""
        )
    return "WITH " + ",\n".join(ctes)


def _bpe_merge_sql(n_merges: int = 4) -> str:
    """Twin of textstats.bpe_learn_merges: the learned merge table."""
    selects = "\nUNION ALL\n".join(
        f"SELECT {k} AS step, l AS left_sym, r AS right_sym, l || r AS merged,"
        f" CAST(n AS BIGINT) AS n_occurrences FROM m{k}"
        for k in range(1, n_merges + 1)
    )
    return _bpe_ctes(n_merges) + "\n" + selects


def _bpe_segment_sql(n_merges: int = 4) -> str:
    """Twin of textstats.bpe_segment_counts: per-doc subword totals
    under the learned vocabulary (unseen/short words = 1 subword)."""
    return (
        _bpe_ctes(n_merges)
        + f""",
occ AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
  FROM documents
)
SELECT occ.doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(coalesce(len(v.syms), 1)) AS BIGINT) AS n_subwords
FROM occ LEFT JOIN s{n_merges} v USING (word)
GROUP BY occ.doc_id"""
    )


SQL_BPE_LEARN_MERGES = _bpe_merge_sql(4)
SQL_BPE_SEGMENT_COUNTS = _bpe_segment_sql(4)


# twin of q_graph_pagerank: 3 unrolled synchronous PageRank rounds
# (d=0.85, dangling mass dropped) over the knn-graph edge set
def _pagerank_sql(n_iters: int = 3, damping: float = 0.85) -> str:
    knn = SQL_SIMILARITY_KNN_GRAPH
    parts = [
        f"""WITH g AS (
  SELECT query_id AS src, neighbor_id AS dst FROM ({knn})
),
nodes AS (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM g UNION ALL SELECT dst AS node FROM g)
),
nn AS (SELECT CAST(count(*) AS BIGINT) AS c FROM nodes),
deg AS (SELECT src, count(*) AS deg FROM g GROUP BY src),
r0 AS (SELECT node, 1.0 / (SELECT c FROM nn) AS rank FROM nodes)"""
    ]
    for t in range(1, n_iters + 1):
        parts.append(
            f"""r{t} AS (
  SELECT n.node,
         ((1.0 - {damping}) / (SELECT c FROM nn))
           + {damping} * coalesce(m.mass, 0.0) AS rank
  FROM nodes n LEFT JOIN (
    SELECT g.dst, sum(r.rank / d.deg) AS mass
    FROM g JOIN r{t - 1} r ON g.src = r.node JOIN deg d ON g.src = d.src
    GROUP BY g.dst
  ) m ON n.node = m.dst
)"""
        )
    return (
        ",\n".join(parts)
        + f"\nSELECT node, round(rank, 6) AS rank FROM r{n_iters}"
    )


SQL_GRAPH_PAGERANK = _pagerank_sql(3, 0.85)


# twin of q_graph_bfs (graph.bfs_distances): unrolled min-distance
# rounds over the undirected knn edges — BFS layers ARE the hop-
# distance minima, so the engine's frontier/anti-join formulation and
# this whole-table relaxation agree exactly at the same round count.
def _bfs_sql(n_rounds: int = 4, n_seeds: int = 4) -> str:
    knn = SQL_SIMILARITY_KNN_GRAPH
    parts = [
        f"""WITH g AS (
  SELECT query_id AS src, neighbor_id AS dst FROM ({knn})
),
und AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM g WHERE src <> dst
),
adj AS (
  SELECT a AS node, b AS nbr FROM und
  UNION ALL
  SELECT b AS node, a AS nbr FROM und
),
d0 AS (
  SELECT CAST(vec_id AS BIGINT) AS node, 0 AS dist
  FROM embeddings WHERE vec_id < {n_seeds}
)"""
    ]
    for t in range(1, n_rounds + 1):
        parts.append(
            f"""d{t} AS (
  SELECT node, CAST(min(dist) AS INTEGER) AS dist FROM (
    SELECT node, dist FROM d{t - 1}
    UNION ALL
    SELECT adj.nbr AS node, d.dist + 1 AS dist
    FROM adj JOIN d{t - 1} d ON adj.node = d.node
  ) GROUP BY node
)"""
        )
    return ",\n".join(parts) + f"\nSELECT node, dist FROM d{n_rounds}"


SQL_GRAPH_BFS = _bfs_sql(4, 4)


# twin of q_graph_triangles: undirected canonical edges from the knn
# graph, DEGREE-oriented ((deg, id) row-value order — the skew-proof
# wedge enumeration), wedge two-hop join closed by the oriented edge
SQL_GRAPH_TRIANGLES = f"""
WITH g AS (
  SELECT query_id AS src, neighbor_id AS dst FROM ({SQL_SIMILARITY_KNN_GRAPH})
),
und AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM g WHERE src <> dst
),
deg AS (
  SELECT node, count(*) AS deg FROM (
    SELECT a AS node FROM und UNION ALL SELECT b FROM und
  ) GROUP BY node
),
o AS (
  SELECT CASE WHEN (da.deg, u.a) < (db.deg, u.b) THEN u.a ELSE u.b END AS lo,
         CASE WHEN (da.deg, u.a) < (db.deg, u.b) THEN u.b ELSE u.a END AS hi,
         CASE WHEN (da.deg, u.a) < (db.deg, u.b) THEN db.deg ELSE da.deg END AS deg_hi
  FROM und u
  JOIN deg da ON u.a = da.node
  JOIN deg db ON u.b = db.node
),
tri AS (
  SELECT e1.lo AS u, e1.hi AS v, e2.hi AS w
  FROM o e1
  JOIN o e2 ON e1.lo = e2.lo
           AND (e1.deg_hi, e1.hi) < (e2.deg_hi, e2.hi)
  JOIN o e3 ON e3.lo = e1.hi AND e3.hi = e2.hi
),
corner AS (
  SELECT node, CAST(count(*) AS BIGINT) AS n_triangles FROM (
    SELECT u AS node FROM tri
    UNION ALL SELECT v FROM tri
    UNION ALL SELECT w FROM tri
  ) GROUP BY node
),
nodes AS (
  SELECT DISTINCT node FROM (
    SELECT a AS node FROM und UNION ALL SELECT b FROM und)
)
SELECT n.node, coalesce(c.n_triangles, 0) AS n_triangles
FROM nodes n LEFT JOIN corner c ON n.node = c.node
"""

def _label_propagation_sql(n_iters: int) -> str:
    """Twin of graph.label_propagation over the knn-graph edges:
    undirected symmetrized adjacency, per round a (node, label) vote
    count and a (count desc, label asc) argmax, isolated-vote coalesce
    to the previous label. All-integer — exact replay."""
    rounds = []
    for t in range(1, n_iters + 1):
        rounds.append(
            f"""v{t} AS (
  SELECT adj.node, l.community AS lbl, count(*) AS n
  FROM adj JOIN l{t - 1} l ON adj.nbr = l.node
  GROUP BY adj.node, l.community
),
b{t} AS (
  SELECT node, lbl AS new_lbl FROM (
    SELECT node, lbl,
           row_number() OVER (PARTITION BY node ORDER BY n DESC, lbl) AS rn
    FROM v{t}
  ) WHERE rn = 1
),
l{t} AS (
  SELECT p.node, coalesce(b.new_lbl, p.community) AS community
  FROM l{t - 1} p LEFT JOIN b{t} b ON p.node = b.node
)"""
        )
    body = ",\n".join(rounds)
    return f"""
WITH g AS (
  SELECT query_id AS src, neighbor_id AS dst FROM ({SQL_SIMILARITY_KNN_GRAPH})
),
und AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM g WHERE src <> dst
),
adj AS (
  SELECT a AS node, b AS nbr FROM und
  UNION ALL
  SELECT b AS node, a AS nbr FROM und
),
l0 AS (
  SELECT DISTINCT node, node AS community FROM adj
),
{body}
SELECT node, community FROM l{n_iters}
"""


SQL_GRAPH_COMMUNITIES = _label_propagation_sql(3)


# twin of q_similarity_jl_project (similarity.jl_project 64→8): plane
# family "jl{j}", component = (md5_60bit('jl{j}|i') / 2^59) - 1,
# proj_j = <v, r_j> / sqrt(8), rendered as integer micros
SQL_SIMILARITY_JL_PROJECT = r"""
WITH e AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings
),
p AS (
  SELECT vec_id, s.j AS slot,
         list_sum(list_transform(generate_series(1, len(v)),
           i -> v[i] * ((CAST(CAST('0x' ||
                  substr(md5('jl' || CAST(s.j AS VARCHAR) || '|' ||
                             CAST(i - 1 AS VARCHAR)), 1, 15)
                  AS UBIGINT) AS BIGINT) / 576460752303423488.0) - 1.0)))
           / sqrt(8.0) AS val
  FROM e, unnest(generate_series(0, 7)) AS s(j)
)
SELECT vec_id,
       string_agg(CAST(CAST(round(val * 1000000) AS BIGINT) AS VARCHAR),
                  ',' ORDER BY slot) AS proj_micros
FROM p GROUP BY vec_id
"""


# twin of q_search_hybrid (search.rrf_fuse k=60 over BM25 top-15 ⊕
# exact-cosine top-15 for query vec 0): two-term reciprocal-rank sum
# quantized to micros before the final (micros desc, doc_id) rank
SQL_SEARCH_HYBRID = f"""
WITH lex AS (
  SELECT doc_id, rank FROM ({SQL_SEARCH_BM25})
),
e AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings
),
qv AS (SELECT v AS qv FROM e WHERE vec_id = 0),
sem AS (
  SELECT vec_id AS doc_id,
         row_number() OVER (ORDER BY cos_sim DESC, vec_id) AS rank
  FROM (
    SELECT e.vec_id,
           list_dot_product(e.v, qv.qv) /
             (sqrt(list_dot_product(e.v, e.v)) *
              sqrt(list_dot_product(qv.qv, qv.qv))) AS cos_sim
    FROM e CROSS JOIN qv WHERE e.vec_id <> 0
  )
  QUALIFY rank <= 15
),
fused AS (
  SELECT coalesce(l.doc_id, s.doc_id) AS doc_id,
         l.rank AS rank_lexical, s.rank AS rank_semantic,
         CAST(round((coalesce(1.0 / (60 + l.rank), 0.0) +
                     coalesce(1.0 / (60 + s.rank), 0.0)) * 1000000)
              AS BIGINT) AS rrf_micros
  FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id
)
SELECT doc_id,
       CAST(coalesce(rank_lexical, 0) AS BIGINT) AS rank_lexical,
       CAST(coalesce(rank_semantic, 0) AS BIGINT) AS rank_semantic,
       rrf_micros,
       CAST(row_number() OVER (ORDER BY rrf_micros DESC, doc_id) AS BIGINT)
         AS rank
FROM fused
QUALIFY rank <= 10
"""


def _kmeans_sql(k: int, n_iters: int, dim: int) -> str:
    """Twin of cluster.kmeans_fit_predict(k, n_iters): unrolled Lloyd
    rounds. Working centroids are integer micros at every step (same
    round() both engines), distances round to micros before the
    (dist, cluster) argmin, empty clusters coalesce to the previous
    round's centroid — so each round is an integer-determined function
    of the last and the replay is exact."""

    def _argmin(prev: str) -> str:
        return f"""
    SELECT d.vec_id, d.c, d.dist_m,
           row_number() OVER (PARTITION BY d.vec_id ORDER BY d.dist_m, d.c) AS rn
    FROM (
      SELECT es.vec_id, cp.c,
             CAST(round(sum((es.val - cp.m / 1000000.0) *
                            (es.val - cp.m / 1000000.0)) * 1000000)
                  AS BIGINT) AS dist_m
      FROM es JOIN {prev} cp ON es.slot = cp.slot
      GROUP BY es.vec_id, cp.c
    ) d"""

    rounds = []
    for t in range(1, n_iters + 1):
        rounds.append(
            f"""a{t} AS (
  SELECT vec_id, c AS cluster FROM ({_argmin(f"c{t - 1}")}) WHERE rn = 1
),
n{t} AS (
  SELECT a.cluster AS c, es.slot,
         CAST(round(avg(es.val) * 1000000) AS BIGINT) AS m
  FROM a{t} a JOIN es ON a.vec_id = es.vec_id
  GROUP BY a.cluster, es.slot
),
c{t} AS (
  SELECT f.c, f.slot, coalesce(n.m, p.m) AS m
  FROM (SELECT cc.c, ss.slot
        FROM unnest(generate_series(0, {k - 1})) AS cc(c),
             unnest(generate_series(0, {dim - 1})) AS ss(slot)) f
  LEFT JOIN n{t} n ON f.c = n.c AND f.slot = n.slot
  JOIN c{t - 1} p ON f.c = p.c AND f.slot = p.slot
)"""
        )
    body = ",\n".join(rounds)
    return f"""
WITH e AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings
),
es AS (
  SELECT vec_id, t.i - 1 AS slot, v[t.i] AS val
  FROM e, unnest(generate_series(1, len(v))) AS t(i)
),
init AS (
  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
           AS c, v
  FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {k}
),
c0 AS (
  SELECT c, t.i - 1 AS slot, CAST(round(v[t.i] * 1000000) AS BIGINT) AS m
  FROM init, unnest(generate_series(1, len(v))) AS t(i)
),
{body}
SELECT vec_id, CAST(c AS BIGINT) AS cluster, dist_m AS dist_micros
FROM ({_argmin(f"c{n_iters}")}) WHERE rn = 1
"""


SQL_CLUSTER_KMEANS = _kmeans_sql(8, 3, 64)


def _kcenter_sql(k: int) -> str:
    """Twin of cluster.kcenter_fit_predict(k): Gonzalez farthest-first —
    seed 0 = the md5-lowest row micros-quantized; each round t computes
    every row's min distance to the seed set s{t-1} (micros-rounded, the
    kmeans contract) and appends the (dmin desc, vec_id asc) winner; the
    final argmin assignment ties to the lowest seed rank."""
    rounds = []
    for t in range(1, k):
        rounds.append(
            f"""d{t} AS (
  SELECT vec_id, min(dm) AS dmin FROM (
    SELECT es.vec_id, s.r,
           CAST(round(sum((es.val - s.m / 1000000.0) *
                          (es.val - s.m / 1000000.0)) * 1000000)
                AS BIGINT) AS dm
    FROM es JOIN s{t - 1} s ON es.slot = s.slot
    GROUP BY es.vec_id, s.r
  ) GROUP BY vec_id
),
w{t} AS (SELECT vec_id FROM d{t} ORDER BY dmin DESC, vec_id LIMIT 1),
s{t} AS (
  SELECT * FROM s{t - 1}
  UNION ALL
  SELECT {t} AS r, es.slot, CAST(round(es.val * 1000000) AS BIGINT) AS m
  FROM es JOIN w{t} USING (vec_id)
)"""
        )
    body = ",\n".join(rounds)
    return f"""
WITH e AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings
),
es AS (
  SELECT vec_id, t.i - 1 AS slot, v[t.i] AS val
  FROM e, unnest(generate_series(1, len(v))) AS t(i)
),
s0 AS (
  SELECT 0 AS r, t.i - 1 AS slot, CAST(round(v[t.i] * 1000000) AS BIGINT) AS m
  FROM (SELECT v FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 1),
       unnest(generate_series(1, len(v))) AS t(i)
),
{body}
SELECT vec_id, CAST(r AS INTEGER) AS cluster, dm AS dist_micros FROM (
  SELECT es.vec_id, s.r,
         CAST(round(sum((es.val - s.m / 1000000.0) *
                        (es.val - s.m / 1000000.0)) * 1000000)
              AS BIGINT) AS dm,
         row_number() OVER (PARTITION BY es.vec_id
                            ORDER BY CAST(round(sum((es.val - s.m / 1000000.0) *
                                                    (es.val - s.m / 1000000.0))
                                          * 1000000) AS BIGINT), s.r) AS rn
  FROM es JOIN s{k - 1} s ON es.slot = s.slot
  GROUP BY es.vec_id, s.r
) WHERE rn = 1
"""


SQL_CLUSTER_KCENTER = _kcenter_sql(8)


def _pq_with(n_blocks: int, k: int, n_iters: int, dim: int):
    """Shared unrolled-CTE PQ trainer for the pq_train_encode /
    pq_topk twins: per-block Lloyd rounds, same integer-determinism
    contract as _kmeans_sql but keyed by (block, cluster). Returns
    (WITH-prefix ending at c{n_iters}, argmin-subquery builder)."""
    d_b = dim // n_blocks

    def _argmin(prev: str) -> str:
        return f"""
    SELECT d.vec_id, d.b, d.c, d.dist_m,
           row_number() OVER (PARTITION BY d.vec_id, d.b
                              ORDER BY d.dist_m, d.c) AS rn
    FROM (
      SELECT esb.vec_id, esb.b, cp.c,
             CAST(round(sum((esb.val - cp.m / 1000000.0) *
                            (esb.val - cp.m / 1000000.0)) * 1000000)
                  AS BIGINT) AS dist_m
      FROM esb JOIN {prev} cp
        ON esb.b = cp.b AND esb.slot_in = cp.slot_in
      GROUP BY esb.vec_id, esb.b, cp.c
    ) d"""

    rounds = []
    for t in range(1, n_iters + 1):
        rounds.append(
            f"""a{t} AS (
  SELECT vec_id, b, c AS code FROM ({_argmin(f"c{t - 1}")}) WHERE rn = 1
),
n{t} AS (
  SELECT a.b, a.code AS c, esb.slot_in,
         CAST(round(avg(esb.val) * 1000000) AS BIGINT) AS m
  FROM a{t} a JOIN esb ON a.vec_id = esb.vec_id AND a.b = esb.b
  GROUP BY a.b, a.code, esb.slot_in
),
c{t} AS (
  SELECT f.b, f.c, f.slot_in, coalesce(n.m, p.m) AS m
  FROM (SELECT bb.b, cc.c, ss.slot_in
        FROM unnest(generate_series(0, {n_blocks - 1})) AS bb(b),
             unnest(generate_series(0, {k - 1})) AS cc(c),
             unnest(generate_series(0, {d_b - 1})) AS ss(slot_in)) f
  LEFT JOIN n{t} n ON f.b = n.b AND f.c = n.c AND f.slot_in = n.slot_in
  JOIN c{t - 1} p ON f.b = p.b AND f.c = p.c AND f.slot_in = p.slot_in
)"""
        )
    body = ",\n".join(rounds)
    prefix = f"""
WITH e AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings
),
esb AS (
  SELECT vec_id, (t.i - 1) // {d_b} AS b, (t.i - 1) % {d_b} AS slot_in,
         v[t.i] AS val
  FROM e, unnest(generate_series(1, len(v))) AS t(i)
),
init AS (
  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
           AS c, v
  FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {k}
),
c0 AS (
  SELECT c, (t.i - 1) // {d_b} AS b, (t.i - 1) % {d_b} AS slot_in,
         CAST(round(v[t.i] * 1000000) AS BIGINT) AS m
  FROM init, unnest(generate_series(1, len(v))) AS t(i)
),
{body}"""
    return prefix, _argmin


def _pq_codes_sql(n_blocks: int, k: int, n_iters: int, dim: int) -> str:
    prefix, argmin = _pq_with(n_blocks, k, n_iters, dim)
    return f"""{prefix}
SELECT vec_id,
       string_agg(CAST(c AS VARCHAR), ',' ORDER BY b) AS codes_str,
       CAST(sum(dist_m) AS BIGINT) AS recon_micros
FROM ({argmin(f"c{n_iters}")}) WHERE rn = 1
GROUP BY vec_id
"""


def _pq_topk_sql(
    n_blocks: int, k: int, n_iters: int, dim: int, n_queries: int, topk: int
) -> str:
    """Twin of cluster.pq_topk: ADC search — query-side per-block
    distance tables against the final codebooks, corpus scored through
    its codes only (exact integer lookup sums), per-query
    (approx asc, neighbor) rank."""
    prefix, argmin = _pq_with(n_blocks, k, n_iters, dim)
    return f"""{prefix},
enc AS (
  SELECT vec_id, b, c AS code FROM ({argmin(f"c{n_iters}")}) WHERE rn = 1
),
qs AS (
  SELECT vec_id AS query_id, b, slot_in, val FROM esb
  WHERE vec_id < {n_queries}
),
tabs AS (
  SELECT qs.query_id, cp.b, cp.c,
         CAST(round(sum((qs.val - cp.m / 1000000.0) *
                        (qs.val - cp.m / 1000000.0)) * 1000000)
              AS BIGINT) AS dm
  FROM qs JOIN c{n_iters} cp
    ON qs.b = cp.b AND qs.slot_in = cp.slot_in
  GROUP BY qs.query_id, cp.b, cp.c
),
approx AS (
  SELECT t.query_id, e.vec_id AS neighbor_id,
         CAST(sum(t.dm) AS BIGINT) AS approx_micros
  FROM enc e JOIN tabs t ON e.b = t.b AND e.code = t.c
  WHERE e.vec_id <> t.query_id
  GROUP BY t.query_id, e.vec_id
)
SELECT query_id, neighbor_id, approx_micros,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY approx_micros, neighbor_id)
            AS INTEGER) AS rank
FROM approx
QUALIFY rank <= {topk}
"""


def _ivfpq_topk_sql(
    n_blocks: int,
    k: int,
    n_iters: int,
    dim: int,
    n_centroids: int,
    nprobe: int,
    n_queries: int,
    topk: int,
) -> str:
    """Twin of cluster.ivfpq_topk: IVF coarse pruning + PQ ADC scoring.
    Coarse codebook = the same md5-exemplar rule micros-quantized; cell
    assignment/probing = full-dim micros-rounded L2 argmin with cell
    tie-break (the kmeans contract, proven sum-order-safe at dim=64);
    candidates = corpus rows in a probed cell; scoring = the pq_topk
    integer table-lookup sums restricted to candidates."""
    d_b = dim // n_blocks
    prefix, argmin = _pq_with(n_blocks, k, n_iters, dim)
    return f"""{prefix},
enc AS (
  SELECT vec_id, b, c AS code FROM ({argmin(f"c{n_iters}")}) WHERE rn = 1
),
coarse_init AS (
  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
           AS cell, v
  FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {n_centroids}
),
ccents AS (
  SELECT cell, t.i - 1 AS slot, CAST(round(v[t.i] * 1000000) AS BIGINT) AS m
  FROM coarse_init, unnest(generate_series(1, len(v))) AS t(i)
),
cdist AS (
  SELECT es.vec_id, c.cell,
         CAST(round(sum((es.val - c.m / 1000000.0) *
                        (es.val - c.m / 1000000.0)) * 1000000)
              AS BIGINT) AS dm
  FROM (SELECT vec_id, b * {d_b} + slot_in AS slot, val FROM esb) es
  JOIN ccents c ON es.slot = c.slot
  GROUP BY es.vec_id, c.cell
),
cassign AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY dm, cell) AS rn
    FROM cdist) WHERE rn = 1
),
probes AS (
  SELECT vec_id AS query_id, cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY dm, cell) AS rn
    FROM cdist WHERE vec_id < {n_queries}) WHERE rn <= {nprobe}
),
qs AS (
  SELECT vec_id AS query_id, b, slot_in, val FROM esb
  WHERE vec_id < {n_queries}
),
tabs AS (
  SELECT qs.query_id, cp.b, cp.c,
         CAST(round(sum((qs.val - cp.m / 1000000.0) *
                        (qs.val - cp.m / 1000000.0)) * 1000000)
              AS BIGINT) AS dm
  FROM qs JOIN c{n_iters} cp
    ON qs.b = cp.b AND qs.slot_in = cp.slot_in
  GROUP BY qs.query_id, cp.b, cp.c
),
cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id
  FROM probes p JOIN cassign a ON p.cell = a.cell
  WHERE a.vec_id <> p.query_id
),
approx AS (
  SELECT t.query_id, e.vec_id AS neighbor_id,
         CAST(sum(t.dm) AS BIGINT) AS approx_micros
  FROM enc e
  JOIN cand cd ON cd.neighbor_id = e.vec_id
  JOIN tabs t ON e.b = t.b AND e.code = t.c AND t.query_id = cd.query_id
  GROUP BY t.query_id, e.vec_id
)
SELECT query_id, neighbor_id, approx_micros,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY approx_micros, neighbor_id)
            AS INTEGER) AS rank
FROM approx
QUALIFY rank <= {topk}
"""


SQL_CLUSTER_PQ_CODES = _pq_codes_sql(8, 16, 2, 64)
SQL_SIMILARITY_PQ_TOPK = _pq_topk_sql(8, 16, 2, 64, 8, 10)
SQL_SIMILARITY_IVFPQ = _ivfpq_topk_sql(8, 16, 2, 64, 16, 4, 8, 10)


# twin of q_sketch_hll (sketch.hll_distinct): register j = first 2 md5
# hex chars, rho = 61 - bitlength of the next 60 bits (ltrim-'0' guards
# any fixed-width bin rendering; Spark's bin() is already minimal),
# capped at 53 so 2^(53-m_j) is integer-exact; the alpha·m²·2^53
# numerator is interpolated from the SAME Python float the engine uses.
from character_identification_spark.operators.sketch import (  # noqa: E402
    HLL_ALPHA,
    HLL_M,
    HLL_RHO_CAP,
)

_HLL_NUM = repr(HLL_ALPHA * HLL_M * HLL_M * float(2**53))

SQL_SKETCH_HLL = rf"""
WITH toks AS (
  SELECT lang AS g, t.tok
  FROM documents,
       unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS t(tok)
  WHERE t.tok <> ''
),
hashed AS (
  SELECT g,
         CAST(CAST('0x' || substr(md5(tok), 1, 2) AS UBIGINT) AS INTEGER) AS j,
         CAST(CAST('0x' || substr(md5(tok), 3, 15) AS UBIGINT) AS BIGINT) AS w
  FROM toks
),
rho AS (
  SELECT g, j,
         CASE WHEN w = 0 THEN 61
              ELSE 61 - length(ltrim(bin(w), '0')) END AS rho
  FROM hashed
),
regs AS (
  SELECT g, j, max(least(rho, {HLL_RHO_CAP})) AS m_j FROM rho GROUP BY g, j
),
frame AS (
  SELECT g, i.j
  FROM (SELECT DISTINCT lang AS g FROM documents),
       unnest(generate_series(0, {HLL_M - 1})) AS i(j)
),
filled AS (
  SELECT f.g, f.j, coalesce(r.m_j, 0) AS m_j
  FROM frame f LEFT JOIN regs r ON f.g = r.g AND f.j = r.j
),
agg AS (
  SELECT g,
         CAST(count(*) AS BIGINT) AS n_registers,
         CAST(sum(CASE WHEN m_j = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS zero_registers,
         CAST(sum(CAST(pow(2, 53 - m_j) AS BIGINT)) AS BIGINT) AS scaled_sum,
         CAST(bit_xor(CAST(j AS BIGINT) * 64 + m_j) AS BIGINT) AS reg_digest
  FROM filled GROUP BY g
)
SELECT g AS lang, n_registers, zero_registers, scaled_sum, reg_digest,
       round(CASE WHEN ({_HLL_NUM} / scaled_sum) <= {2.5 * HLL_M}
                   AND zero_registers > 0
             THEN {float(HLL_M)} * ln({float(HLL_M)} / zero_registers)
             ELSE {_HLL_NUM} / scaled_sum END, 4) AS est_distinct
FROM agg
"""

# twin of q_sketch_cms (sketch.cms_frequencies, depth=4 width=1024):
# bucket = h_long('s|tok') mod 1024, counters by (s, bucket), probe
# readout = min over rows with missing buckets as 0
_CMS_PROBES = "), (".join(
    f"'{p}'"
    for p in ("join", "hash", "row", "batch", "scan", "customer", "zzz_absent")
)

SQL_SKETCH_CMS = rf"""
WITH occ AS (
  SELECT t.tok
  FROM documents,
       unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS t(tok)
  WHERE t.tok <> ''
),
fanned AS (
  SELECT s.s, tok FROM occ, unnest(generate_series(0, 3)) AS s(s)
),
sketch AS (
  SELECT s, {dd_h_long("CAST(s AS VARCHAR) || '|' || tok")} % 1024 AS b,
         CAST(count(*) AS BIGINT) AS cnt
  FROM fanned GROUP BY 1, 2
),
probes(token) AS (VALUES ({_CMS_PROBES})),
pb AS (
  SELECT token, s.s,
         {dd_h_long("CAST(s.s AS VARCHAR) || '|' || token")} % 1024 AS b
  FROM probes, unnest(generate_series(0, 3)) AS s(s)
)
SELECT token, CAST(min(coalesce(cnt, 0)) AS BIGINT) AS est_count
FROM pb LEFT JOIN sketch USING (s, b)
GROUP BY token
"""

ORACLES = {
    "er_mentions": SQL_ER_MENTIONS,
    "er_blocking_sortkey": SQL_ER_BLOCKING_SORTKEY,
    "er_blocking_minhash": SQL_ER_BLOCKING_MINHASH,
    "er_candidate_pairs": SQL_ER_CANDIDATE_PAIRS,
    "er_scored_pairs": SQL_ER_SCORED_PAIRS,
    "er_scored_embedding": SQL_ER_SCORED_EMBEDDING,
    "er_clusters": SQL_ER_CLUSTERS,
    "er_entities": SQL_ER_ENTITIES,
    "dedup_exact": SQL_DEDUP_EXACT,
    "dedup_minhash_pairs": SQL_DEDUP_MINHASH_PAIRS,
    "dedup_simhash": SQL_DEDUP_SIMHASH,
    "dedup_simhash_pairs": SQL_DEDUP_SIMHASH_PAIRS,
    "dedup_clusters": SQL_DEDUP_CLUSTERS,
    "dedup_spans": SQL_DEDUP_SPANS,
    "decontaminate": SQL_DECONTAMINATE,
    "dedup_ngram_jaccard_verify": SQL_DEDUP_NGRAM_JACCARD,
    "dedup_prefix_jaccard": SQL_DEDUP_PREFIX_JACCARD,
    "dedup_embedding_pairs": SQL_DEDUP_EMBEDDING_PAIRS,
    "url_dedup": SQL_URL_DEDUP,
    "text_repetition": SQL_TEXT_REPETITION,
    "pii_scrub": SQL_PII_SCRUB,
    "dedup_keep_best": SQL_DEDUP_KEEP_BEST,
    "text_stats": SQL_TEXT_STATS,
    "text_language_id": SQL_TEXT_LANGUAGE_ID,
    "text_fingerprint": SQL_TEXT_FINGERPRINT,
    "text_token_counts": SQL_TEXT_TOKEN_COUNTS,
    "text_lm_score": SQL_TEXT_LM_SCORE,
    "similarity_topk": SQL_SIMILARITY_TOPK,
    "similarity_ann": SQL_SIMILARITY_ANN,
    "similarity_ann_multiprobe": SQL_SIMILARITY_ANN_MULTIPROBE,
    "dedup_semantic": SQL_DEDUP_SEMANTIC,
    "search_bm25": SQL_SEARCH_BM25,
    "chunk_documents": SQL_CHUNK_DOCUMENTS,
    "bpe_learn_merges": SQL_BPE_LEARN_MERGES,
    "similarity_knn_graph": SQL_SIMILARITY_KNN_GRAPH,
    "bpe_segment_counts": SQL_BPE_SEGMENT_COUNTS,
    "graph_pagerank": SQL_GRAPH_PAGERANK,
    "graph_bfs": SQL_GRAPH_BFS,
    "graph_triangles": SQL_GRAPH_TRIANGLES,
    "sketch_hll": SQL_SKETCH_HLL,
    "sketch_cms": SQL_SKETCH_CMS,
    "cluster_kmeans": SQL_CLUSTER_KMEANS,
    "cluster_kcenter": SQL_CLUSTER_KCENTER,
    "cluster_pq_codes": SQL_CLUSTER_PQ_CODES,
    "similarity_pq_topk": SQL_SIMILARITY_PQ_TOPK,
    "similarity_ivfpq": SQL_SIMILARITY_IVFPQ,
    "graph_communities": SQL_GRAPH_COMMUNITIES,
    "search_hybrid": SQL_SEARCH_HYBRID,
    "similarity_jl_project": SQL_SIMILARITY_JL_PROJECT,
    "similarity_ivf": SQL_SIMILARITY_IVF,
    "similarity_lsh_buckets": SQL_SIMILARITY_LSH_BUCKETS,
    "eval_bcubed": SQL_EVAL_BCUBED,
    "eval_blanc": SQL_EVAL_BLANC,
    "eval_linking_f1": SQL_EVAL_LINKING_F1,
    "eval_pairf1_multi": SQL_EVAL_PAIRF1_MULTI,
    "events_json_props": SQL_EVENTS_JSON_PROPS,
    "text_vocab": SQL_TEXT_VOCAB,
    "asof_prev_event": SQL_ASOF_PREV_EVENT,
    "asof_join_events": SQL_ASOF_JOIN_EVENTS,
    "events_tumbling": SQL_EVENTS_TUMBLING,
    "events_hopping": SQL_EVENTS_HOPPING,
    "events_quantiles": SQL_EVENTS_QUANTILES,
    "events_funnel": SQL_EVENTS_FUNNEL,
    "quality_gate": SQL_QUALITY_GATE,
    "sample_stratified": SQL_SAMPLE_STRATIFIED,
    "mix_corpora": SQL_MIX_CORPORA,
    "pack_sequences": SQL_PACK_SEQUENCES,
    "strip_common_chunks": SQL_STRIP_COMMON_CHUNKS,
    "domain_cap": SQL_DOMAIN_CAP,
    "dsir_weights": SQL_DSIR_WEIGHTS,
    "blocklist_filter": SQL_BLOCKLIST_FILTER,
    "bpe_pair_counts": SQL_BPE_PAIR_COUNTS,
    "winnow_fingerprint": SQL_WINNOW_FINGERPRINT,
    "events_sessions": SQL_EVENTS_SESSIONS,
    "events_rollup": SQL_EVENTS_ROLLUP,
    "events_neighbors": SQL_EVENTS_NEIGHBORS,
    "orders_split_routing": SQL_ORDERS_SPLIT_ROUTING,
    "events_type_share": SQL_EVENTS_TYPE_SHARE,
    "tpch_q1": SQL_TPCH_Q1,
    "tpch_q3": SQL_TPCH_Q3,
    "tpch_q6": SQL_TPCH_Q6,
    "order_enrich_broadcast": SQL_ORDER_ENRICH_BROADCAST,
    "top_orders_per_cust": SQL_TOP_ORDERS_PER_CUST,
    "cust_no_orders": SQL_CUST_NO_ORDERS,
    "bloom_semijoin": SQL_BLOOM_SEMIJOIN,
    "media_frame_plan": SQL_MEDIA_FRAME_PLAN,
    "media_features": SQL_MEDIA_FEATURES,
    "cluster_embeddings": SQL_CLUSTER_EMBEDDINGS,
}
