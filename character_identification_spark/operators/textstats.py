"""Text analysis for training-data curation: token counts, quality
scores, language ID, document fingerprints.

All JVM-side (built-in functions only — whole-stage codegen, no UDF), all
pure functions of the text so every value is reproducible in the DuckDB
oracle. These are the curation filters a 100 TB pretraining pipeline runs
before dedup: cheap narrow projections that Catalyst fuses into the scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from character_identification_spark.session import local_frame

# Tiny per-language stopword inventories for the n-gram/stopword-ratio
# language heuristic. Deliberately small and inline: broadcast-free (they
# compile into the plan as literals) and easy to mirror in oracle SQL.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "auf", "mit", "zu"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "dans", "que", "pour"],
    "es": ["el", "la", "los", "y", "es", "un", "una", "en", "que", "por"],
}


def tokens(col) -> Column:
    """Whitespace tokenization of trimmed text (empty text → [''])."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(c), r"\s+")


def token_count(col) -> Column:
    return F.size(tokens(col))


def bpe_ish_token_count(col) -> Column:
    """Subword-ish token count without a tokenizer model: count of
    alternating letter-runs / digit-runs / punctuation marks. A cheap,
    deterministic proxy for BPE token counts (ratio ~1.3× words on web
    text) — good enough for budget accounting in a curation pipeline."""
    c = F.col(col) if isinstance(col, str) else col
    pieces = F.regexp_replace(
        F.lower(c), r"([a-z]+|[0-9]+|[^a-z0-9\s])", "$1 "
    )
    return F.size(F.split(F.trim(pieces), r"\s+"))


def text_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """→ (doc_id, n_chars, n_tokens, avg_token_len, punct_ratio,
    digit_ratio, uniq_token_ratio, stopword_ratio, quality): the standard
    quality-filter feature block (Gopher/C4-style heuristics). ``keep``
    carries extra input columns through (e.g. the text itself) so a
    filter stage stays one scan — no join-back on doc_id."""
    t = F.col(text_col)
    toks = tokens(text_col)
    n_chars = F.length(t)
    n_tokens = F.size(toks)
    n_punct = n_chars - F.length(F.regexp_replace(t, r"[^\w\s]", ""))
    n_digit = n_chars - F.length(F.regexp_replace(t, r"[0-9]", ""))
    uniq_ratio = F.size(F.array_distinct(toks)) / n_tokens.cast("double")
    sw = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    sw_ratio = F.size(F.filter(toks, lambda x: F.array_contains(sw, F.lower(x)))) / n_tokens.cast(
        "double"
    )
    avg_tok = (n_chars - (n_tokens - 1)) / n_tokens.cast("double")
    stats = docs.select(
        F.col(id_col),
        *[F.col(c) for c in keep],
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        F.round(avg_tok, 6).alias("avg_token_len"),
        F.round(n_punct / n_chars.cast("double"), 6).alias("punct_ratio"),
        F.round(n_digit / n_chars.cast("double"), 6).alias("digit_ratio"),
        F.round(uniq_ratio, 6).alias("uniq_token_ratio"),
        F.round(sw_ratio, 6).alias("stopword_ratio"),
    )
    # blended quality in [0,1]: length band + low punct/digit + lexical
    # diversity + some stopword mass (C4-ish), each term clamped
    q = (
        0.25 * F.least(F.col("n_tokens") / 50.0, F.lit(1.0))
        + 0.25 * (1.0 - F.least(F.col("punct_ratio") * 4.0, F.lit(1.0)))
        + 0.2 * (1.0 - F.least(F.col("digit_ratio") * 4.0, F.lit(1.0)))
        + 0.15 * F.col("uniq_token_ratio")
        + 0.15 * F.least(F.col("stopword_ratio") * 5.0, F.lit(1.0))
    )
    return stats.withColumn("quality", F.round(q, 6))


def language_id(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """→ (doc_id, lang_pred, lang_score): argmax over per-language
    stopword-hit ratios; 'und' (undetermined) when nothing scores > 0.
    Ties break by language code order, deterministically. ``keep`` carries
    extra input columns through (single-scan filter stages)."""
    toks = F.transform(tokens(text_col), lambda x: F.lower(x))
    scores = []
    for lang in sorted(STOPWORDS):
        sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
        s = F.size(F.filter(toks, lambda x: F.array_contains(sw, x))) / F.size(toks).cast(
            "double"
        )
        scores.append(F.struct(F.round(s, 6).alias("score"), F.lit(lang).alias("lang")))
    arr = F.array(*scores)
    best = F.array_max(arr)
    return docs.select(
        F.col(id_col),
        *[F.col(c) for c in keep],
        F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und")).alias("lang_pred"),
        best["score"].alias("lang_score"),
    )


def fingerprint(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """→ (doc_id, fp_exact, fp_norm, fp_shingle): three content
    fingerprints — raw-byte md5, normalized-text md5 (case/whitespace/
    punct-insensitive), and min-shingle digest (robust to local edits:
    equal for docs sharing their lexicographically-smallest word 5-gram,
    a 1-hash MinHash)."""
    t = F.col(text_col)
    norm = F.trim(F.regexp_replace(F.regexp_replace(F.lower(t), r"[^a-z0-9]+", " "), r"\s+", " "))
    from character_identification_spark.operators.dedup import word_shingles

    min_shingle = F.array_min(word_shingles(norm, 5))
    return docs.select(
        F.col(id_col),
        F.md5(t).alias("fp_exact"),
        F.md5(norm).alias("fp_norm"),
        F.md5(min_shingle).alias("fp_shingle"),
    )


def lm_score(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """CCNet-style language-model quality score, self-trained: a char
    TRIGRAM unigram-LM is counted over the corpus itself (one explode +
    one groupBy on the trigram key), then every document is scored as
    the mean log-probability of its trigrams (public reference: CCNet's
    LM-perplexity filter, Wenzek et al. 2020 — here the deterministic
    relational analog; no external model, so the DuckDB oracle replays
    it bit-for-bit after 6-dp rounding).

    → (doc_id, n_grams, lm_score) — lm_score = avg ln(count/total),
    higher = more typical of the corpus; boilerplate scores high,
    character noise scores low. Docs with < 3 chars → NULL score.

    Scale shape: the trigram COUNT table is bounded by the charset³
    vocabulary (≪ corpus size — low-millions entries at web scale), so
    the per-document scoring join is a BROADCAST, and the corpus is
    touched exactly twice (count pass, score pass) with no corpus-sized
    shuffle."""
    # substring with a Column start needs the SQL form (F.substring takes
    # an int pos only); the CASE guards sequence() against len < 3, where
    # sequence(1, 0) would generate a DESCENDING range, not an empty one
    grams = F.expr(
        f"CASE WHEN length(lower(trim({text_col}))) >= 3 THEN"
        f" transform(sequence(1, length(lower(trim({text_col}))) - 2),"
        f" i -> substring(lower(trim({text_col})), i, 3))"
        f" ELSE array() END"
    )
    g = docs.select(F.col(id_col), F.explode(grams).alias("gram"))
    counts = g.groupBy("gram").agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("tot"))
    scored = (
        g.join(F.broadcast(counts), "gram")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.round(F.avg(F.log(F.col("cnt") / F.col("tot"))), 6).alias(
                "lm_score"
            ),
        )
    )
    return docs.select(id_col).join(scored, id_col, "left").select(
        id_col,
        F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
        "lm_score",
    )


def dsir_weights(
    docs: DataFrame,
    target_pred,
    n_buckets: int = 1024,
    alpha: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR-style importance weights (Data Selection via Importance
    Resampling, Xie et al. 2023 — the hashed-n-gram variant): fit two
    bag-of-hashed-n-gram unigram models — the TARGET distribution over
    rows matching ``target_pred`` (the curated/domain exemplar set) and
    the RAW distribution over the whole corpus — and weight every
    document by its log importance ratio

        log w(x) = Σ_{g ∈ grams(x)} [ log p_target(b(g)) − log p_raw(b(g)) ]

    with word uni+bigram features hashed to ``n_buckets`` buckets
    (b(g) = md5_60bit(g) mod n_buckets) and add-``alpha`` smoothing.
    Resampling by these weights (e.g. via sample_stratified on a
    thresholded tier) tilts a 100-TB crawl toward the target domain —
    the published recipe behind domain-matched pretraining mixes.

    → (doc_id, is_target, n_feats, dsir_logw) — dsir_logw rounded to
    6 dp (parallel log-sum order), NULL for docs with zero features.

    Scale shape: one explode (linear in tokens) feeds the bucket-count
    aggregation; the model is exactly ``n_buckets`` rows regardless of
    corpus size, so the scoring join is a BROADCAST and the corpus is
    touched twice (count pass, score pass) with no corpus-sized
    shuffle — same two-pass shape as lm_score. Everything is md5-pure:
    the DuckDB oracle replays bucket ids, counts, and weights exactly.
    """
    from character_identification_spark.functions.hashing import h_long

    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    unis = toks
    # a 1-token doc has NO bigram — without the guard the slice(toks,1,2)
    # degenerates to the unigram and double-counts it in both models
    bis = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.array_join(F.slice(toks, i, 2), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        target_pred.cast("boolean").alias("is_target"),
        F.concat(unis, bis).alias("grams"),
    )
    g = base.select(
        "doc_id", "is_target", F.explode("grams").alias("gram")
    ).withColumn("bucket", (h_long(F.col("gram")) % n_buckets).cast("int"))
    counts = g.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("cnt_raw"),
        F.sum(F.when(F.col("is_target"), 1).otherwise(0)).alias("cnt_tgt"),
    )
    totals = counts.agg(
        F.sum("cnt_raw").alias("tot_raw"), F.sum("cnt_tgt").alias("tot_tgt")
    )
    model = counts.crossJoin(F.broadcast(totals)).select(
        "bucket",
        (
            F.log((F.col("cnt_tgt") + alpha) / (F.col("tot_tgt") + alpha * n_buckets))
            - F.log((F.col("cnt_raw") + alpha) / (F.col("tot_raw") + alpha * n_buckets))
        ).alias("log_ratio"),
    )
    scored = (
        g.join(F.broadcast(model), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_feats"),
            F.round(F.sum("log_ratio"), 6).alias("dsir_logw"),
        )
    )
    return (
        base.select("doc_id", "is_target")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            "is_target",
            F.coalesce("n_feats", F.lit(0)).alias("n_feats"),
            "dsir_logw",
        )
    )


def bpe_pair_counts(
    docs: DataFrame,
    top_k: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """→ (pair, n_occurrences, n_words): the first round of BPE merge
    candidates at corpus scale — adjacent character-pair frequencies
    weighted by word frequency (Sennrich et al. 2016's merge-selection
    statistic; iterating merge+recount yields the full vocabulary, and
    each round has exactly this dataflow). Top-``top_k`` pairs by
    (count desc, pair asc) — a deterministic total order.

    Scale shape: the token explode feeds a word-count aggregation whose
    OUTPUT is vocabulary-bounded (≪ corpus size), the pair explode runs
    over that vocabulary table, and the pair aggregation is bounded by
    charset² — so after the first shuffle every stage works on
    model-sized, not corpus-sized, data. The final top-k is a
    TakeOrdered, not a global sort."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    words = (
        docs.select(F.explode(toks).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wf"))
        .filter(F.length("word") >= 2)
    )
    pairs = words.select(
        "wf",
        "word",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("word") - 1),
                lambda i: F.col("word").substr(i, F.lit(2)),
            )
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(
            F.sum("wf").cast("long").alias("n_occurrences"),
            F.count_distinct("word").cast("long").alias("n_words"),
        )
        .orderBy(F.desc("n_occurrences"), F.asc("pair"))
        .limit(top_k)
    )


def winnow_fingerprint(
    docs: DataFrame,
    k: int = 5,
    w: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """→ (doc_id, n_fingerprints, fp_digest): winnowing document
    fingerprints (Schleimer et al. 2003, the MOSS algorithm): hash all
    character ``k``-grams, slide a ``w``-hash window, select each
    window's minimum — guaranteeing any shared substring of length
    ≥ k+w−1 contributes a shared fingerprint, with ~2/(w+1) selection
    density. The distinct selected hashes are reduced to a count and an
    order-free XOR digest (ANSI-safe — sum would overflow).

    Dataflow: posexplode of the gram-hash array (each md5 computed
    exactly ONCE) → per-doc frame window min (ROWS current..w−1
    following, auto-clipped at the partition end so fewer-than-w-gram
    docs fall out as one window over everything) → distinct + XOR agg,
    one doc-keyed shuffle — the duplicated_spans shape. The tempting
    all-in-one-projection alternative (nested transform/slice/array_min
    higher-order expressions) is ~100× slower: Catalyst inlines the
    hash-array subexpression into every window element, recomputing
    O(n²) md5s per document (measured 349 s vs 3.9 s on 500 sf0.01
    docs). Docs shorter than k chars report (0, 0)."""
    s = F.lower(F.trim(F.col(text_col)))
    n_grams = F.length(s) - (k - 1)
    hashes = F.when(
        n_grams >= 1,
        F.transform(
            F.sequence(F.lit(1), n_grams),
            lambda i: F.conv(
                F.substring(F.md5(s.substr(i, F.lit(k))), 1, 15), 16, 10
            ).cast("long"),
        ),
    ).otherwise(F.array().cast("array<long>"))
    g = docs.select(
        F.col(id_col).alias("doc_id"), F.posexplode(hashes).alias("pos", "h")
    )
    fw = (
        Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, w - 1)
    )
    nw = Window.partitionBy("doc_id")
    sel = (
        g.withColumn("wmin", F.min("h").over(fw))
        .withColumn("n", F.count(F.lit(1)).over(nw))
        # window starts: pos 0 .. n-w (or just pos 0 when n < w)
        .filter(F.col("pos") <= F.greatest(F.col("n") - w, F.lit(0)))
        .select("doc_id", "wmin")
        .distinct()
    )
    agg = sel.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_fingerprints"),
        F.bit_xor("wmin").cast("long").alias("fp_digest"),
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_fingerprints", F.lit(0)).alias("n_fingerprints"),
            F.coalesce("fp_digest", F.lit(0)).alias("fp_digest"),
        )
    )


def _bpe_train(
    docs: DataFrame,
    n_merges: int,
    text_col: str,
) -> tuple[DataFrame, list[tuple]]:
    """Shared BPE training core: → (final per-word segmentation DataFrame
    (word, wf, syms), merge rows [(step, left, right, merged, n)]).

    ONE corpus-sized shuffle (the word-frequency agg); every later stage
    — symbol split, pair explode, merge application — runs over the
    VOCABULARY table (≪ corpus), exactly how production BPE trainers
    work. The per-iteration argmax is a 1-row TakeOrdered collect
    (model-sized driver traffic, like the IVF codebook); the merge
    itself is a sequential left-to-right fold per word via F.aggregate —
    greedy BPE application, replayed symbol-for-symbol by the DuckDB
    oracle's list_reduce twin."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    words = (
        docs.select(F.explode(toks).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wf"))
        .filter(F.length("word") >= 2)
    )
    syms = words.select(
        "word",
        "wf",
        F.transform(
            F.sequence(F.lit(1), F.length("word")),
            lambda i: F.col("word").substr(i, F.lit(1)),
        ).alias("syms"),
    ).localCheckpoint()

    out = []
    for step in range(1, n_merges + 1):
        # adjacent pairs via zip_with of the array against its own tail —
        # empty for 1-symbol words (slice length 0), no descending-
        # sequence pitfall
        s = F.col("syms")
        pairs_col = F.zip_with(
            F.slice(s, 1, F.size(s) - 1),
            F.slice(s, 2, F.size(s) - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
        top = (
            syms.select("wf", F.explode(pairs_col).alias("pair"))
            .groupBy("pair")
            .agg(F.sum("wf").cast("long").alias("n"))
            .orderBy(F.desc("n"), F.asc("pair"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        left, right = top[0]["pair"].split(" ")
        merged = left + right
        out.append((step, left, right, merged, top[0]["n"]))
        # greedy left-to-right merge: sequential fold, replace-last when
        # (last(acc), x) == (left, right); try_element_at for the empty
        # accumulator under ANSI. Closure factory, NOT default args — a
        # >2-param lambda breaks pyspark's HOF arity inspection.
        def _merge_fold(l: str, r: str, m: str):
            def fn(acc, x):
                return F.when(
                    (F.try_element_at(acc, F.lit(-1)) == F.lit(l))
                    & (x == F.lit(r)),
                    F.concat(
                        F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(m))
                    ),
                ).otherwise(F.concat(acc, F.array(x)))

            return fn

        syms = syms.select(
            "word",
            "wf",
            F.aggregate(
                "syms",
                F.array().cast("array<string>"),
                _merge_fold(left, right, merged),
            ).alias("syms"),
        ).localCheckpoint()
    return syms, out


def bpe_learn_merges(
    docs: DataFrame,
    n_merges: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """→ (step, left_sym, right_sym, merged, n_occurrences): the first
    ``n_merges`` BPE merge rules learned from the corpus (Sennrich et al.
    2016) — the full iterate-merge-recount loop, not just the first
    round's pair table (bpe_pair_counts). See _bpe_train for the scale
    shape; every tie is broken (count desc, pair asc), so the learned
    merge table is a pure function of the corpus."""
    _, out = _bpe_train(docs, n_merges, text_col)
    return local_frame(
        docs.sparkSession,
        out,
        "step int, left_sym string, right_sym string, merged string, n_occurrences long",
    )


def bpe_segment_counts(
    docs: DataFrame,
    n_merges: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """→ (doc_id, n_words, n_subwords): APPLY the learned BPE tokenizer —
    the train→tokenize round trip, giving every document its true
    subword-token count under the n_merges-rule vocabulary.

    The scale-correct application: merges are applied ONCE per distinct
    word (the vocabulary table _bpe_train already folded), never per
    corpus occurrence — the corpus only joins its words against the
    vocab's (word → n_subwords) map. Words shorter than 2 chars are
    excluded from training by construction and count as 1 subword. The
    vocab join is left to AQE (broadcast at web scale iff the vocab
    fits; no forced hint)."""
    seg, _ = _bpe_train(docs, n_merges, text_col)
    vocab = seg.select("word", F.size("syms").alias("n_sub"))
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    occurrences = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(toks).alias("word")
    )
    return (
        occurrences.join(vocab, "word", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum(F.coalesce("n_sub", F.lit(1))).cast("long").alias("n_subwords"),
        )
    )
