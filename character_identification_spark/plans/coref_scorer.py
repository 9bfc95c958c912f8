"""Learned pairwise antecedent scorer for transcript pronouns (M2).

The reference trains a CNN ranking model over (antecedent, mention) pairs
and decodes best-antecedent per mention (reference:
latest/model/coref.py:40-95 model, :112-145 decode; params
latest-coref-params.json). This is the engine's Spark-first counterpart,
built under the repo's determinism discipline (no RNG anywhere):

  * candidate antecedents per pronoun = the labels of preceding NAMING
    EVENTS in the scene (cast-matched name mentions + first-person
    pronouns, which resolve to their speaker at 97% accuracy) plus the
    conversation participants (current / prev / next distinct speaker);
  * each (pronoun, candidate) pair gets a fixed-order feature vector
    computed ENTIRELY JVM-side from the per-scene event window — gender
    agreement (C8 lexicon), mention/utterance distance Δ (the reference's
    distance feature, features.py:166 — SURVEY C4), recency rank,
    naming frequency, speaker-role indicators;
  * the scorer is a logistic model: score = sigmoid(w·f). Weights are
    trained driver-side by tools/train_coref_scorer.py — full-batch
    gradient descent from ZERO init (convex objective, deterministic
    without any random seed), train split = dev, held out on tst — and
    committed as literals in models/coref_params.py;
  * inference inlines the weights as literal arrays: scoring and the
    argmax decode are pure Catalyst expressions (array_sort over
    (−score, ref) structs) — no Python in the hot path, no shuffle
    beyond the windows the rule linker already runs.

The decode keeps the reference's "new cluster" option: an argmax below
the dev-selected threshold τ leaves the pronoun unresolved (it falls to
the linker's deterministic gender-pool fallback).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from character_identification_spark.functions.lexicon import label_gender
from character_identification_spark.functions.vectors import dot, vec_lit

#: fixed feature order — models/coref_params.py weights index into this
FEATURES = (
    "bias",
    "g_match",        # candidate gender == pronoun gender
    "g_unknown",      # candidate gender not in the lexicon
    "was_named",      # candidate appears among preceding naming events
    "freq",           # its share of preceding naming events
    "log_mdist",      # log1p(mention-index Δ to its last naming)  [C4]
    "log_udist",      # log1p(utterance Δ to its last naming)
    "same_utt",       # last naming inside the current utterance
    "named_by_spk",   # last naming was uttered by the current speaker
    "src_p1",         # last event was a first-person pronoun (not a name)
    "is_spk",         # candidate IS the current speaker
    "is_prev",        # candidate is the closest previous distinct speaker
    "is_next",        # candidate is the next distinct speaker
    "recency_inv",    # 1/rank among distinct labels by recency
    "log_nevents",    # log1p(#preceding events) — context-size signal
    "pseudo",         # label is an unmatched-name SURFACE (src-2 only),
                      # not a cast member / conversation participant
    "is_scene_spk",   # candidate spoke earlier in the scene
    "fut_named",      # candidate is named LATER in the scene (cataphora)
    "log_fut_mdist",  # log1p(mention Δ to its next naming)
    # round 4 — lexical context (the reference CNN's window-embedding
    # input, coref.py:40-70 over features.py:113-127, as deterministic
    # hash-shingle vectors + cosines; stays linear/convex/RNG-free):
    "ctx_cos",        # cos(pronoun ±4-token window, candidate's LAST
                      # naming window)
    "ctx_best",       # max cos over ALL the candidate's naming windows
    # round 4 — cross-scene episode prior (VERDICT r3 #6; candidates stay
    # scene-derived, only the SCORE sees earlier-scene activity):
    "epi_freq",       # share of earlier-scene real namings in the episode
    "epi_named",      # candidate was named/speaking in an earlier scene
    "win_has_name",   # a token of the candidate's label occurs INSIDE the
                      # pronoun's ±4-token window ("Ross, he…") — the
                      # token-granular recency signal log_mdist can't see
)


def _b(c: Column) -> Column:
    """boolean-ish → double with null → 0.0 (null-safe indicator)."""
    return F.coalesce(c.cast("double"), F.lit(0.0))


def candidate_array(
    events_col: str = "prior_events",
    mg_col: str = "mg",
    spk_col: str = "spk",
    prev_col: str = "prev_spk",
    next_col: str = "next_spk",
    scene_spks_col: str = "prev_spks",
    utt_idx_col: str = "utt_idx",
    midx_col: str = "midx",
    next_events_col: str = "next_events",
    mctx_col: str = "ctx_emb",
    epi_refs_col: str = "epi_prior_refs",
) -> Column:
    """array<struct(ref string, pseudo double, fs array<double>)> of
    scored candidates.

    ``events_col`` is the recency-REVERSED array of preceding naming
    events: struct(ref, utt_idx, midx, spk, src) — src 0 = cast-matched
    name mention, 1 = first-person pronoun (speaker self-reference),
    2 = cast-UNMATCHED name surface (pseudo-label). Candidate labels =
    distinct event refs ∪ {spk, prev_spk, next_spk} ∪ preceding scene
    speakers. ``pseudo`` marks labels backed ONLY by src-2 events (not a
    participant) — the decode can cluster on them without emitting a
    character prediction. One fixed-order feature vector per candidate,
    every term a Catalyst expression (see module docstring)."""
    from character_identification_spark.functions.vectors import cosine_sim

    ev = F.col(events_col)
    fut = F.col(next_events_col)
    mg = F.col(mg_col)
    spk, prev, nxt = F.col(spk_col), F.col(prev_col), F.col(next_col)
    scene_spks = F.coalesce(F.col(scene_spks_col), F.array().cast("array<string>"))
    cur_u, cur_m = F.col(utt_idx_col), F.col(midx_col)
    mctx = F.col(mctx_col)
    epi = F.coalesce(F.col(epi_refs_col), F.array().cast("array<string>"))
    epi_n = F.size(epi).cast("double")
    wtoks = F.coalesce(F.col("ctx_toks"), F.array().cast("array<string>"))

    refs = F.transform(ev, lambda x: x["ref"])
    distinct_refs = F.array_distinct(refs)  # recency order (ev is reversed)
    # cataphoric candidates: only REAL future namings introduce new labels
    # (a future unmatched surface has no reliable link yet)
    fut_real_refs = F.array_distinct(
        F.transform(F.filter(fut, lambda x: x["src"] < 2), lambda x: x["ref"])
    )
    labels = F.array_distinct(
        F.concat(
            distinct_refs,
            F.filter(F.array(spk, prev, nxt), lambda x: x.isNotNull()),
            scene_spks,
            fut_real_refs,
        )
    )
    total = F.size(ev).cast("double")

    def feats(r: Column) -> Column:
        mine = F.filter(ev, lambda y: y["ref"] == r)
        last = F.try_element_at(mine, F.lit(1))  # most recent naming
        named = last.isNotNull()
        cnt = F.size(mine).cast("double")
        g = label_gender(r)
        rec = F.array_position(distinct_refs, r).cast("double")
        participant = (
            F.coalesce(r == spk, F.lit(False))
            | F.coalesce(r == prev, F.lit(False))
            | F.coalesce(r == nxt, F.lit(False))
            | F.array_contains(scene_spks, r)
        )
        real_named = F.size(F.filter(ev, lambda y: (y["ref"] == r) & (y["src"] < 2))) > 0
        nxt_ev = F.try_element_at(
            F.filter(fut, lambda y: (y["ref"] == r) & (y["src"] < 2)), F.lit(1)
        )
        # lexical-context cosines: NULL-safe throughout (cosine_sim is
        # NULL on zero-norm/NULL vectors; array_max of the all-NULL-
        # filtered list is NULL; _b maps NULL→0)
        ctx_all = F.filter(
            F.transform(mine, lambda y: cosine_sim(mctx, y["ctx"])),
            lambda c: c.isNotNull(),
        )
        epi_cnt = F.size(F.filter(epi, lambda x: x == r)).cast("double")
        return F.array(
            F.lit(1.0),                                         # bias
            _b(g == mg),                                        # g_match
            _b(g.isNull()),                                     # g_unknown
            _b(named),                                          # was_named
            F.when(total > 0, cnt / total).otherwise(0.0),      # freq
            _b(F.log1p(cur_m - last["midx"])),                  # log_mdist
            _b(F.log1p(cur_u - last["utt_idx"])),               # log_udist
            _b(last["utt_idx"] == cur_u),                       # same_utt
            _b(last["spk"] == spk),                             # named_by_spk
            _b(last["src"] == 1),                               # src_p1
            _b(r == spk),                                       # is_spk
            _b(r == prev),                                      # is_prev
            _b(r == nxt),                                       # is_next
            F.when(rec > 0, 1.0 / rec).otherwise(0.0),          # recency_inv
            F.log1p(total),                                     # log_nevents
            _b(~(real_named | participant | nxt_ev.isNotNull())),  # pseudo
            _b(F.array_contains(scene_spks, r)),                # is_scene_spk
            _b(nxt_ev.isNotNull()),                             # fut_named
            _b(F.log1p(nxt_ev["midx"] - cur_m)),                # log_fut_mdist
            _b(cosine_sim(mctx, last["ctx"])),                  # ctx_cos
            _b(F.array_max(ctx_all)),                           # ctx_best
            F.when(epi_n > 0, epi_cnt / epi_n).otherwise(0.0),  # epi_freq
            _b(epi_cnt > 0),                                    # epi_named
            _b(F.arrays_overlap(wtoks, F.split(r, " "))),       # win_has_name
        )

    inner = F.transform(
        labels, lambda r: F.struct(r.alias("ref"), feats(r).alias("fs"))
    )
    # surface the pseudo indicator (it's fs[idx] — 1-based element_at) as a
    # named field so the decode can gate auto_ref without recomputing feats
    pseudo_idx = FEATURES.index("pseudo") + 1
    return F.transform(
        inner,
        lambda c: F.struct(
            c["ref"].alias("ref"),
            F.element_at(c["fs"], pseudo_idx).alias("pseudo"),
            c["fs"].alias("fs"),
        ),
    )


def learned_members(cands_col: str, weights: list[float], tau: float) -> Column:
    """M5 multi-label membership gate for PLURAL mentions: the refs of
    ALL real (non-pseudo) candidates whose sigmoid clears τ — the
    reference's per-label sigmoid multi-label head
    (latest/model/linking_joint.py:44-46,71-91, threshold-0.5 decode) as
    a deterministic logistic over the same candidate features the
    antecedent rankers use. Unlike learned_best there is no argmax: a
    plural mention refers to a label SET."""
    w = vec_lit(weights)
    passing = F.filter(
        F.col(cands_col),
        lambda c: (c["pseudo"] == 0.0)
        & (
            (F.lit(1.0) / (F.lit(1.0) + F.exp(-dot(c["fs"], w))))
            >= F.lit(float(tau))
        ),
    )
    return F.transform(passing, lambda c: c["ref"])


def learned_best(cands_col: str, weights: list[float], tau: float) -> Column:
    """argmax decode: struct(ref, pseudo, prob) of the top-scoring
    candidate, or null when no candidate clears the threshold τ (the
    reference's 'start a new cluster' outcome, coref.py:112-145) — ties
    break to the lexicographically first label (array_sort over
    (−score, ref)). ``pseudo`` = 1.0 means the pick is an unmatched-name
    surface: cluster on it, but emit no character prediction."""
    w = vec_lit(weights)
    ranked = F.array_sort(
        F.transform(
            F.col(cands_col),
            lambda c: F.struct(
                (-dot(c["fs"], w)).alias("negs"),
                c["ref"].alias("ref"),
                c["pseudo"].alias("pseudo"),
            ),
        )
    )
    best = F.try_element_at(ranked, F.lit(1))
    prob = F.lit(1.0) / (F.lit(1.0) + F.exp(best["negs"]))
    return F.when(
        best.isNotNull() & (prob >= F.lit(float(tau))),
        F.struct(
            best["ref"].alias("ref"),
            best["pseudo"].alias("pseudo"),
            prob.alias("prob"),
        ),
    )
