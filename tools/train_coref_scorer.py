"""Train the deterministic pairwise antecedent scorer on a reference split.

Usage:
    python tools/train_coref_scorer.py [dev|tst] [--write] [--epochs N]

Extracts the (pronoun, candidate-antecedent) feature rows that the
inference path computes (plans/transcript_link.with_antecedent_candidates
→ plans/coref_scorer.candidate_array — byte-identical features), labels
each candidate by membership in the pronoun's gold_refs, and fits one
logistic model per pronoun class (p2 = second person, p3 = third person)
with FULL-BATCH gradient descent from ZERO init — the objective is
convex, so no random seed exists anywhere (the repo's no-RNG invariant).

τ (the resolve-vs-pool threshold, the reference decode's 'new cluster'
option) defaults to the per-class value maximizing resolved-label
accuracy on the training split, but the COMMITTED τ comes from the
pairwise-F1 sweep (tools/measure_transcript_rules.py "mode@tau" syntax)
— label accuracy and pair F1 disagree because unresolved pronouns fall
into per-scene gender pools that recover many pairs; pass
--tau-p2/--tau-p3 to pin the sweep argmax when regenerating.

With --write, rewrites character_identification_spark/models/
coref_params.py; otherwise prints it. The reference model this
parallels: latest/model/coref.py:40-95 (+ decode :112-145).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
from pyspark.sql import functions as F

from character_identification_spark.evaluation.pairf1 import AMBIGUOUS
from character_identification_spark.fixtures.transcript import (
    read_transcript_utterances,
    transcript_gold_mentions,
)
from character_identification_spark.plans.coref_scorer import FEATURES
from character_identification_spark.plans.transcript_link import (
    enriched_mention_table,
    with_antecedent_candidates,
)
from character_identification_spark.session import get_spark

PARAMS_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "character_identification_spark",
    "models",
    "coref_params.py",
)


def feature_rows(utt, gold, kinds: tuple[str, ...], scope: str = "scene"):
    """→ (groups, X, y): per-pronoun candidate groups with gold labels.

    Real candidates (cast labels / speakers) are positive when the label
    is in the pronoun's gold_refs. PSEUDO candidates (unmatched-name
    surfaces) are positive when some same-scene name mention with that
    surface has a gold label the pronoun shares — i.e. the gold PAIR
    truth the cluster key will be scored on, not label equality."""
    m = with_antecedent_candidates(enriched_mention_table(utt, gold), event_scope=scope)
    nm_lab = (
        m.filter(F.col("kind") == "name")
        .join(gold.select("mention_uid", "gold_refs"), "mention_uid")
        .select("scene_id", "norm", F.explode("gold_refs").alias("lab"))
        .filter(~F.col("lab").isin(*AMBIGUOUS))
        .distinct()
    )
    cand_rows = (
        m.filter(F.col("kind").isin(*kinds))
        .join(gold.select("mention_uid", "gold_refs"), "mention_uid")
        .select(
            "mention_uid", "scene_id", "gold_refs", F.explode("cands").alias("c")
        )
        .select(
            "mention_uid",
            "scene_id",
            "gold_refs",
            F.col("c.ref").alias("ref"),
            F.col("c.pseudo").alias("pseudo"),
            F.col("c.fs").alias("fs"),
        )
    )
    pseudo_hits = (
        cand_rows.filter(F.col("pseudo") == 1.0)
        .select(
            "mention_uid", "ref", "scene_id", F.explode("gold_refs").alias("lab")
        )
        .join(
            nm_lab.withColumnRenamed("norm", "ref"),
            ["scene_id", "ref", "lab"],
            "left_semi",
        )
        .select("mention_uid", "ref")
        .distinct()
        .withColumn("pseudo_y", F.lit(True))
    )
    rows = (
        cand_rows.join(pseudo_hits, ["mention_uid", "ref"], "left")
        .select(
            "mention_uid",
            "ref",
            "fs",
            (
                F.array_contains("gold_refs", F.col("ref"))
                | F.coalesce("pseudo_y", F.lit(False))
            ).alias("y"),
            F.size(F.array_except("gold_refs", F.array(*[F.lit(a) for a in AMBIGUOUS])))
            .alias("n_real_refs"),
        )
        .orderBy("mention_uid", "ref")  # deterministic driver-side order
        .collect()
    )
    groups: dict = {}
    for r in rows:
        groups.setdefault(r["mention_uid"], []).append(
            (r["ref"], np.array(r["fs"], dtype=np.float64), bool(r["y"]),
             r["n_real_refs"])
        )
    X = np.array([c[1] for g in groups.values() for c in g])
    y = np.array([1.0 if c[2] else 0.0 for g in groups.values() for c in g])
    return groups, X, y


def train_logistic(X: np.ndarray, y: np.ndarray, epochs: int, lr: float = 2.0,
                   l2: float = 1e-4) -> np.ndarray:
    """Zero-init full-batch GD on mean log-loss + L2 — deterministic."""
    w = np.zeros(X.shape[1])
    n = len(y)
    for _ in range(epochs):
        p = 1.0 / (1.0 + np.exp(-(X @ w)))
        grad = X.T @ (p - y) / n + l2 * w
        w -= lr * grad
    return w


def pick_tau(groups, w: np.ndarray) -> tuple[float, float, float]:
    """τ maximizing resolved-label accuracy on the training split.
    Returns (tau, acc_at_tau, argmax_acc_when_gold_present)."""
    scored = []
    for cands in groups.values():
        probs = [1.0 / (1.0 + np.exp(-(fs @ w))) for _, fs, _, _ in cands]
        # argmax with the inference tiebreak: max prob, then lexicographic ref
        best_i = min(
            range(len(cands)), key=lambda i: (-probs[i], cands[i][0])
        )
        has_gold = any(c[2] for c in cands)
        # a pronoun whose gold is only #other#/#general# has no correct
        # candidate and SHOULD stay unresolved
        resolvable = cands[0][3] > 0
        scored.append(
            (probs[best_i], cands[best_i][2], has_gold and resolvable)
        )
    n = len(scored)
    best_tau, best_acc = 1.1, sum(1 for _, _, hg in scored if not hg) / n
    for tau in [x / 40.0 for x in range(2, 40)]:
        acc = sum(
            1
            for p, ok, hg in scored
            if (ok if p >= tau else not hg)
        ) / n
        if acc > best_acc + 1e-12:
            best_tau, best_acc = tau, acc
    top1 = [ok for p, ok, hg in scored if hg]
    top1_acc = sum(top1) / len(top1) if top1 else 0.0
    return best_tau, best_acc, top1_acc


def pooled_singular_heads(utt, gold, scope, epochs):
    """--pooled experiment: ONE logistic on the stacked P2+P3+NOM rows —
    the small singular training sets share statistical strength for the
    round-4 lexical/episode features — with class-indicator and
    class×gender interaction columns appended DURING TRAINING ONLY.
    Because every extra column is (base feature × class indicator), the
    trained weights FOLD BACK into three ordinary per-head weight
    vectors (bias/g_match/g_unknown slots shifted per class), so the
    Catalyst inference path is untouched.

    Returns {head: (weights, groups)} with groups for τ-picking."""
    heads = (("P2", ("p2",)), ("P3", ("p3m", "p3f")), ("NOM", ("nom",)))
    per = {}
    for name, kinds in heads:
        per[name] = feature_rows(utt, gold, kinds, scope)
    n_base = len(FEATURES)
    gi, ui = FEATURES.index("g_match"), FEATURES.index("g_unknown")
    # extra columns: [ind_P3, ind_NOM, gm_P3, gu_P3, gm_NOM, gu_NOM]
    Xs, ys = [], []
    for ci, (name, _) in enumerate(heads):
        _, X, y = per[name]
        ext = np.zeros((len(X), 6))
        if name == "P3":
            ext[:, 0] = 1.0
            ext[:, 2] = X[:, gi]
            ext[:, 3] = X[:, ui]
        elif name == "NOM":
            ext[:, 1] = 1.0
            ext[:, 4] = X[:, gi]
            ext[:, 5] = X[:, ui]
        Xs.append(np.hstack([X, ext]))
        ys.append(y)
    w = train_logistic(np.vstack(Xs), np.concatenate(ys), epochs)
    folded = {}
    for name, _ in heads:
        v = w[:n_base].copy()
        if name == "P3":
            v[0] += w[n_base + 0]
            v[gi] += w[n_base + 2]
            v[ui] += w[n_base + 3]
        elif name == "NOM":
            v[0] += w[n_base + 1]
            v[gi] += w[n_base + 4]
            v[ui] += w[n_base + 5]
        folded[name] = (v, per[name][0])
    return folded


def main() -> None:
    split = sys.argv[1] if len(sys.argv) > 1 and not sys.argv[1].startswith("-") else "dev"
    write = "--write" in sys.argv
    epochs = int(sys.argv[sys.argv.index("--epochs") + 1]) if "--epochs" in sys.argv else 3000
    path = f"/root/reference/json/character-identification-{split}.json"
    spark = get_spark(
        app_name="train_coref",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    utt = read_transcript_utterances(spark, path)
    # --ep-mod M:R — keep only episodes with md5(episode_id) % M == R.
    # The split-half generalization check for dev-trained heads: train on
    # one parity, measure on the other, all WITHIN dev (tst stays
    # untouched). Deterministic (md5, no RNG).
    if "--ep-mod" in sys.argv:
        mspec, rspec = sys.argv[sys.argv.index("--ep-mod") + 1].split(":")
        par = (
            F.conv(F.substring(F.md5("episode_id"), 1, 4), 16, 10).cast("long")
            % int(mspec)
        )
        utt = utt.filter(par == int(rspec))
    gold = transcript_gold_mentions(utt).cache()

    tau_override = {}
    for cls in ("p2", "p3", "nom", "ppl"):
        flag = f"--tau-{cls}"
        if flag in sys.argv:
            tau_override[cls.upper()] = float(sys.argv[sys.argv.index(flag) + 1])

    scope = "episode" if "--scope-ep" in sys.argv else "scene"
    # --mask f1,f2 zeroes those feature columns before training (ablation
    # harness — a zero-weight feature is inert at inference, so masked
    # heads need no plan changes); --mask-p2/-p3/-nom/-ppl override PER
    # HEAD (the round-4 ablations showed the argmax differs by head: the
    # plural gate wants the new context/episode features, the small P3 /
    # NOM training sets are diluted by some of them). The committed
    # default must be the sweep argmax over these ablations (CLAUDE.md
    # discipline).
    def _mask_arg(flag: str) -> list[int] | None:
        if flag not in sys.argv:
            return None
        spec = sys.argv[sys.argv.index(flag) + 1]
        if spec in ("", "-", "none"):
            return []
        return [FEATURES.index(n) for n in spec.split(",")]

    global_mask = _mask_arg("--mask") or []
    head_masks = {
        name: _mask_arg(f"--mask-{name.lower()}")
        for name in ("P2", "P3", "NOM", "PPL")
    }
    out = {}
    # PPL is the M5 multi-label membership gate (decode = sigmoid ≥ τ SET,
    # not argmax — plans/coref_scorer.learned_members); its training rows
    # are the same (candidate, in-gold?) pairs, so the shared logistic
    # trainer applies unchanged. Its printed decode_acc is the argmax
    # diagnostic only; the committed τ comes from the multi-membership
    # pairwise-F1 sweep (tools/measure_transcript_rules.py).
    pooled = (
        pooled_singular_heads(utt, gold, scope, epochs)
        if "--pooled" in sys.argv
        else {}
    )
    for name, kinds in (
        ("P2", ("p2",)),
        ("P3", ("p3m", "p3f")),
        ("NOM", ("nom",)),
        ("PPL", ("ppl",)),
    ):
        if name in pooled:
            w, groups = pooled[name]
            y = np.array([1.0 if c[2] else 0.0 for g in groups.values() for c in g])
        else:
            groups, X, y = feature_rows(utt, gold, kinds, scope)
            mask_idx = (
                head_masks[name] if head_masks[name] is not None else global_mask
            )
            if mask_idx:
                X = X.copy()
                X[:, mask_idx] = 0.0
                for g in groups.values():
                    for _, fs, _, _ in g:
                        fs[mask_idx] = 0.0
            w = train_logistic(X, y, epochs)
        acc_tau, acc, top1 = pick_tau(groups, w)
        tau = tau_override.get(name, acc_tau)
        out[name] = (w, tau)
        print(
            f"{name}: {len(groups)} pronouns, {len(y)} candidate rows, "
            f"pos_rate={y.mean():.3f}, top1_acc(gold-present)={top1:.4f}, "
            f"decode_acc@tau={acc_tau:.3f}: {acc:.4f}, committed_tau={tau:.3f}"
        )
        for fname, wi in zip(FEATURES, w):
            print(f"    {fname:14s} {wi:+.4f}")

    body = (
        '"""Pairwise antecedent-scorer weights (see plans/coref_scorer.FEATURES\n'
        "for the feature order). GENERATED by tools/train_coref_scorer.py —\n"
        "deterministic full-batch logistic regression from zero init on the\n"
        f"reference {split} split (trn.json is absent from the released\n"
        "snapshot); tst stays held out. Regenerate byte-identically with:\n\n"
        "    python tools/train_coref_scorer.py "
        + " ".join(
            [split, "--write", "--epochs", str(epochs)]
            + (["--scope-ep"] if scope == "episode" else [])
            + (["--pooled"] if "--pooled" in sys.argv else [])
            + (
                ["--mask", ",".join(FEATURES[i] for i in global_mask)]
                if global_mask
                else []
            )
            + [
                f"--mask-{n.lower()} "
                + (",".join(FEATURES[i] for i in hm) if hm else "none")
                for n, hm in sorted(head_masks.items())
                if hm is not None
            ]
            + [f"--tau-{k.lower()} {v}" for k, v in sorted(tau_override.items())]
        )
        + "\n\n"
        "Reference model being paralleled: latest/model/coref.py:40-95 (CNN\n"
        "ranking model) with the decode of :112-145; this engine's scorer is\n"
        'the deterministic logistic analog mandated by the no-RNG invariant.\n"""\n\n'
    )
    for name in ("P2", "P3", "NOM", "PPL"):
        w, tau = out[name]
        ws = ",\n    ".join(
            f"{v!r},  # {f}" for f, v in zip(FEATURES, w)
        )
        body += f"{name}_WEIGHTS = [\n    {ws}\n]\n{name}_TAU = {tau!r}\n\n"
    body = body.rstrip() + "\n"
    if write:
        with open(PARAMS_PATH, "w") as fh:
            fh.write(body)
        print(f"wrote {PARAMS_PATH}")
    else:
        print(body)
    spark.stop()


if __name__ == "__main__":
    main()
