"""Measure the transcript linker's rule variants on the REAL reference
dev set — the harness behind the BASELINE.md sweep table.

Usage:
    python tools/measure_transcript_rules.py [dev|tst] [mode ...]

For each p3 strategy (plans/transcript_link.P3_MODES, or the modes given
on argv) prints pairwise P/R/F1 at scene blocking keys plus per-rule
accuracy against the singular gold labels. The committed default
`p3_mode` must be the argmax of this sweep (CLAUDE.md invariant: gate
thresholds are re-derived from measurements, never loosened ad hoc).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from character_identification_spark.evaluation.pairf1 import (
    gold_pairs_from_mentions,
    pairwise_f1,
)
from character_identification_spark.fixtures.transcript import (
    read_transcript_utterances,
    transcript_gold_mentions,
)
from character_identification_spark.plans.transcript_link import (
    P3_MODES,
    link_transcript_mentions,
)
from character_identification_spark.session import get_spark


def rule_accuracy(assign, gold) -> dict[str, tuple[int, int]]:
    """kind → (correct, total) of auto_ref vs the singular gold label."""
    lbl = (
        gold.filter(~F.col("plural") & (F.size("gold_refs") == 1))
        .select("mention_uid", F.element_at("gold_refs", 1).alias("gold_ref"))
    )
    j = assign.join(lbl, "mention_uid").groupBy("kind").agg(
        F.sum(
            F.when(F.col("auto_ref") == F.col("gold_ref"), 1).otherwise(0)
        ).alias("ok"),
        F.count(F.lit(1)).alias("n"),
    )
    return {r["kind"]: (r["ok"], r["n"]) for r in j.collect()}


def main() -> None:
    split = sys.argv[1] if len(sys.argv) > 1 else "dev"
    args = sys.argv[2:]
    if "--ep-mod" in args:
        i = args.index("--ep-mod")
        args = args[:i] + args[i + 2:]
    modes = args or list(P3_MODES)
    path = f"/root/reference/json/character-identification-{split}.json"
    spark = get_spark(
        app_name="measure_rules",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    utt = read_transcript_utterances(spark, path)
    # --ep-mod M:R mirrors tools/train_coref_scorer.py's split-half
    # filter: measure on the episode parity the head was NOT trained on
    # (dev-internal generalization check; tst stays held out).
    if "--ep-mod" in sys.argv:
        i = sys.argv.index("--ep-mod")
        mspec, rspec = sys.argv[i + 1].split(":")
        par = (
            F.conv(F.substring(F.md5("episode_id"), 1, 4), 16, 10).cast("long")
            % int(mspec)
        )
        utt = utt.filter(par == int(rspec))
    gold = transcript_gold_mentions(utt).cache()
    gp = gold_pairs_from_mentions(gold).cache()
    gp.count()
    multi = "--multi" in sys.argv
    modes = [m for m in modes if m != "--multi"]
    for mode in modes:
        # "p3mode[@tau][:ep][/p2mode[@tau]][/nom@tau][/ppl@tau]" (p2
        # default "prev"; the :ep suffix widens antecedent-event windows
        # to the episode; nom@/ppl@ pin the nominal-head and M5
        # plural-gate thresholds for their sweeps)
        segs = mode.split("/")
        p3spec, rest = segs[0], segs[1:]
        # cross-scene episode-anchor pools (round 5): ':pa' or ':pa0.65'
        # (dominance-gated — anchor only when the winner holds ≥ τ of the
        # earlier gendered event mass)
        pa: bool | float = False
        import re as _re

        mm = _re.search(r":pa([0-9.]*)", p3spec)
        if mm:
            pa = float(mm.group(1)) if mm.group(1) else True
            p3spec = p3spec[: mm.start()] + p3spec[mm.end():]
        scope = "episode" if p3spec.endswith(":ep") else "scene"
        p3spec = p3spec.removesuffix(":ep")
        p3m, _, p3t = p3spec.partition("@")
        p2m = p2t = nom_t = ppl_t = p2m_t = ""
        for s in rest:
            if s.startswith("nom@"):
                nom_t = s[4:]
            elif s.startswith("ppl@"):
                ppl_t = s[4:]
            elif s.startswith("p2m@"):
                p2m_t = s[4:]
            else:
                p2m, _, p2t = s.partition("@")
        assign = link_transcript_mentions(
            utt, gold, p3_mode=p3m, p2_mode=p2m or "prev",
            p3_tau=float(p3t) if p3t else None,
            p2_tau=float(p2t) if p2t else None,
            nom_tau=float(nom_t) if nom_t else None,
            ppl_tau=float(ppl_t) if ppl_t else None,
            p2m_tau=float(p2m_t) if p2m_t else None,
            event_scope=scope,
            pool_anchor=pa,
        ).cache()
        ev = pairwise_f1(assign, gp)
        acc = rule_accuracy(assign, gold)
        accs = " ".join(
            f"{k}={acc[k][0]}/{acc[k][1]}" for k in sorted(acc)
        )
        extra = ""
        if multi:
            from character_identification_spark.evaluation.pairf1 import (
                pairwise_f1_multi,
            )
            from character_identification_spark.plans.transcript_link import (
                membership_rows,
            )

            mv = pairwise_f1_multi(membership_rows(assign), gp)
            extra = f"  multiF1={mv['f1']:.4f}"
        print(
            f"{split} {mode:24s} P={ev['precision']:.4f} R={ev['recall']:.4f} "
            f"F1={ev['f1']:.4f}{extra}  {accs}"
        )
        assign.unpersist()
    spark.stop()


if __name__ == "__main__":
    main()
