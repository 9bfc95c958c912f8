"""spark-submit entry point for the ER pipeline (the north rule's launch
contract: ``spark-submit --py-files ckspark.zip tools/submit_pipeline.py``).

The driver script carries NO engine code — everything imports from the
``character_identification_spark`` package shipped via --py-files, exactly
how a multi-executor cluster run distributes it. Usage:

    python tools/make_pyfiles_zip.py /tmp/ckspark.zip
    spark-submit --master local[8] \
        --py-files /tmp/ckspark.zip \
        tools/submit_pipeline.py \
        --pages /path/pages_parquet --workdir /path/stages \
        [--gold /path/gold_parquet] [--entities-out /path/entities]

On a real cluster only --master / deploy-mode change; the stage
checkpoints land in --workdir (Iceberg when --catalog is set), so a killed
submit resumes from the last committed stage.
Non-local masters checkpoint to spark.checkpoint.dir or <workdir>/_checkpoints.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True, help="pages parquet path")
    ap.add_argument("--workdir", required=True, help="stage-table root")
    ap.add_argument("--gold", help="gold mentions parquet (enables eval)")
    ap.add_argument("--entities-out", help="write canonical entities here")
    ap.add_argument("--catalog", help="Iceberg catalog name (else parquet)")
    ap.add_argument("--keep-lang", default="en")
    ap.add_argument("--threshold", type=float, default=0.82)
    ap.add_argument("--max-block-size", type=int, default=200)
    args = ap.parse_args()

    # import AFTER spark-submit has placed the --py-files zip on sys.path
    from pyspark.sql import SparkSession

    from character_identification_spark.plans.pipeline import (
        PipelineConfig,
        evaluate_pipeline,
        run_pipeline,
    )

    # not session.get_spark: under spark-submit the launcher sets the master and confs
    spark = SparkSession.builder.appName("ck-spark-pipeline").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if spark.sparkContext.getCheckpointDir() is None:
        spark.sparkContext.setCheckpointDir(f"{args.workdir.rstrip('/')}/_checkpoints")
    cfg = PipelineConfig(
        keep_lang=args.keep_lang,
        threshold=args.threshold,
        max_block_size=args.max_block_size,
        catalog=args.catalog,
    )
    pages = spark.read.parquet(args.pages)
    res = run_pipeline(spark, pages, args.workdir, cfg)
    out = {"stages": {k: v.columns for k, v in res.items()}}
    if args.entities_out:
        res["entities"].withColumnRenamed("aliases", "alias_list").write.mode(
            "overwrite"
        ).parquet(args.entities_out)
        out["entities_out"] = args.entities_out
    if args.gold:
        gold = spark.read.parquet(args.gold)
        ev = evaluate_pipeline(res, gold)
        out["eval"] = {k: (round(v, 6) if isinstance(v, float) else v)
                       for k, v in ev.items()}
    print("SUBMIT_RESULT " + json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
