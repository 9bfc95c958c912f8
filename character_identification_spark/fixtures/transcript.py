"""Reference-format transcript JSON → utterances + gold_mentions adapter.

Reads the *released* schema of the reference corpus
(/root/reference/json/character-identification-{dev,tst}.json, documented at
/root/reference/README.md:40-62): season → episodes → scenes → utterances
with utterance_id, speakers, transcript, tokens (sentences × tokens) and
character_entities ([begin, end, entity(, entity)*], begin inclusive / end
exclusive). Parsed with an explicit StructType (never inferSchema — the
reference enforces its schema by hard-coded key access, reference:
latest/tools/ioutils.py:79-86; we enforce it declaratively).

Reference ingest semantics reproduced (re-derived, not copied):
  * mentions whose label list is exactly ["Non-Entity"] are dropped
    (reference: latest/tools/ioutils.py:120-121)
  * labels lower-cased (reference: latest/tools/mention.py:11-12)
  * plural mentions: "#general#" → "#other#", labels deduped
    (reference: latest/tools/ioutils.py:126-127, dedup :65)
  * plural labels unseen among the scene's singular labels → "#other#"
    (reference: latest/tools/ioutils.py:54-68)

Block key = scene_id — the reference's blocking unit (latest/system.py:46).
A mention's url is its utterance's (https://fixture.test/<utt_id>).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from character_identification_spark.functions.hashing import h_long

_ENTITY = T.ArrayType(T.StringType())  # [begin, end, label...] as strings

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("season_id", T.StringType()),
        T.StructField(
            "episodes",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("episode_id", T.StringType()),
                        T.StructField(
                            "scenes",
                            T.ArrayType(
                                T.StructType(
                                    [
                                        T.StructField("scene_id", T.StringType()),
                                        T.StructField(
                                            "utterances",
                                            T.ArrayType(
                                                T.StructType(
                                                    [
                                                        T.StructField("utterance_id", T.StringType()),
                                                        T.StructField("speakers", T.ArrayType(T.StringType())),
                                                        T.StructField("transcript", T.StringType()),
                                                        T.StructField("tokens", T.ArrayType(T.ArrayType(T.StringType()))),
                                                        T.StructField("character_entities", T.ArrayType(T.ArrayType(_ENTITY))),
                                                    ]
                                                )
                                            ),
                                        ),
                                    ]
                                )
                            ),
                        ),
                    ]
                )
            ),
        ),
    ]
)


def read_transcript_utterances(spark: SparkSession, path: str) -> DataFrame:
    """One row per utterance with scene/episode keys and document order."""
    raw = spark.read.schema(TRANSCRIPT_SCHEMA).option("multiLine", "true").json(path)
    return (
        raw.select("season_id", F.explode("episodes").alias("ep"))
        .select("season_id", F.col("ep.episode_id").alias("episode_id"), F.explode("ep.scenes").alias("sc"))
        .select(
            "season_id",
            "episode_id",
            F.col("sc.scene_id").alias("scene_id"),
            F.posexplode("sc.utterances").alias("utt_idx", "u"),
        )
        .select(
            "season_id",
            "episode_id",
            "scene_id",
            "utt_idx",
            F.col("u.utterance_id").alias("utterance_id"),
            F.col("u.speakers").alias("speakers"),
            F.col("u.transcript").alias("transcript"),
            F.col("u.tokens").alias("tokens"),
            F.col("u.character_entities").alias("character_entities"),
        )
    )


def transcript_gold_mentions(utterances: DataFrame) -> DataFrame:
    """Utterances → gold_mentions(url, mention_uid, mention_idx, surface,
    gold_refs, plural, block_key) with reference filter semantics."""
    m = (
        utterances.select(
            "scene_id",
            "utterance_id",
            "utt_idx",
            F.posexplode(F.arrays_zip("tokens", "character_entities")).alias("sent_idx", "z"),
        )
        .select(
            "scene_id",
            "utterance_id",
            "utt_idx",
            "sent_idx",
            F.col("z.tokens").alias("sent_tokens"),
            F.explode(F.coalesce("z.character_entities", F.array())).alias("ent"),
        )
        .select(
            "scene_id",
            "utterance_id",
            "utt_idx",
            "sent_idx",
            F.element_at("ent", 1).cast("int").alias("begin"),
            F.element_at("ent", 2).cast("int").alias("end"),
            F.transform(F.slice("ent", 3, 1000), lambda x: F.lower(x)).alias("refs"),
            "sent_tokens",
        )
        # drop Non-Entity mentions (ref: ioutils.py:120-121)
        .filter(F.col("refs") != F.array(F.lit("non-entity")))
        .withColumn(
            "surface",
            F.array_join(
                F.slice("sent_tokens", F.col("begin") + 1, F.col("end") - F.col("begin")),
                " ",
            ),
        )
        .withColumn("plural", F.size("refs") > 1)
        # plural: #general# → #other#, dedup (ref: ioutils.py:126-127,65)
        .withColumn(
            "refs",
            F.when(
                F.col("plural"),
                F.array_distinct(
                    F.transform(
                        "refs",
                        lambda x: F.when(x == "#general#", "#other#").otherwise(x),
                    )
                ),
            ).otherwise(F.col("refs")),
        )
    )
    # scene-level singular label vocabulary (ref: ioutils.py:54-68)
    scene_singular = (
        m.filter(~F.col("plural"))
        .select("scene_id", F.explode("refs").alias("lbl"))
        .groupBy("scene_id")
        .agg(F.collect_set("lbl").alias("scene_labels"))
    )
    coarsened = (
        m.join(scene_singular, "scene_id", "left")
        .withColumn(
            "gold_refs",
            F.when(
                F.col("plural"),
                F.array_distinct(
                    F.transform(
                        "refs",
                        lambda x: F.when(
                            F.array_contains(F.coalesce("scene_labels", F.array()), x) | (x == "#other#"),
                            x,
                        ).otherwise(F.lit("#other#")),
                    )
                ),
            ).otherwise(F.col("refs")),
        )
        .drop("scene_labels", "refs")
    )
    w = Window.partitionBy("utterance_id").orderBy("sent_idx", "begin", "end")
    return (
        coarsened.withColumn("mention_idx", F.row_number().over(w) - 1)
        .withColumn(
            "url", F.concat(F.lit("https://fixture.test/"), F.col("utterance_id"))
        )
        .withColumn(
            "mention_uid",
            h_long(F.concat_ws("#", F.col("url"), F.col("mention_idx"))),
        )
        .select(
            "url",
            "utterance_id",
            "mention_uid",
            "mention_idx",
            "utt_idx",
            "sent_idx",
            "begin",
            "end",
            "surface",
            "gold_refs",
            "plural",
            F.col("scene_id").alias("block_key"),
        )
    )
