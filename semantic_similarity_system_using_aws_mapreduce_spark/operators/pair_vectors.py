"""Stage 4 — labelled pair vectors (reference Step4).

Three reference mechanisms collapse into declarative relational ops:

  * J3: the gold standard, loaded into every mapper's memory and probed
    with containsKey + fan-out loop (Step4.java:84-165), becomes a
    broadcast semi-join of assoc against the gold words: only gold
    words' rows survive the scan.  Each surviving word's rows are then
    grouped into ONE ``map<feature, struct<freq, prob, pmi, ttest>>``
    (partial ``collect_list`` before the shuffle, ``map_from_entries``
    after it).  ``map_from_entries`` needs ``(lexeme, feature)`` to be
    unique in assoc, which Step1's ``groupBy`` guarantees.
  * J4: the CompositeKey secondary sort + grouping comparator + stream
    pairing of feature-sorted values (Step4.java:20-68, :196-247,
    :378-409) is exactly a zero-filled full-outer alignment of the two
    words' sparse feature vectors.  Both words' maps are left-joined
    onto each distinct gold pair (a pair with neither word in assoc
    drops out, as the reference emits nothing for it), and
    ``map_zip_with`` over the two maps, with 0 for a missing side,
    followed by ``explode`` yields the aligned per-feature rows.
  * A5/D1-D6: the reducer's 24 running accumulators (Step4.java:181-186,
    :327-363) are 4 x 6 built-in aggregate expressions (similarity.py).

Scale notes (100 TB): assoc is huge; gold is tiny (~15k pairs).  A
gold word's features cross the network once, as one map, however many
gold pairs it is in; the per-(pair, feature) rows are made after the
joins and are summed per pair before any shuffle.

  * The gold relation is read once: the word list is exploded from the
    distinct pairs, so the stem UDF runs in one stage and the pairs'
    exchange is reused.  Both sides join the same ``vecs`` relation,
    so its exchange is reused too.
  * The maps are broadcast when Spark's size estimate for them is under
    ``spark.sql.autoBroadcastJoinThreshold`` (64m in ``get_spark``).
    Without column statistics that estimate is about assoc's own: the
    semi-join keeps the left side's estimate and the grouping only
    rescales it by row width, so it does not see that few words are
    gold words.  Where the estimate is too high, AQE can still turn the
    joins into broadcasts at run time, once the materialized maps are
    under ``spark.sql.adaptive.autoBroadcastJoinThreshold``.  On the
    job-flow benchmark's inputs the maps broadcast at plan time both
    over the assoc checkpoint and with assoc computed in the same plan
    (EXPLAIN dumps under ``plans/``).  With the maps broadcast, the only shuffles are the
    gold pairs' ``distinct`` and the maps' ``collect_list``; the pairs
    stay hash-partitioned by their keys, so the per-pair aggregation
    adds none.
  * Maps too large to broadcast: the left joins sort-merge.  The pairs
    are shuffled by ``word1``; then each pair, with ``word1``'s map
    attached, is shuffled by ``word2``, so ``word1``'s map crosses the
    network once per gold pair it is in.  The maps' own exchange (by
    lexeme) serves both joins, and the per-pair aggregation runs on the
    ``word2`` partitioning without a further shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from semantic_similarity_system_using_aws_mapreduce_spark.operators.similarity import similarity_measures
from semantic_similarity_system_using_aws_mapreduce_spark.schemas import ASSOC_MEASURES, VECTOR_COLUMNS

_ASSOC_COLS = {
    "freq": "assoc_freq",
    "prob": "assoc_prob",
    "pmi": "assoc_pmi",
    "ttest": "assoc_ttest",
}


def pair_feature_matrix(assoc: DataFrame, gold: DataFrame) -> DataFrame:
    """Zero-filled feature alignment (J3 + J4): one row per
    (word1, word2, is_related, feature) with both words' four
    association values, the missing side filled with 0 (the reference's
    ZEROS rows, Step4.java:179, :230-247).  A pair neither of whose
    words occurs in ``assoc`` has no rows."""
    pairs = gold.select("word1", "word2", F.col("related").alias("is_related")).distinct()
    words = pairs.select(F.explode(F.array("word1", "word2")).alias("lexeme"))
    values = F.struct(*[F.col(col).alias(short) for short, col in _ASSOC_COLS.items()])
    vecs = (
        assoc.join(F.broadcast(words), "lexeme", "left_semi")
        .groupBy("lexeme")
        .agg(F.map_from_entries(F.collect_list(F.struct("feature", values))).alias("vec"))
    )
    joined = (
        pairs.join(vecs.toDF("word1", "x"), "word1", "left")
        .join(vecs.toDF("word2", "y"), "word2", "left")
        .filter(F.col("x").isNotNull() | F.col("y").isNotNull())
    )
    empty = F.create_map().cast(vecs.schema["vec"].dataType)

    def zero_filled(_, xv, yv):
        cols = []
        for short in _ASSOC_COLS:
            cols.append(F.coalesce(xv[short], F.lit(0.0)).alias(f"x_{short}"))
            cols.append(F.coalesce(yv[short], F.lit(0.0)).alias(f"y_{short}"))
        return F.struct(*cols)

    aligned = F.map_zip_with(F.coalesce("x", empty), F.coalesce("y", empty), zero_filled)
    return joined.select(
        "word1", "word2", "is_related", F.explode(aligned).alias("feature", "v")
    ).select("word1", "word2", "is_related", "feature", "v.*")


def pair_vectors(
    assoc: DataFrame, gold: DataFrame, mode: str = "standard", with_array: bool = True
) -> DataFrame:
    """R4 ``pair_vectors``: per gold pair, the 4x6 matrix of
    (association measure x similarity measure) flattened row-major into
    24 named double columns (order = reference ARFF attribute order,
    Step5.java:80-86) plus an array<double> for MLlib."""
    aligned = pair_feature_matrix(assoc, gold)
    aggs = []
    for a in ASSOC_MEASURES:
        measures = similarity_measures(F.col(f"x_{a}"), F.col(f"y_{a}"), mode=mode)
        for s, expr in measures.items():
            aggs.append(expr.alias(f"{a}_{s}"))
    out = aligned.groupBy("word1", "word2", "is_related").agg(*aggs)
    if with_array:
        out = out.withColumn("vec", F.array(*[F.col(c) for c in VECTOR_COLUMNS]))
    return out
