"""Gold-standard word-pair reader.

Format: ``word1<WS>word2<WS>True|False`` with arbitrary whitespace
(reference Step4.java:97-107).  Lines that do not split into exactly 3
tokens are dropped; labels parse case-insensitively, any value other
than ``true`` being false (``Boolean.parseBoolean`` semantics,
Step5.java:112).

The gold standard is small (~400 KB); downstream it is always used as
the broadcast side of a join (the reference loads it into every
mapper's memory in setup(), Step4.java:84-117 — same idea, but Spark's
broadcast ships it once per executor, not once per task).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from semantic_similarity_system_using_aws_mapreduce_spark.functions.stemming import stem_udf


def read_gold_standard(spark: SparkSession, path: str, stem: bool = True) -> DataFrame:
    """Read gold pairs into R5 ``(word1, word2, related)``; words are
    Porter-stemmed like the reference does at load time
    (Step4.java:109-110)."""
    # strip every leading/trailing whitespace character, not just spaces
    # (F.trim): a tab-led or tab-ended line still splits into 3 tokens
    parts = F.split(F.regexp_replace(F.col("value"), r"^\s+|\s+$", ""), r"\s+")
    df = (
        spark.read.text(path)
        .select(parts.alias("p"))
        .filter(F.size("p") == 3)
        .select(
            F.col("p").getItem(0).alias("word1"),
            F.col("p").getItem(1).alias("word2"),
            (F.lower(F.col("p").getItem(2)) == "true").alias("related"),
        )
    )
    if stem:
        df = df.withColumn("word1", stem_udf("word1")).withColumn(
            "word2", stem_udf("word2")
        )
    return df
