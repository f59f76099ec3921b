"""Corpus-from-files sources: text-dir scan, line dictionaries, points CSV.

Reference parity (SURVEY.md §2.1):
- S1 recursive text-dir scan (ref sources/1.1/source/task1_1.java:169-170)
- S2 path-derived doc id `<parentDir>.<basename-before-first-dot>`
     (ref sources/1.1/source/task1_1.java:43-49)
- S3 README exclusion (ref sources/1.1/source/task1_1.java:47)
- S4 line dictionaries: 1-based line number = id
     (ref sources/1.1/source/task1_1.java:92-119)
- S5 stopword file (ref sources/1.1/source/task1_1.java:102-109)
- S6 2-D points CSV with header + malformed-row drop
     (ref sources/2.1/source/task2_1.java:74-89,155-169)

Scale: the corpus scan is a distributed text read with path-derived
columns — no driver involvement. Dictionaries are small by contract
(a vocabulary); they are loaded as DataFrames meant for ``broadcast()``
joins, replacing the reference's per-task replicated HashMaps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def read_corpus(spark: SparkSession, root: str, wholetext: bool = True) -> DataFrame:
    """S1-S3: recursive scan of a text-file corpus.

    Returns (path, doc_id, text|line). ``doc_id`` is the reference's
    `<category-dir>.<file-stem>` convention ("business.001");
    `README*` files are excluded. With ``wholetext=True`` each file is one
    row (one document); otherwise line-wise (the reference's shape — same
    downstream counts since the token aggregate is per (doc, term)).
    """
    df = (
        spark.read.option("recursiveFileLookup", "true")
        .option("wholetext", str(wholetext).lower())
        .text(root)
    )
    path = F.input_file_name()
    stem = F.split(F.element_at(F.split(path, "/"), -1), r"\.").getItem(0)
    parent = F.element_at(F.split(path, "/"), -2)
    return (
        df.select(
            path.alias("path"),
            F.concat_ws(".", parent, stem).alias("doc_id"),
            F.col("value").alias("text"),
        )
        .filter(stem != "README")
    )


def load_line_dict(
    spark: SparkSession, path: str, token_col: str = "token", id_col: str = "id"
) -> DataFrame:
    """S4: line-oriented dictionary -> (token, id) with 1-based line ids.

    Line order is recovered per-file: text splits of one file are ordered
    by byte offset, so ``monotonically_increasing_id`` (partition-prefixed)
    sorts in file order. Dictionaries are vocabulary-sized — broadcast the
    result into joins (replaces the reference's per-task HashMap reload).
    CRLF-safe.
    """
    w = Window.orderBy("__mono")
    return (
        spark.read.text(path)
        .select(
            F.regexp_replace("value", "\r$", "").alias(token_col),
            F.monotonically_increasing_id().alias("__mono"),
        )
        .withColumn(id_col, F.row_number().over(w))
        .drop("__mono")
    )


def load_stopwords(spark: SparkSession, path: str) -> tuple[str, ...]:
    """S5: stopword file -> trimmed driver-side tuple (closure-broadcast).

    Stopword lists are tiny constants; shipping them in the closure (or an
    ``isin`` literal list) beats a join. Matches the reference's trimmed
    HashSet semantics."""
    rows = spark.read.text(path).collect()
    return tuple(r["value"].strip() for r in rows if r["value"].strip())


# field names match the file header, so Spark's header check passes
POINTS_SCHEMA = "`class` INT, x1 DOUBLE, x2 DOUBLE"


def read_points_csv(spark: SparkSession, path: str) -> DataFrame:
    """S6: `class,x1,x2` CSV -> (cls, x1, x2); header row + malformed rows
    dropped.

    DROPMALFORMED also covers the reference's "skip rows whose first field
    starts with 'c'" hack (P7) — those rows fail the INT cast."""
    return (
        spark.read.option("header", "true")
        .option("mode", "DROPMALFORMED")
        .schema(POINTS_SCHEMA)
        .csv(path)
        .dropna()
        .withColumnRenamed("class", "cls")
    )
