"""Source registry — the analog of the reference's synonym/view layer.

The reference binds logical names to physical tables via synonyms and
filtered views so the transform is site-portable
(Oracle/PCORNetLoader_ora.sql:94-137, MSSQL/PCORNetLoader.sql:41-92).
Here the same indirection is a thin registry over parquet paths (or an
Iceberg catalog when its jars are present — gated behind import-try, the
fallback-source pattern of Oracle/PCORNetLoader_ora.sql:166-177).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kgforge.checkpoint import publishing

TPCH_TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def have_iceberg(spark: SparkSession) -> bool:
    """True when an Iceberg catalog is usable in this session."""
    try:
        spark._jvm.org.apache.iceberg.Schema  # noqa: SLF001
        return True
    except Exception:
        return False


def read_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Logical-name -> DataFrame binding (synonym analog)."""
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def read_table_or_empty(
    spark: SparkSession, name: str, sf_dir: str, schema: T.StructType
) -> DataFrame:
    """Optional source that degrades to an empty relation — the loyalty-view
    fallback (Oracle/PCORNetLoader_ora.sql:166-177)."""
    try:
        return spark.read.parquet(f"{sf_dir}/{name}.parquet")
    except Exception:
        return spark.createDataFrame([], schema)


# ---------------------------------------------------------------------------
# `pages` derivation: the engine's primary input has the exact shape of
# BASELINE.json input_hint — (url, warc_ts, html, text, lang).  For the
# driver's DuckDB-checkable queries we derive a deterministic pages view
# from the pre-generated `documents` table; the standalone synthetic
# generator (kgforge.synth) produces the same shape with richer dirty
# cases for the pytest goldens.
# ---------------------------------------------------------------------------

HTML_PREFIX = "<html><head><title>d</title></head><body><nav>menu home about</nav><p>"
HTML_SUFFIX = "</p><footer>contact terms</footer></body></html>"


def pages_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents(doc_id, text, lang, source, n_chars) -> pages.

    url is a deterministic function of (source, doc_id); warc_ts is a
    deterministic offset into 2023; html wraps text in fixed boilerplate
    so the extraction stage has real work to undo byte-identically.
    """
    d = read_table(spark, "documents", sf_dir)
    return d.select(
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com/doc/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        (
            F.to_timestamp(F.lit("2023-01-01 00:00:00"))
            + F.make_interval(secs=(F.col("doc_id") % 31536000).cast("double"))
        ).alias("warc_ts"),
        F.encode(
            F.concat(F.lit(HTML_PREFIX), F.col("text"), F.lit(HTML_SUFFIX)),
            "UTF-8",
        ).alias("html"),
        F.col("text"),
        F.col("lang"),
    )


PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)


DOCUMENTS_FIELDS = [
    T.StructField("doc_id", T.LongType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("lang", T.StringType(), True),
    T.StructField("source", T.StringType(), True),
    T.StructField("n_chars", T.LongType(), True),
]

QUARANTINE_COL = "_quarantine"


def read_documents_text(
    spark: SparkSession, path: str, fmt: str = "jsonl"
) -> DataFrame:
    """Webtext ingestion for line-oriented formats: documents arriving
    as JSONL or CSV, optionally gzipped (Spark decompresses *.gz
    transparently; each gz file is one non-splittable task, so crawl
    dumps should arrive as many files — the WARC/CC convention).

    The schema is EXPLICIT (inference would add a full extra pass over
    100 TB) and the read is PERMISSIVE: a malformed line lands in the
    `_quarantine` column instead of failing the job (FAILFAST would
    kill a week-long backfill for one bad line; DROPMALFORMED would
    lose it silently — the same no-silent-drops rule the blocking caps
    follow). Split the result with `split_quarantine`.

    Source-binding analog of the reference's synonym/view layer
    (Oracle/PCORNetLoader_ora.sql:94-137) for non-table physical
    formats."""
    schema = T.StructType(
        DOCUMENTS_FIELDS + [T.StructField(QUARANTINE_COL, T.StringType(), True)]
    )
    reader = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", QUARANTINE_COL)
    )
    if fmt == "jsonl":
        return reader.json(path)
    if fmt == "csv":
        return reader.option("header", True).csv(path)
    raise ValueError(f"unknown text source format {fmt!r}")


def split_quarantine(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(good_rows, quarantined_raw_lines). The cache is required: Spark
    refuses plans that reference ONLY the internal corrupt-record
    column of a JSON/CSV scan (SPARK-21610), and at ingestion scale the
    batch is about to be consumed anyway."""
    df = df.cache()
    good = df.filter(F.col(QUARANTINE_COL).isNull()).drop(QUARANTINE_COL)
    bad = df.filter(F.col(QUARANTINE_COL).isNotNull()).select(
        F.col(QUARANTINE_COL).alias("raw_line")
    )
    return good, bad


def write_triples(
    df: DataFrame, target: str, mode: str = "overwrite", table_writer=None
) -> str:
    """Triple sink — publishes the final triple set.

    `target` is either an Iceberg table identifier (no '/'; e.g.
    `cat.db.triples`) or a filesystem path. When the identifier form is
    given AND the session has the Iceberg jars, this takes the
    `writeTo(...).overwritePartitions()` path on a table partitioned by
    pred (+ bucket(subj) in the table's partition spec); otherwise it
    writes parquet partitioned by pred — the same pruning behavior for
    readers; a parquet overwrite goes through checkpoint.publishing, so
    a failed write leaves the old target readable. Returns which sink
    was used ('iceberg' | 'parquet').

    `table_writer` injects the DataFrameWriterV2 factory (defaults to
    `df.writeTo`) so the identifier branch's mode/routing logic is unit-
    testable in a container without Iceberg jars — the branch would
    otherwise be permanently unexecutable here (the reference's table
    sinks, Oracle/PCORNetLoader_ora.sql:1334, have no such environment
    dependency)."""
    spark = df.sparkSession
    is_identifier = "/" not in target and not target.startswith("file:")
    if is_identifier:
        if table_writer is None:
            if not have_iceberg(spark):
                raise RuntimeError(
                    f"target {target!r} is a table identifier but no Iceberg "
                    "catalog is available in this session; pass a path for "
                    "the parquet fallback"
                )
            table_writer = df.writeTo
        w = table_writer(target)
        if mode == "overwrite":
            w.createOrReplace()
        else:
            w.append()
        return "iceberg"
    if mode == "overwrite":  # published: a failing write leaves the old table
        with publishing(target.removeprefix("file:")) as tmp:
            df.write.partitionBy("pred").parquet(tmp)
    else:
        df.write.mode(mode).partitionBy("pred").parquet(target)
    return "parquet"
