"""Reconciliation metrics — the i2pReport analog
(Oracle/PCORNetLoader_ora.sql:2451-2565).

The reference appends per-table (runid, name, sourceval, destval, diff)
rows to i2pReport and sites mail the table in as acceptance evidence.
Here: one metrics DataFrame per run with per-stage / per-predicate
counts and distinct-subject counts, written next to the triple output.
Exact counts gate the tests; at 10^12-doc scale the monitoring variant
uses approx_count_distinct (documented at SURVEY.md §2.4).
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def triple_report(triples: DataFrame) -> DataFrame:
    """Per-predicate reconciliation: counts, distinct subjects, max
    source timestamp (the data-freshness metric,
    MSSQL/PCORNetLoader.sql:2516-2524).

    This is the run-internal MONITORING report: distinct subjects use
    approx_count_distinct so the pass over the triple table stays one
    map-side-partial aggregation (SURVEY.md §2.4). The oracle-checked
    exact variant is the kg_report query in kgforge.pipeline."""
    return (
        triples.groupBy("pred")
        .agg(
            F.count(F.lit(1)).alias("n_triples"),
            F.approx_count_distinct("subj").alias("n_subjects"),
            F.max("src_ts").alias("max_src_ts"),
        )
        .orderBy("pred")
    )


def write_metrics(
    metrics: DataFrame, out_dir: str, run_id: str, name: str = "_metrics"
) -> None:
    """Write `metrics` as run `run_id`'s rows of out_dir/name, replacing
    any rows an earlier attempt of that run wrote. Each run id owns one
    parquet file, written under a hidden name and moved over the old one
    (os.replace), so a reader sees the old rows or the new, never both."""
    path = os.path.join(out_dir, name)
    key = hashlib.sha1(run_id.encode("utf-8")).hexdigest()[:16]
    tmp = os.path.join(path, f".{key}.tmp")
    (
        metrics.withColumn("run_id", F.lit(run_id))
        .withColumn("recorded_at", F.lit(int(time.time())))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(tmp)
    )
    # one task writes one file, empty frames included (it carries the schema)
    (part,) = glob.glob(os.path.join(tmp, "part-*.parquet"))
    os.replace(part, os.path.join(path, f"run-{key}.parquet"))
    shutil.rmtree(tmp)


def read_metrics(
    spark: SparkSession, out_dir: str, name: str = "_metrics"
) -> DataFrame:
    return spark.read.parquet(f"{out_dir}/{name}")
