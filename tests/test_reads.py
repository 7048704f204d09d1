"""Reads of kgforge's own tables take their schema from the parquet
footer: a resume into a finished out dir runs no Spark job, the footer
schema equals Spark's inferred one for every directory kgforge writes,
and each computed stage records how many Spark jobs it ran."""

import datetime as dt
import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from kgforge.checkpoint import CheckpointManager, read_own
from kgforge.incremental import compact, incremental_update
from kgforge.pipeline import run_pipeline
from kgforge.sources import HTML_PREFIX, HTML_SUFFIX

STAGES = ("extracted", "mentions", "candidates", "canon_mapping", "triples")


def _run(spark, fixture_dir, out):
    return run_pipeline(
        spark, f"{fixture_dir}/pages.parquet", f"{fixture_dir}/concept_dict.parquet", out
    )


@pytest.fixture(scope="module")
def built(spark, fixture_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("kgf_reads"))
    return out, _run(spark, fixture_dir, out)


def _jobs_of(spark, call):
    """The return value of `call()` and the Spark jobs it ran, counted
    in a job group wrapped around it."""
    sc = spark.sparkContext
    sc.setJobGroup("kgf-test-reads", "kgf-test-reads")
    before = set(sc.statusTracker().getJobIdsForGroup("kgf-test-reads"))
    try:
        out = call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(set(sc.statusTracker().getJobIdsForGroup("kgf-test-reads")) - before)


def test_resume_runs_no_spark_job(spark, fixture_dir, built):
    out, info = built
    again, jobs = _jobs_of(spark, lambda: _run(spark, fixture_dir, out))
    assert all(s["skipped"] for s in again["stages"])
    assert again["n_triples"] == info["n_triples"]
    assert jobs == 0


def test_computed_stages_record_their_jobs(spark, built):
    out, _ = built
    for stage in STAGES:
        with open(os.path.join(out, "_checkpoints", f"{stage}.json")) as f:
            assert json.load(f)["jobs"] > 0, stage


def test_stage_job_group_restores_the_callers(spark, tmp_path):
    sc = spark.sparkContext
    sc.setJobGroup("kgf-caller", "the caller's group")
    try:
        CheckpointManager(spark, str(tmp_path)).run_stage("ids", lambda: spark.range(3))
        assert sc.getLocalProperty("spark.jobGroup.id") == "kgf-caller"
        assert sc.getLocalProperty("spark.job.description") == "the caller's group"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.getLocalProperty("spark.jobGroup.id") is None


def _digest(df):
    """Order-independent checksum of every row and the row count."""
    h = F.xxhash64(*df.columns).cast("decimal(38,0)")
    return tuple(df.agg(F.sum(h), F.count(F.lit(1))).first())


def _same_read(spark, path):
    own, inferred = read_own(spark, path), spark.read.parquet(path)
    assert own.schema == inferred.schema, path
    assert _digest(own) == _digest(inferred.select(*own.columns)), path


def test_footer_schema_equals_inferred_for_every_written_dir(
    spark, fixture_dir, built, tmp_path
):
    src, _ = built
    out = str(tmp_path / "out")
    shutil.copytree(src, out)
    text = "spark joins shuffle partitions broadcast window merge sort filter query plan"
    html = (HTML_PREFIX + text + HTML_SUFFIX).encode("utf-8")
    batch = str(tmp_path / "batch.parquet")
    spark.createDataFrame(
        [(f"https://reads.example.com/{i}", dt.datetime(2024, 6, i + 1), html, text, "en")
         for i in range(3)],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    ).write.parquet(batch)
    info = incremental_update(
        spark, out, batch, f"{fixture_dir}/concept_dict.parquet", auto_compact_after=None
    )
    inc = os.path.join(out, "increments", info["batch"])
    for d in (
        *(os.path.join(out, s) for s in STAGES),
        *(os.path.join(inc, s) for s in ("extracted", "mapping", "triples")),
        os.path.join(out, "_metrics"),
        os.path.join(out, "_metrics_canon"),
    ):
        _same_read(spark, d)
    compact(spark, out)
    for s in ("triples", "canon_mapping", "extracted"):
        _same_read(spark, os.path.join(out, s))
