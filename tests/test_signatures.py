"""A page's MinHash signature is stored once, in `extracted`: the build,
every crawl batch and the compacted base carry it, canonicalization
blocks on it, and a batch neither recomputes the base's signatures nor
keeps them anywhere else."""

import datetime as dt
import os
import shutil

import pytest
from pyspark.sql import functions as F

from kgforge import canon as C
from kgforge.checkpoint import read_own
from kgforge.incremental import compact, incremental_update
from kgforge.pipeline import run_pipeline
from kgforge.sources import HTML_PREFIX, HTML_SUFFIX

SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"
DUP = "spark joins shuffle partitions broadcast window merge sort filter query plan"
GROUP = "kgf-test-signatures"


def _page(url, day, text):
    return (url, dt.datetime(2024, 6, day), (HTML_PREFIX + text + HTML_SUFFIX).encode("utf-8"), text, "en")


@pytest.fixture(scope="module")
def built(spark, fixture_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("sig_base") / "out")
    run_pipeline(
        spark, f"{fixture_dir}/pages.parquet", f"{fixture_dir}/concept_dict.parquet", out
    )
    return out


@pytest.fixture(scope="module")
def merged(spark, fixture_dir, built, tmp_path_factory):
    """A copy of the build, one batch (a clone of a base page and a
    batch-only near-duplicate pair) merged under a caller's job group,
    then compacted; every C.minhash_signatures call is counted. Returns
    the out dir, the batch dir as committed (copied before compaction
    folds it), the caller-group job count and the signature calls."""
    d = tmp_path_factory.mktemp("sig_merged")
    out = str(d / "out")
    shutil.copytree(built, out)
    first = spark.read.parquet(f"{fixture_dir}/pages.parquet").filter(
        "lang = 'en'"
    ).orderBy("url").first()
    batch = str(d / "batch.parquet")
    spark.createDataFrame(
        [
            ("https://zzz.example.com/clone", dt.datetime(2024, 6, 5), bytes(first["html"]),
             first["text"], "en"),
            _page("https://sig.example.com/a", 1, DUP),
            _page("https://sig.example.com/b", 2, DUP),
        ],
        SCHEMA,
    ).write.parquet(batch)
    calls = []
    sigs = C.minhash_signatures
    sc = spark.sparkContext
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(C, "minhash_signatures", lambda *a, **k: calls.append(1) or sigs(*a, **k))
        sc.setJobGroup(GROUP, GROUP)
        before = set(sc.statusTracker().getJobIdsForGroup(GROUP))
        try:
            info = incremental_update(
                spark, out, batch, f"{fixture_dir}/concept_dict.parquet",
                auto_compact_after=None,
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        jobs = len(set(sc.statusTracker().getJobIdsForGroup(GROUP)) - before)
        committed = str(d / "batch")
        shutil.copytree(os.path.join(out, "increments", info["batch"]), committed)
        compact(spark, out)
    return out, committed, info, jobs, len(calls)


def _assert_sig_is_minhash(spark, path):
    ext = read_own(spark, path)
    want = C.minhash_signatures(ext, "text", "url").withColumnRenamed("sig", "want")
    got = ext.select("url", "sig").join(want, "url", "full_outer")
    assert got.count() == ext.count() > 0, path
    assert got.filter(~F.col("sig").eqNullSafe(F.col("want"))).count() == 0, path


def test_extracted_carries_the_minhash_signature(spark, built, merged):
    out, committed, _info, _jobs, _calls = merged
    for path in (f"{built}/extracted", f"{committed}/extracted", f"{out}/extracted"):
        _assert_sig_is_minhash(spark, path)


def test_batch_and_compaction_keep_no_signature_sidecar(merged):
    out, _committed, info, _jobs, calls = merged
    assert info["n_new_base_edges"] >= 1  # the clone anchored to the base
    assert calls == 0
    assert not os.path.exists(f"{out}/signatures")
    assert not any(n.startswith(".signatures") for n in os.listdir(out))


def test_batch_runs_every_job_inside_its_stages(merged):
    """The canonicalization delta, its capped-block record and the
    dictionary prep run inside the batch's stage job groups, so the
    stage manifests count the batch's whole work."""
    _out, _committed, _info, jobs, _calls = merged
    assert jobs == 0


def test_canonicalize_blocks_on_the_stored_signature(spark, built, monkeypatch):
    calls = []
    make = C.make_minhash_udf
    monkeypatch.setattr(C, "make_minhash_udf", lambda *a, **k: calls.append(1) or make(*a, **k))
    mapping, _metrics = C.canonicalize(read_own(spark, f"{built}/extracted"))
    got = {tuple(r) for r in mapping.collect()}
    assert calls == []
    assert got == {tuple(r) for r in read_own(spark, f"{built}/canon_mapping").collect()}
