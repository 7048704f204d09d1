"""One stage path: a resume into a finished out dir only reloads its
stages, a recomputed stage replaces its run's report rows, and the canon
stage records the capped LSH blocks it dropped."""

import datetime as dt
import os
import shutil

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgforge.pipeline import run_pipeline
from kgforge.sources import HTML_PREFIX, HTML_SUFFIX


def _run(spark, fixture_dir, out, pages=None):
    return run_pipeline(
        spark,
        pages_path=pages or f"{fixture_dir}/pages.parquet",
        dict_path=f"{fixture_dir}/concept_dict.parquet",
        out_dir=out,
    )


@pytest.fixture(scope="module")
def built(spark, fixture_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("kgf_stage_path"))
    return out, _run(spark, fixture_dir, out)


def _no_work(*_a, **_k):
    raise AssertionError("a resume into a finished out dir must not do this")


def test_resume_does_no_work(spark, fixture_dir, built, monkeypatch):
    """Every stage is skipped and every count comes from the manifests:
    no dictionary prep, no report, no metrics write, no count job."""
    import kgforge.metrics
    import kgforge.ontology
    import kgforge.pipeline

    out, info = built
    monkeypatch.setattr(kgforge.ontology, "clean_dictionary", _no_work)
    for mod in (kgforge.metrics, kgforge.pipeline):
        monkeypatch.setattr(mod, "triple_report", _no_work)
        monkeypatch.setattr(mod, "write_metrics", _no_work)
    monkeypatch.setattr(DataFrame, "count", _no_work)
    again = _run(spark, fixture_dir, out)
    assert all(s["skipped"] for s in again["stages"])
    assert again["n_triples"] == info["n_triples"]
    assert [s["rows_out"] for s in again["stages"]] == [
        s["rows_out"] for s in info["stages"]
    ]


def test_recomputed_triples_replace_the_report(spark, fixture_dir, built, tmp_path):
    """Kill after canon_mapping, re-run into the same dir: the triples
    stage recomputes and its report replaces the first attempt's rows
    under the same run id instead of adding a second copy."""
    src, info = built
    out = str(tmp_path / "out")
    shutil.copytree(src, out)
    shutil.rmtree(os.path.join(out, "triples"))
    os.remove(os.path.join(out, "_checkpoints", "triples.json"))
    again = _run(spark, fixture_dir, out)
    assert not again["stages"][-1]["skipped"]
    assert again["n_triples"] == info["n_triples"]
    m = spark.read.parquet(f"{out}/_metrics")
    assert dict(m.dtypes)["run_id"] == "string"
    preds = [r["pred"] for r in m.collect()]
    assert preds and len(preds) == len(set(preds))
    t = spark.read.parquet(f"{out}/triples")
    assert set(preds) == {r["pred"] for r in t.select("pred").distinct().collect()}


def test_pipeline_records_capped_blocks(spark, fixture_dir, tmp_path, monkeypatch):
    """No silent caps on the production path: with the block cap forced
    below the block size, every dropped LSH block reaches _metrics_canon
    (the test_lsh_block_cap_counts_drops pattern, through run_pipeline)."""
    from kgforge import canon as C

    n = 50
    text = "same text for everyone here today"
    html = (HTML_PREFIX + text + HTML_SUFFIX).encode("utf-8")
    pages = str(tmp_path / "pages.parquet")
    spark.createDataFrame(
        [(f"https://cap.example.com/{i:02d}", dt.datetime(2024, 1, 1), html, text, "en")
         for i in range(n)],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    ).write.parquet(pages)
    capped = C.candidate_pairs
    monkeypatch.setattr(
        C, "candidate_pairs", lambda blocks, id_col, *_a: capped(blocks, id_col, 10)
    )
    out = str(tmp_path / "out")
    _run(spark, fixture_dir, out, pages)
    dropped = (
        spark.read.parquet(f"{out}/_metrics_canon")
        .filter(F.col("metric") == "lsh_block_dropped")
        .collect()
    )
    assert sum(r["value"] for r in dropped) == n * 32  # 50 ids x 32 bands
