"""A crawl batch runs the build's own steps: one exact verification for
its near-duplicates, the build's span aggregation for its merged spans,
and a record of every block it capped."""

import datetime as dt
import shutil

import pytest
from pyspark.sql import functions as F

from kgforge import canon as C
from kgforge import emit as E
from kgforge.incremental import incremental_update, read_triples
from kgforge.pipeline import run_pipeline
from kgforge.sources import HTML_PREFIX, HTML_SUFFIX

SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"
DUP = "spark joins shuffle partitions broadcast window merge sort filter query plan"
PAIR = ("https://sub.example.com/a", "https://sub.example.com/b")
# sub-second crawl times: the span length and src_ts keep the fraction
PAIR_TS = (dt.datetime(2024, 6, 1, 0, 0, 0, 250000), dt.datetime(2024, 6, 2, 12, 0, 0, 750000))


def _page(url, ts, text):
    return (url, ts, (HTML_PREFIX + text + HTML_SUFFIX).encode("utf-8"), text, "en")


def _clone(url, ts, page):
    return (url, ts, bytes(page["html"]), page["text"], "en")


def _write(spark, rows, path):
    spark.createDataFrame(rows, SCHEMA).write.parquet(path)
    return path


@pytest.fixture(scope="module")
def base(spark, fixture_dir, tmp_path_factory):
    """A build whose every subject has a curated ('A') span, and the
    first English page (the one the batches clone)."""
    d = tmp_path_factory.mktemp("batch_path_base")
    pages = spark.read.parquet(f"{fixture_dir}/pages.parquet")
    periods = str(d / "periods.parquet")
    pages.select(
        F.col("url").alias("subj"),
        F.to_timestamp(F.lit("2023-01-01 00:00:00")).alias("period_start"),
        F.to_timestamp(F.lit("2023-12-31 00:00:00")).alias("period_end"),
    ).write.parquet(periods)
    out = str(d / "out")
    run_pipeline(
        spark, f"{fixture_dir}/pages.parquet", f"{fixture_dir}/concept_dict.parquet",
        out, periods_path=periods,
    )
    first = pages.filter("lang = 'en'").orderBy("url").select("url", "html", "text").first()
    return out, first


@pytest.fixture(scope="module")
def merged(spark, fixture_dir, base, tmp_path_factory):
    """One batch: a clone of a curated subject's page and a batch-only
    near-duplicate pair with sub-second crawl times, merged while every
    C.verify_pairs_jaccard call is counted."""
    src, first = base
    d = tmp_path_factory.mktemp("batch_path_merged")
    out = str(d / "out")
    shutil.copytree(src, out)
    batch = _write(spark, [
        _clone("https://zzz.example.com/clone", dt.datetime(2024, 6, 5), first),
        _page(PAIR[0], PAIR_TS[0], DUP),
        _page(PAIR[1], PAIR_TS[1], DUP),
    ], str(d / "batch.parquet"))
    calls = []
    verify = C.verify_pairs_jaccard
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(C, "verify_pairs_jaccard", lambda *a, **k: calls.append(1) or verify(*a, **k))
        info = incremental_update(spark, out, batch, f"{fixture_dir}/concept_dict.parquet")
    return out, info, len(calls)


def _spans(spark, out, subj):
    t = read_triples(spark, out)
    return [r.asDict() for r in t.filter((F.col("pred") == "hasSpan") & (F.col("subj") == subj)).collect()]


def test_batch_verifies_once(merged):
    """New-vs-base and new-new candidate pairs go through one exact
    verification, and its edges still anchor the clone."""
    _, info, n_calls = merged
    assert n_calls == 1
    assert info["n_new_base_edges"] >= 1 and info["deferred_base_merges"] == 0


def test_curated_span_survives_a_clone(spark, base, merged):
    """A clone of a page whose subject has a curated span adopts that
    subject, and the subject's span stays the curated one."""
    src, first = base
    out, _, _ = merged
    subj = {
        r["url"]: r["canon_url"] for r in spark.read.parquet(f"{src}/canon_mapping").collect()
    }[first["url"]]
    before = _spans(spark, src, subj)
    assert len(before) == 1 and before[0]["qual_kind"] == "A"
    assert _spans(spark, out, subj) == before
    same = read_triples(spark, out).filter(F.col("subj") == "https://zzz.example.com/clone")
    assert [r["obj"] for r in same.filter(F.col("pred") == "sameAs").collect()] == [subj]


def test_batch_span_equals_the_build_span(spark, merged):
    """A batch-only near-duplicate pair's hasSpan row is the build
    emitter's row over the same pages, sub-second times included."""
    out, _, _ = merged
    pages = spark.createDataFrame(list(zip(PAIR, PAIR_TS)), "url string, warc_ts timestamp")
    mapping = spark.createDataFrame([(PAIR[1], PAIR[0])], "url string, canon_url string")
    want = [r.asDict() for r in E.emit_span_triples(pages, mapping).collect()]
    assert want[0]["qual_value_num"] != 1.5  # the fraction is not rounded away
    assert _spans(spark, out, PAIR[0]) == want


def test_batch_records_capped_blocks(spark, fixture_dir, base, tmp_path, monkeypatch):
    """No silent caps on the batch path: with the block cap below the
    batch's block size, every dropped block reaches the batch's
    _metrics_canon once, valued at its combined size (the batch's clones
    plus the base pages in the block, as a full run records it), and
    n_capped_blocks is the number of those rows (the
    test_pipeline_records_capped_blocks pattern)."""
    src, first = base
    out = str(tmp_path / "out")
    shutil.copytree(src, out)
    n = 12
    batch = _write(spark, [
        _clone(f"https://cap.example.com/{i:02d}", dt.datetime(2024, 6, 1), first)
        for i in range(n)
    ], str(tmp_path / "batch.parquet"))
    capped = C.candidate_pairs
    monkeypatch.setattr(C, "MAX_LSH_BLOCK", 10)
    monkeypatch.setattr(
        C, "candidate_pairs", lambda blocks, id_col, *_a: capped(blocks, id_col, 10)
    )
    info = incremental_update(spark, out, batch, f"{fixture_dir}/concept_dict.parquet")
    rows = spark.read.parquet(f"{out}/increments/{info['batch']}/_metrics_canon").collect()
    by_metric = {}
    for r in rows:
        by_metric.setdefault(r["metric"], []).append(r["value"])
    assert info["n_capped_blocks"] == len(by_metric["lsh_block_dropped"]) == 32  # one per band
    assert set(by_metric) == {"lsh_block_dropped", "n_new_base_edges", "deferred_base_merges"}
    # each valued at its combined size: the n clones plus the base pages
    # in the block (the cloned page and a near-duplicate of it)
    dropped = {r["key"]: r["value"] for r in rows if r["metric"] == "lsh_block_dropped"}
    base_blocks = C.lsh_blocks(spark.read.parquet(f"{src}/extracted"), id_col="url")
    in_base = base_blocks.groupBy(F.col("bk").cast("string").alias("key")).count()
    in_base = {r["key"]: r["count"] for r in in_base.filter(F.col("key").isin(list(dropped))).collect()}
    assert dropped == {key: n + in_base[key] for key in dropped}
    assert all(v > n for v in dropped.values())
    assert info["n_new_base_edges"] == 0


def test_block_over_the_cap_only_with_the_base_drops_its_batch_pairs(
    spark, fixture_dir, tmp_path, monkeypatch
):
    """k identical base pages and m identical batch pages share every
    block, with the cap between m and k + m: the full run drops the
    whole block, so the batch keeps no new-new pairs either, and the
    incremental view equals the full refresh triple for triple."""
    k, m, cap = 10, 3, 8
    ts = dt.datetime(2024, 1, 1)
    base_rows = [_page(f"https://capk.example.com/{i:02d}", ts, DUP) for i in range(k)]
    batch_rows = [_page(f"https://capm.example.com/{i:02d}", ts, DUP) for i in range(m)]
    pa = _write(spark, base_rows, str(tmp_path / "a.parquet"))
    pb = _write(spark, batch_rows, str(tmp_path / "b.parquet"))
    pab = _write(spark, base_rows + batch_rows, str(tmp_path / "ab.parquet"))
    dict_path = f"{fixture_dir}/concept_dict.parquet"
    capped = C.candidate_pairs
    monkeypatch.setattr(C, "MAX_LSH_BLOCK", cap)
    monkeypatch.setattr(
        C, "candidate_pairs", lambda blocks, id_col, *_a: capped(blocks, id_col, cap)
    )

    def rows(df):
        return sorted(map(tuple, df.select("subj", "pred", "obj", "src_url").collect()))

    full = str(tmp_path / "full")
    run_pipeline(spark, pab, dict_path, full)
    inc = str(tmp_path / "inc")
    run_pipeline(spark, pa, dict_path, inc)
    info = incremental_update(spark, inc, pb, dict_path)
    assert info["n_new_base_edges"] == 0
    assert rows(read_triples(spark, inc)) == rows(read_triples(spark, full))
    mapping = spark.read.parquet(f"{inc}/increments/{info['batch']}/mapping").collect()
    assert all(r["url"] == r["canon_url"] for r in mapping)

    def dropped(path):
        rec = spark.read.parquet(path).filter(F.col("metric") == "lsh_block_dropped")
        return sorted(map(tuple, rec.select("key", "value").collect()))

    # no silent caps, and the same record a full run makes: every band's
    # block dropped once, valued at its combined size k + m
    want = dropped(f"{full}/_metrics_canon")
    assert want == sorted((key, k + m) for key, _ in want) and len(want) == 32
    assert dropped(f"{inc}/increments/{info['batch']}/_metrics_canon") == want
