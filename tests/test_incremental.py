"""Incremental-ingestion tests: representative stability, span
merge-on-read, batch-internal dedup, compaction equivalence."""

import pytest
from pyspark.sql import functions as F

from kgforge.incremental import compact, incremental_update, read_triples
from kgforge.pipeline import run_pipeline
from kgforge.sources import HTML_PREFIX, HTML_SUFFIX


@pytest.fixture(scope="module")
def base_run(spark, fixture_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("kgf_incr_base"))
    run_pipeline(
        spark,
        pages_path=f"{fixture_dir}/pages.parquet",
        dict_path=f"{fixture_dir}/concept_dict.parquet",
        out_dir=out,
        langs=("en",),
    )
    return out


def _mk_page(url, ts, text, lang="en"):
    html = (HTML_PREFIX + text + HTML_SUFFIX).encode("utf-8")
    return (url, ts, html, text, lang)


@pytest.fixture(scope="module")
def batch_and_info(spark, fixture_dir, base_run, tmp_path_factory):
    base_pages = spark.read.parquet(f"{fixture_dir}/pages.parquet")
    b1 = (
        base_pages.filter("lang = 'en'")
        .orderBy("url")
        .select("url", "html", "text")
        .first()
    )
    import datetime as dt

    rows = [
        # exact clone of a base page -> must adopt the BASE canonical
        ("https://zzz.example.com/clone0", dt.datetime(2024, 6, 5), bytes(b1["html"]), b1["text"], "en"),
        # batch-internal near-dup pair (identical text)
        _mk_page("https://new.example.com/a", dt.datetime(2024, 6, 1),
                 "spark joins shuffle partitions broadcast window merge sort filter query plan"),
        _mk_page("https://new.example.com/b", dt.datetime(2024, 6, 2),
                 "spark joins shuffle partitions broadcast window merge sort filter query plan"),
        # standalone page with a dictionary mention
        _mk_page("https://new.example.com/solo", dt.datetime(2024, 6, 3),
                 "completely unrelated prose about a hash table and nothing else whatsoever today"),
    ]
    p = str(tmp_path_factory.mktemp("incr_batch") / "pages.parquet")
    spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    ).write.parquet(p)
    info = incremental_update(
        spark, base_run, p, f"{fixture_dir}/concept_dict.parquet"
    )
    return b1, info


def test_increment_metrics_and_layout(spark, base_run, batch_and_info):
    _, info = batch_and_info
    assert info["batch"] == "batch-00001"
    assert info["n_new_pages"] == 4
    assert info["n_delta_triples"] > 0
    assert info["n_new_base_edges"] >= 1  # the planted clone
    assert info["deferred_base_merges"] == 0


def test_clone_adopts_base_canonical_subject(spark, base_run, batch_and_info):
    """Representative stability: the new clone's triples are keyed by
    the BASE component's canonical subject; a sameAs edge records the
    new url."""
    b1, _ = batch_and_info
    base_canon = {
        r["url"]: r["canon_url"]
        for r in spark.read.parquet(f"{base_run}/canon_mapping").collect()
    }[b1["url"]]
    t = read_triples(spark, base_run)
    clone = "https://zzz.example.com/clone0"
    same = t.filter(
        (F.col("pred") == "sameAs") & (F.col("subj") == clone)
    ).collect()
    assert len(same) == 1 and same[0]["obj"] == base_canon
    langs = t.filter(
        (F.col("pred") == "hasLang") & (F.col("src_url") == clone)
    ).collect()
    assert len(langs) == 1 and langs[0]["subj"] == base_canon


def test_batch_internal_neardups_collapse(spark, base_run, batch_and_info):
    t = read_triples(spark, base_run)
    a, b = "https://new.example.com/a", "https://new.example.com/b"
    same = {
        (r["subj"], r["obj"])
        for r in t.filter(F.col("pred") == "sameAs")
        .filter(F.col("subj").isin(a, b) | F.col("obj").isin(a, b))
        .collect()
    }
    assert (b, a) in same  # min-url representative within the batch


def test_span_merged_not_duplicated(spark, base_run, batch_and_info):
    """The affected subject has exactly ONE hasSpan row in the
    merge-on-read view, its interval widened to the clone's 2024 ts."""
    b1, _ = batch_and_info
    base_canon = {
        r["url"]: r["canon_url"]
        for r in spark.read.parquet(f"{base_run}/canon_mapping").collect()
    }[b1["url"]]
    t = read_triples(spark, base_run)
    spans = t.filter(
        (F.col("pred") == "hasSpan") & (F.col("subj") == base_canon)
    ).collect()
    assert len(spans) == 1
    start, end = spans[0]["obj"].split("/")
    assert start.startswith("2023")  # base observation preserved
    assert end == "2024-06-05T00:00:00Z"  # widened by the clone
    assert spans[0]["qual_kind"] == "E"
    # every subject has at most one span row
    dup = (
        t.filter(F.col("pred") == "hasSpan")
        .groupBy("subj")
        .count()
        .filter("count > 1")
        .count()
    )
    assert dup == 0


def test_compact_preserves_view(spark, base_run, batch_and_info):
    before = sorted(
        tuple(r)
        for r in read_triples(spark, base_run)
        .select("subj", "pred", "obj", "src_url")
        .collect()
    )
    info = compact(spark, base_run)
    assert info["compacted"]
    after = sorted(
        tuple(r)
        for r in read_triples(spark, base_run)
        .select("subj", "pred", "obj", "src_url")
        .collect()
    )
    assert before == after


def test_second_batch_anchors_to_prior_batch_page(
    spark, fixture_dir, base_run, batch_and_info, tmp_path_factory
):
    """Runs after compact: a later batch near-duplicating a page that
    itself arrived incrementally must anchor to THAT page's canonical
    subject — the folded mapping/extracted make prior batches part of
    the base."""
    solo = "https://new.example.com/solo"
    solo_text = (
        "completely unrelated prose about a hash table and nothing else "
        "whatsoever today"
    )
    import datetime as dt

    p = str(tmp_path_factory.mktemp("incr_batch2") / "pages.parquet")
    spark.createDataFrame(
        [_mk_page("https://zzz.example.com/clone-solo", dt.datetime(2024, 7, 1), solo_text)],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    ).write.parquet(p)
    info = incremental_update(
        spark, base_run, p, f"{fixture_dir}/concept_dict.parquet"
    )
    assert info["n_new_base_edges"] >= 1
    t = read_triples(spark, base_run)
    same = t.filter(
        (F.col("pred") == "sameAs")
        & (F.col("subj") == "https://zzz.example.com/clone-solo")
    ).collect()
    assert len(same) == 1 and same[0]["obj"] == solo


def test_deferred_merge_counts_component_bridges(spark):
    """The deferral metric is component-level distinct-anchor counting:
    A anchors base1 and B anchors base2 with A~B in one batch component
    is a bridge (deferred=1) even though each url has exactly one anchor
    — the case a per-url count silently missed. The one-url-two-anchors
    case and the clean case are covered alongside."""
    from kgforge.incremental import deferred_merge_count

    node_comp = spark.createDataFrame(
        [("A", "c1"), ("B", "c1"),   # bridge component
         ("C", "c2"),                # multi-anchor singleton
         ("D", "c3"), ("E", "c3")],  # clean component, one shared anchor
        "url string, comp string",
    )
    url_anchor = spark.createDataFrame(
        [("A", "base1"), ("B", "base2"),   # bridge: 2 distinct via 2 urls
         ("C", "base3"), ("C", "base4"),   # 2 distinct via 1 url
         ("D", "base5"), ("E", "base5")],  # clean
        "url string, canon_url string",
    )
    assert deferred_merge_count(node_comp, url_anchor) == 2
    clean = url_anchor.filter(F.col("url").isin("D", "E"))
    assert deferred_merge_count(node_comp, clean) == 0


def test_auto_compaction_triggers_and_preserves_view(
    spark, fixture_dir, tmp_path_factory
):
    """Ingesting past auto_compact_after collapses increments into the
    base automatically and the merge-on-read view is unchanged; a
    leftover .tmp dir from a simulated crash stays invisible."""
    import datetime as dt
    import os

    d = tmp_path_factory.mktemp("auto_compact")
    base_pages = [
        _mk_page("https://ac.example.com/p1", dt.datetime(2023, 1, 1),
                 "alpha query joins the spark engine with a hash table plan"),
        _mk_page("https://ac.example.com/p2", dt.datetime(2023, 2, 1),
                 "window functions stream over sorted partitions in batch mode"),
    ]
    schema = "url string, warc_ts timestamp, html binary, text string, lang string"
    pa = str(d / "base.parquet")
    spark.createDataFrame(base_pages, schema).write.parquet(pa)
    out = str(d / "out")
    run_pipeline(
        spark, pages_path=pa, dict_path=f"{fixture_dir}/concept_dict.parquet",
        out_dir=out,
    )
    # simulated crash leftover: must be ignored and never surface
    crash_dir = os.path.join(out, "increments", ".batch-00001.tmp")
    os.makedirs(crash_dir, exist_ok=True)

    infos = []
    for i in range(3):
        pb = str(d / f"b{i}.parquet")
        spark.createDataFrame(
            [_mk_page(f"https://ac.example.com/new{i}", dt.datetime(2024, 1, i + 1),
                      f"fresh standalone prose number {i} with nothing shared at all")],
            schema,
        ).write.parquet(pb)
        before = sorted(
            tuple(r)
            for r in read_triples(spark, out)
            .select("subj", "pred", "obj", "src_url")
            .collect()
        )
        info = incremental_update(
            spark, out, pb, f"{fixture_dir}/concept_dict.parquet",
            auto_compact_after=2,
        )
        infos.append(info)
        after = read_triples(spark, out).select("subj", "pred", "obj", "src_url")
        # the batch only ever ADDS rows for its new page; prior view intact
        kept = sorted(
            tuple(r)
            for r in after.filter(
                ~F.col("src_url").contains(f"new{i}")
            ).collect()
        )
        assert kept == before
    # batch 1: no compaction (1 increment < 2); batch 2: compacted;
    # batch 3: fresh increment numbering resumes at 00001 post-compact
    assert [i["compacted"] for i in infos] == [False, True, False]
    inc_root = os.path.join(out, "increments")
    dirs = os.listdir(inc_root) if os.path.isdir(inc_root) else []
    assert [e for e in dirs if e.startswith("batch-")] == ["batch-00001"]
    assert not any(e.endswith(".tmp") for e in dirs)  # tmp dirs cleaned/ignored


def _closure_normalize(rows):
    """Normalize a triple set modulo canonical-representative choice:
    union-find over its OWN sameAs edges (identity for the rest), then
    rewrite subj to the component's min member and drop the sameAs rows
    themselves. Two runs that partition pages identically but pick
    different representatives normalize to the same set."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for r in rows:
        if r["pred"] == "sameAs":
            union(r["subj"], r["obj"])
    out = set()
    for r in rows:
        if r["pred"] == "sameAs":
            continue
        out.add((find(r["subj"]), r["pred"], r["obj"], r["src_url"]))
    return out


def test_incremental_equals_full_refresh_modulo_reps(
    spark, fixture_dir, tmp_path_factory
):
    """Incremental(base=A, batch=B) produces the same assertion set as
    full-refresh(A ∪ B), modulo which component member is the
    representative — provided no batch page bridges two base components
    (that case is the documented deferred merge). sameAs edges supply
    the normalization; everything else must match exactly, including
    the merged hasSpan intervals."""
    import datetime as dt

    def page(i, text, ts):
        return _mk_page(f"https://prop.example.com/p{i:02d}", ts, text)

    a_rows = [
        page(1, "alpha query joins the spark engine with a hash table plan", dt.datetime(2023, 1, 1)),
        page(2, "window functions stream over sorted partitions in batch mode", dt.datetime(2023, 2, 1)),
        # an in-base near-dup pair
        page(3, "merge sort shuffle exchange broadcast filter scan query window", dt.datetime(2023, 3, 1)),
        page(4, "merge sort shuffle exchange broadcast filter scan query window", dt.datetime(2023, 4, 1)),
        page(5, "metric:temp>=41.5 observed while the batch pipeline ran today", dt.datetime(2023, 5, 1)),
    ]
    b_rows = [
        # clone of base p1 -> cross-batch component
        page(11, "alpha query joins the spark engine with a hash table plan", dt.datetime(2024, 1, 1)),
        # batch-internal pair
        page(12, "vector scan hash spark stream sort window filter merge join", dt.datetime(2024, 2, 1)),
        page(13, "vector scan hash spark stream sort window filter merge join", dt.datetime(2024, 3, 1)),
        # standalone
        page(14, "completely fresh standalone prose with a metric:load=7 reading", dt.datetime(2024, 4, 1)),
    ]
    schema = "url string, warc_ts timestamp, html binary, text string, lang string"
    d = tmp_path_factory.mktemp("prop_incr")
    pa, pab = str(d / "a.parquet"), str(d / "ab.parquet")
    spark.createDataFrame(a_rows, schema).write.parquet(pa)
    spark.createDataFrame(a_rows + b_rows, schema).write.parquet(pab)
    pb = str(d / "b.parquet")
    spark.createDataFrame(b_rows, schema).write.parquet(pb)

    dict_path = f"{fixture_dir}/concept_dict.parquet"
    out_full = str(d / "full")
    run_pipeline(spark, pages_path=pab, dict_path=dict_path, out_dir=out_full)
    full = _closure_normalize(
        spark.read.parquet(f"{out_full}/triples")
        .select("subj", "pred", "obj", "src_url")
        .collect()
    )

    out_inc = str(d / "incr")
    run_pipeline(spark, pages_path=pa, dict_path=dict_path, out_dir=out_inc)
    info = incremental_update(spark, out_inc, pb, dict_path)
    assert info["deferred_base_merges"] == 0
    inc = _closure_normalize(
        read_triples(spark, out_inc)
        .select("subj", "pred", "obj", "src_url")
        .collect()
    )
    assert full == inc


def test_orphaned_sidecar_rows_do_not_inflate_metrics(
    spark, fixture_dir, tmp_path_factory
):
    """Crash-window regression (round-4 ADVICE): a crash BETWEEN the
    signature-sidecar append and the atomic batch rename leaves the
    batch's sigs in the sidecar with no committed batch. On retry those
    orphaned rows used to appear on the BASE side of the new-vs-base
    block join, so the batch's own pages generated self/new-new pairs
    that inflated n_new_base_edges and n_capped_blocks. The left-semi
    against committed mappings must exclude them entirely."""
    import datetime as dt

    from kgforge import canon as C
    from kgforge.extract import extract_pages
    from kgforge.incremental import _ensure_signature_sidecar

    d = tmp_path_factory.mktemp("incr_crash")
    out = str(d / "base")
    dict_path = f"{fixture_dir}/concept_dict.parquet"
    run_pipeline(
        spark,
        pages_path=f"{fixture_dir}/pages.parquet",
        dict_path=dict_path,
        out_dir=out,
        langs=("en",),
    )
    text = "orphan sidecar crash window text never seen in the base corpus at all"
    rows = [
        _mk_page("https://crash.example.com/x", dt.datetime(2024, 7, 1), text),
        _mk_page("https://crash.example.com/y", dt.datetime(2024, 7, 2), text),
    ]
    p = str(d / "pages.parquet")
    spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    ).write.parquet(p)

    # simulate the crashed first attempt: sidecar append happened, the
    # batch dir rename did not
    sig_path = _ensure_signature_sidecar(spark, out)
    ext = extract_pages(spark.read.parquet(p), ("en",))
    C.minhash_signatures(ext, "text", "url").write.mode("append").parquet(sig_path)

    info = incremental_update(spark, out, p, dict_path)
    # the batch's own pages must NOT count as new-vs-base edges: their
    # only near-dups are each other (batch-internal) and the orphaned
    # sidecar copies of themselves
    assert info["n_new_base_edges"] == 0
    assert info["n_capped_blocks"] == 0
    # the pair still collapses batch-internally to one canonical subject
    mapping = {
        r["url"]: r["canon_url"]
        for r in spark.read.parquet(f"{out}/increments/batch-00001/mapping").collect()
    }
    assert (
        mapping["https://crash.example.com/x"]
        == mapping["https://crash.example.com/y"]
        == "https://crash.example.com/x"
    )


def test_bloom_prefilter_is_output_preserving(
    spark, fixture_dir, base_run, tmp_path_factory, monkeypatch
):
    """The base-side Bloom prune in front of the new-vs-base block join
    must be invisible in every output AND every metric: bloom on/off
    runs of the identical batch produce the same mapping rows, the same
    edge counts, and the same cap metrics (a pruned block that mattered
    would shift n_new_base_edges; a miscounted cap would shift
    n_capped_blocks)."""
    import datetime as dt
    import shutil

    rows = [
        _mk_page("https://bl.example.com/p1", dt.datetime(2024, 7, 1),
                 "spark joins shuffle partitions broadcast window merge sort filter query plan"),
        _mk_page("https://bl.example.com/p2", dt.datetime(2024, 7, 2),
                 "spark joins shuffle partitions broadcast window merge sort filter query plan"),
        _mk_page("https://bl.example.com/solo", dt.datetime(2024, 7, 3),
                 "entirely different words about bloom filters pruning base blocks before the shuffle"),
    ]
    p = str(tmp_path_factory.mktemp("bloom_batch") / "pages.parquet")
    spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    ).write.parquet(p)
    from kgforge.operators import bloom

    infos, mappings = {}, {}
    for flag in (True, False):
        out = str(tmp_path_factory.mktemp(f"bloom_out_{flag}") / "run")
        shutil.copytree(base_run, out)
        with monkeypatch.context() as mp:
            if not flag:  # the "off" run: the prune passes every row
                mp.setattr(bloom, "bloom_prune", lambda df, *a, **k: df)
            infos[flag] = incremental_update(
                spark, out, p, f"{fixture_dir}/concept_dict.parquet"
            )
        mappings[flag] = sorted(
            map(tuple, spark.read.parquet(
                f"{out}/increments/{infos[flag]['batch']}/mapping"
            ).collect())
        )
    assert mappings[True] == mappings[False]
    for key in ("n_new_pages", "n_new_base_edges", "n_new_new_edges",
                "n_capped_blocks", "deferred_base_merges"):
        if key in infos[True] or key in infos[False]:
            assert infos[True].get(key) == infos[False].get(key), key


def test_stream_ingest_matches_batch_and_is_replay_safe(
    spark, fixture_dir, base_run, tmp_path
):
    """The streaming front door (foreachBatch -> incremental_update)
    must produce EXACTLY the state the batch path produces from the
    same files, and a full re-stream of already-committed input must
    ingest nothing (the known-url anti-join guard — the at-least-once
    window for foreachBatch replays)."""
    import datetime as dt
    import glob
    import os
    import shutil

    from kgforge.streaming import stream_incremental_ingest

    a = str(tmp_path / "stream_out")
    b = str(tmp_path / "batch_out")
    shutil.copytree(base_run, a)
    shutil.copytree(base_run, b)
    dict_path = f"{fixture_dir}/concept_dict.parquet"

    # two arrival files with disjoint, unrelated content (no cross-file
    # near-dups, so ingestion grouping cannot affect representatives)
    files = [
        [_mk_page("https://live.example.com/s1", dt.datetime(2024, 7, 1),
                  "streaming ingestion of a crawl batch with a hash table mention inside")],
        [_mk_page("https://live.example.com/s2", dt.datetime(2024, 7, 2),
                  "a second arrival about query plans and broadcast joins entirely distinct")],
    ]
    schema = "url string, warc_ts timestamp, html binary, text string, lang string"
    pages_dir = str(tmp_path / "arrivals")
    os.makedirs(pages_dir)
    batch_dirs = []
    for i, rows in enumerate(files):
        d = str(tmp_path / f"file{i}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(d)
        (src,) = glob.glob(f"{d}/part-*.parquet")
        shutil.copy(src, f"{pages_dir}/{i:05d}.parquet")
        batch_dirs.append(d)

    n = stream_incremental_ingest(
        spark, a, dict_path, pages_dir, str(tmp_path / "work1")
    )
    assert n == 2  # one increment per arrival file

    for d in batch_dirs:
        incremental_update(spark, b, d, dict_path, auto_compact_after=None)

    t_stream = sorted(map(tuple, read_triples(spark, a).collect()))
    t_batch = sorted(map(tuple, read_triples(spark, b).collect()))
    assert t_stream == t_batch
    assert any("live.example.com/s1" in str(t) for t in t_stream)

    # full replay from a fresh checkpoint: everything is already
    # committed, so nothing may be ingested and the view is unchanged
    n2 = stream_incremental_ingest(
        spark, a, dict_path, pages_dir, str(tmp_path / "work2")
    )
    assert n2 == 0
    assert sorted(map(tuple, read_triples(spark, a).collect())) == t_stream
