"""One publish step: every directory kgforge creates or replaces goes
through checkpoint.publishing, so a crash at any commit step leaves each
published artifact complete or absent, and a retry reaches the result of
an uninterrupted call.

A commit step is each os.rename / os.replace under the out dir and each
stage-manifest write. The fault
injection raises before the N-th of them, for every N up to the number
an uninterrupted call takes."""

import collections
import contextlib
import datetime as dt
import functools
import json
import os
import re
import shutil

import pytest
from pyspark.sql import functions as F

import kgforge.checkpoint
import kgforge.incremental
from kgforge.incremental import compact, incremental_update, read_triples
from kgforge.migrate import migrate_triples, table_version
from kgforge.pipeline import run_pipeline
from kgforge.sources import HTML_PREFIX, HTML_SUFFIX, write_triples

SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"
DUP = "spark joins shuffle partitions broadcast window merge sort filter query plan"


def _page(url, day, text):
    html = (HTML_PREFIX + text + HTML_SUFFIX).encode("utf-8")
    return (url, dt.datetime(2024, 1, day), html, text, "en")


BASE_PAGES = [
    _page("https://pub.example.com/a", 1, DUP),
    _page("https://pub.example.com/b", 2, DUP),
    _page("https://pub.example.com/c", 3,
          "a hash table and a scan of window functions over sorted partitions"),
]
# a clone of a base page: anchors to the base component's canonical
BATCH_PAGES = [_page("https://pub.example.com/z", 4, DUP)]


class Crash(Exception):
    pass


@contextlib.contextmanager
def commit_steps(monkeypatch, root, crash=0, snapshots=None):
    """Record the commit steps taken under `root` as (kind, relpath of
    what the step writes).
    Raise Crash before the `crash`-th one (0: never). With `snapshots`,
    copy `root` to snapshots/<count> after each step, so a later run can
    start from any state the uninterrupted call passed through."""
    steps = []
    rename, replace, dump = os.rename, os.replace, json.dump

    @contextlib.contextmanager
    def step(kind, path):
        if not str(path).startswith(root + os.sep):
            yield
            return
        steps.append((kind, os.path.relpath(str(path), root)))
        if len(steps) == crash:
            raise Crash(steps[-1])
        yield
        if snapshots:
            shutil.copytree(root, os.path.join(snapshots, str(len(steps))))

    def _rename(src, dst, *a, **k):
        with step("rename", dst):
            rename(src, dst, *a, **k)

    def _replace(src, dst, *a, **k):
        with step("replace", dst):
            replace(src, dst, *a, **k)

    def _dump(obj, f, *a, **k):
        if "_checkpoints" not in getattr(f, "name", ""):
            return dump(obj, f, *a, **k)
        with step("manifest", f.name):
            dump(obj, f, *a, **k)
            f.flush()

    with monkeypatch.context() as mp:
        mp.setattr(os, "rename", _rename)
        mp.setattr(os, "replace", _replace)
        mp.setattr(json, "dump", _dump)
        yield steps


def _crash(monkeypatch, call, steps, n, out, start=0, snapshots=None):
    """Crash `call(out)` at the n-th of the uninterrupted call's `steps`.
    With start > 0 the run begins from the state the uninterrupted call
    left after step `start`; it must then take exactly steps start..n."""
    if start:
        shutil.copytree(os.path.join(snapshots, str(start)), out)
    with commit_steps(monkeypatch, out, n - start) as got, pytest.raises(Crash):
        call(out)
    assert got == steps[start:n]


_UUID = re.compile(r"[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}")


def _state(out):
    """Every file under `out` with its size, up to Spark's random names."""
    return sorted(
        (_UUID.sub("*", os.path.relpath(os.path.join(root, f), out)),
         os.path.getsize(os.path.join(root, f)))
        for root, _dirs, files in os.walk(out)
        for f in files
    )


def _rows(df):
    return collections.Counter(tuple(r) for r in df.collect())


def _assert_clean(spark, out):
    """No hidden swap dir left anywhere, and one mapping row per url."""
    left = [
        os.path.join(root, d)
        for root, dirs, _files in os.walk(out)
        for d in dirs
        if d.startswith(".") and d.endswith((".tmp", ".old"))
    ]
    assert not left, left
    m = spark.read.parquet(os.path.join(out, "canon_mapping"))
    assert m.count() == m.select("url").distinct().count()


@pytest.fixture(scope="module")
def pages(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("pub_pages")
    base, batch = str(d / "base.parquet"), str(d / "batch.parquet")
    spark.createDataFrame(BASE_PAGES, SCHEMA).write.parquet(base)
    spark.createDataFrame(BATCH_PAGES, SCHEMA).write.parquet(batch)
    return base, batch


def _build(spark, fixture_dir, pages, out):
    return run_pipeline(spark, pages[0], f"{fixture_dir}/concept_dict.parquet", out)


def test_pipeline_crash_at_every_commit_step(
    spark, fixture_dir, pages, tmp_path, monkeypatch
):
    """A crash inside stage k is run from the state the uninterrupted
    build left after stage k-1 (a resume takes no commit step for a
    finished stage, so its steps are exactly the uninterrupted suffix)."""
    clean, snaps = str(tmp_path / "clean"), str(tmp_path / "snaps")
    with commit_steps(monkeypatch, clean, snapshots=snaps) as steps:
        want = _build(spark, fixture_dir, pages, clean)
    # a rename and a manifest per stage, two metrics files
    assert len(steps) == 12, steps
    finished = [i for i, (kind, _) in enumerate(steps, 1) if kind == "manifest"]
    want_triples = _rows(spark.read.parquet(f"{clean}/triples"))
    build = functools.partial(_build, spark, fixture_dir, pages)
    for n in range(1, len(steps) + 1):
        out = str(tmp_path / f"crash{n}")
        start = max(i for i in [0, *finished] if i < n)
        _crash(monkeypatch, build, steps, n, out, start, snaps)
        got = build(out)
        assert got["n_triples"] == want["n_triples"], steps[n - 1]
        assert [s["rows_out"] for s in got["stages"]] == [
            s["rows_out"] for s in want["stages"]
        ], steps[n - 1]
        assert _rows(spark.read.parquet(f"{out}/triples")) == want_triples, steps[n - 1]
        preds = [r["pred"] for r in spark.read.parquet(f"{out}/_metrics").collect()]
        assert sorted(preds) == sorted(set(preds)) and preds, steps[n - 1]
        _assert_clean(spark, out)


@pytest.fixture(scope="module")
def base_out(spark, fixture_dir, pages, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("pub_base") / "out")
    _build(spark, fixture_dir, pages, out)
    return out


def _merge(spark, fixture_dir, pages, out):
    return incremental_update(
        spark, out, pages[1], f"{fixture_dir}/concept_dict.parquet",
        auto_compact_after=1,
    )


@pytest.fixture(scope="module")
def merged(spark, fixture_dir, pages, base_out, tmp_path_factory):
    """One uninterrupted incremental_update with auto-compaction: its
    out dir, result, commit steps and a snapshot after each step."""
    d = tmp_path_factory.mktemp("pub_merged")
    out, snaps = str(d / "out"), str(d / "snaps")
    shutil.copytree(base_out, out)
    with pytest.MonkeyPatch.context() as mp, commit_steps(mp, out, snapshots=snaps) as steps:
        want = _merge(spark, fixture_dir, pages, out)
    return out, want, steps, snaps


def test_increment_and_compaction_crash_at_every_commit_step(
    spark, fixture_dir, pages, base_out, merged, tmp_path, monkeypatch
):
    """incremental_update with auto-compaction. The view is the base's
    until the batch dir is committed and the merged one after, at every
    crash point. A crash before the commit is retried with the same
    call, once per distinct out dir it leaves (a retry is a function of
    what is on disk); one inside the compaction is run by compact() from
    the state the uninterrupted call left at the commit, and retried
    with compact()."""
    clean, want, steps, snaps = merged
    assert want["compacted"] and want["n_new_base_edges"] >= 1
    committed = steps.index(("rename", "increments/batch-00001")) + 1
    assert not any("signatures" in path for _kind, path in steps), steps
    assert len(steps) > committed + 3, steps  # fold, publish, withdraw
    base_view = _rows(read_triples(spark, base_out))
    want_view = _rows(read_triples(spark, clean))
    want_n = kgforge.checkpoint._footer_row_count(f"{clean}/triples")
    merge = functools.partial(_merge, spark, fixture_dir, pages)
    retried = []
    for n in range(1, len(steps) + 1):
        out = str(tmp_path / f"crash{n}")
        if n <= committed:
            shutil.copytree(base_out, out)
            _crash(monkeypatch, merge, steps, n, out)
            assert _rows(read_triples(spark, out)) == base_view, steps[n - 1]
            if _state(out) in retried:
                continue
            retried.append(_state(out))
            assert merge(out) == want, steps[n - 1]
        else:
            _crash(monkeypatch, lambda o: compact(spark, o), steps, n, out, committed, snaps)
            assert _rows(read_triples(spark, out)) == want_view, steps[n - 1]
            assert compact(spark, out)["n_triples"] == want_n, steps[n - 1]
        assert not os.path.isdir(f"{out}/increments") or not os.listdir(
            f"{out}/increments"
        ), steps[n - 1]
        assert _rows(read_triples(spark, out)) == want_view, steps[n - 1]
        _assert_clean(spark, out)


def test_migration_crash_at_every_commit_step(spark, tmp_path, monkeypatch):
    def v1(path):
        spark.createDataFrame(
            [("s1", "hasLang", "en", "entity", "u1"),
             ("s2", "hasTopic", "TOPIC:JOIN", "entity", "u2")],
            "subj string, pred string, obj string, quality_kind string, src_url string",
        ).write.partitionBy("pred").parquet(path)

    clean = str(tmp_path / "clean")
    v1(f"{clean}/triples")
    with commit_steps(monkeypatch, clean) as steps:
        migrate_triples(spark, f"{clean}/triples")
    assert steps == [("rename", ".triples.old"), ("rename", "triples")]
    want = _rows(spark.read.parquet(f"{clean}/triples"))
    for n in range(1, len(steps) + 1):
        root = str(tmp_path / f"crash{n}")
        path = f"{root}/triples"
        v1(path)
        with commit_steps(monkeypatch, root, n), pytest.raises(Crash):
            migrate_triples(spark, path)
        assert migrate_triples(spark, path)["migrated"] == (n == 1)
        assert table_version(path) == 2
        assert _rows(spark.read.parquet(path)) == want
        assert os.listdir(root) == ["triples"]


def test_failed_batch_signature_job_is_retried(
    spark, fixture_dir, pages, base_out, merged, tmp_path, monkeypatch
):
    """An increment whose extraction/signature job fails leaves no batch
    and no hidden dir behind: the retry returns the same counts and view
    as an uninterrupted increment."""
    clean, want, _steps, _snaps = merged
    out = str(tmp_path / "out")
    shutil.copytree(base_out, out)
    extract = kgforge.incremental.extract_pages

    def failing(*a, **k):
        ext = extract(*a, **k)
        return ext.withColumn("sig", F.when(F.raise_error("injected").isNull(), ext["sig"]))

    with monkeypatch.context() as mp:
        mp.setattr(kgforge.incremental, "extract_pages", failing)
        with pytest.raises(Exception, match="injected"):
            _merge(spark, fixture_dir, pages, out)
    assert not os.path.exists(f"{out}/increments") or not os.listdir(f"{out}/increments")
    _assert_clean(spark, out)
    assert _merge(spark, fixture_dir, pages, out) == want
    assert _rows(read_triples(spark, out)) == _rows(read_triples(spark, clean))


def test_crash_between_stage_data_and_manifest_recomputes(
    spark, fixture_dir, pages, base_out, tmp_path, monkeypatch
):
    """A run with a periods table dies after writing `triples` but before
    its manifest; re-running without periods must recompute `triples`
    (not keep the crashed run's rows under the old manifest)."""
    out = str(tmp_path / "out")
    shutil.copytree(base_out, out)
    want = _rows(spark.read.parquet(f"{base_out}/triples"))
    periods = str(tmp_path / "periods.parquet")
    spark.createDataFrame(
        [("https://pub.example.com/c", dt.datetime(2020, 1, 1), dt.datetime(2020, 2, 1))],
        "subj string, period_start timestamp, period_end timestamp",
    ).write.parquet(periods)
    count = kgforge.checkpoint._footer_row_count

    def dies_on_triples(path):
        if os.path.basename(path) == "triples":
            raise Crash(path)
        return count(path)

    with monkeypatch.context() as mp:
        mp.setattr(kgforge.checkpoint, "_footer_row_count", dies_on_triples)
        with pytest.raises(Crash):
            run_pipeline(
                spark, pages[0], f"{fixture_dir}/concept_dict.parquet", out,
                periods_path=periods,
            )
    assert _rows(spark.read.parquet(f"{out}/triples")) != want  # the crashed rows
    again = _build(spark, fixture_dir, pages, out)
    assert not again["stages"][-1]["skipped"]
    assert _rows(spark.read.parquet(f"{out}/triples")) == want


def test_single_file_input_change_invalidates_stages(spark, fixture_dir, tmp_path):
    """Single-file pages input (what `cli synth` and write_fixture write):
    rewriting it with other pages must recompute every stage."""
    import pandas as pd

    pages = str(tmp_path / "pages.parquet")
    dict_path = f"{fixture_dir}/concept_dict.parquet"
    cols = ["url", "warc_ts", "html", "text", "lang"]

    def write(rows):
        df = pd.DataFrame(rows, columns=cols)
        df["warc_ts"] = df["warc_ts"].astype("datetime64[us]")
        df.to_parquet(pages, index=False)

    write(BASE_PAGES[:2])
    out = str(tmp_path / "out")
    run_pipeline(spark, pages, dict_path, out)
    write(BASE_PAGES)
    again = run_pipeline(spark, pages, dict_path, out)
    fresh = run_pipeline(spark, pages, dict_path, str(tmp_path / "fresh"))
    assert not any(s["skipped"] for s in again["stages"])
    assert again["n_triples"] == fresh["n_triples"]


def test_failed_publish_keeps_the_old_target(spark, tmp_path):
    """`run --publish` overwrite: a write that fails midway leaves the
    consumer's existing target readable with its old rows."""
    target = str(tmp_path / "published")
    old = spark.createDataFrame(
        [("s1", "hasLang", "en")], "subj string, pred string, obj string"
    )
    write_triples(old, target)
    boom = F.udf(lambda s: 1 // 0, "long")
    bad = old.withColumn("obj", boom("obj").cast("string"))
    with pytest.raises(Exception):
        write_triples(bad, target)
    assert _rows(spark.read.parquet(target)) == _rows(old.select("subj", "obj", "pred"))
    assert os.listdir(tmp_path) == ["published"]
