"""Checkpoint / lineage manifest — stage-level resume (SURVEY.md §7.6),
and the one publish step every directory kgforge replaces goes through.

The reference is truncate-and-reload (pcornetclear,
Oracle/PCORNetLoader_ora.sql:2576-2593) with COMMIT per emitter; the
recast is a manifest of finished stages so a re-submitted run skips
completed work and produces the *identical* triple set (all ids are
content hashes, so replays are idempotent).

Manifest layout (out_dir/_checkpoints/<stage>.json):
  {run_id, stage, rows_out, wall_s, jobs, finished_ts, input_fingerprint}

A stage runs only when its manifest entry is missing or its input
fingerprint changed. A skipped stage reports the rows_out its manifest
recorded, so a resume reads every count without touching the data.
A computed stage runs under a Spark job group named after it, and
`jobs` is the number of Spark jobs that group ran.

Reading: every directory kgforge wrote (stage outputs, crawl batches,
the compacted base, the metrics tables) is read by `read_own`, which
takes the schema Spark stored in the first data file's footer instead
of running Spark's schema-inference job, so a resume into a finished
out dir runs no Spark job at all. External inputs keep Spark's
inference.

Publishing: `publishing(path)` hands out a hidden sibling to write and
swaps it in with two renames when the block ends; `settle(path)`
finishes a swap a crash cut between those renames. Stage outputs,
crawl batches, the compacted base and migrated tables all go through
it, so each is complete or absent at every instant. A stage drops its
manifest before it builds and writes it after the swap: a crash
anywhere in between leaves no manifest (or a torn one that fails to
decode), and the re-run recomputes the stage.

On a real cluster with Iceberg jars, `input_fingerprint` is the source
snapshot id and stage outputs are Iceberg overwritePartitions; the logic
here is identical with directory-level granularity.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
from contextlib import contextmanager, suppress
from dataclasses import dataclass

from pyspark.errors import PySparkRuntimeError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructType


@dataclass
class StageResult:
    stage: str
    rows_out: int
    wall_s: float
    skipped: bool


class CheckpointManager:
    def __init__(self, spark: SparkSession, out_dir: str, run_id: str = "run"):
        self.spark = spark
        self.out_dir = out_dir
        self.run_id = run_id
        self.manifest_dir = os.path.join(out_dir, "_checkpoints")
        os.makedirs(self.manifest_dir, exist_ok=True)
        self.results: list[StageResult] = []

    def _manifest_path(self, stage: str) -> str:
        return os.path.join(self.manifest_dir, f"{stage}.json")

    def _finished(self, stage: str, input_fingerprint: str = "") -> dict | None:
        """The stage's manifest when it finished for this input, else None."""
        m = _load(self._manifest_path(stage)) or {}
        # the data must actually exist (a deleted output invalidates)
        done = m.get("input_fingerprint") == input_fingerprint and os.path.exists(
            os.path.join(self.out_dir, stage, "_SUCCESS")
        )
        return m if done else None

    def run_stage(
        self,
        stage: str,
        build: callable,
        input_fingerprint: str = "",
        partition_by: list[str] | None = None,
    ) -> DataFrame:
        """Run `build()` -> DataFrame and persist it, unless the manifest
        says this stage already finished for the same input — then just
        reload the persisted output (no recompute; the resume test
        asserts this via the manifest timestamps)."""
        path = os.path.join(self.out_dir, stage)
        done = self._finished(stage, input_fingerprint)
        if done is not None:
            self.results.append(StageResult(stage, done["rows_out"], 0.0, skipped=True))
            return read_own(self.spark, path)
        # a manifest must never outlive the data it describes: a crash
        # between the swap below and the new manifest then recomputes
        if os.path.exists(self._manifest_path(stage)):
            os.remove(self._manifest_path(stage))
        t0 = time.time()
        with _job_group(self.spark, stage) as jobs:
            df = build()
            with publishing(path) as tmp:
                df.write.parquet(tmp, partitionBy=partition_by)
        # row count from parquet footers — metadata-only, no second full
        # scan of the stage output (the Iceberg deployment reads this
        # from snapshot manifests; same discipline here)
        rows = _footer_row_count(path)
        wall = time.time() - t0
        with open(self._manifest_path(stage), "w") as f:
            json.dump(
                {
                    "run_id": self.run_id,
                    "stage": stage,
                    "rows_out": rows,
                    "wall_s": round(wall, 3),
                    "jobs": jobs(),
                    "finished_ts": time.time(),
                    "input_fingerprint": input_fingerprint,
                },
                f,
            )
        self.results.append(StageResult(stage, rows, wall, skipped=False))
        return read_own(self.spark, path)

    def manifest(self) -> list[dict]:
        """Every decodable stage manifest (a torn one is no manifest)."""
        paths = sorted(glob.glob(os.path.join(self.manifest_dir, "*.json")))
        return [m for m in map(_load, paths) if m is not None]


def _load(path: str) -> dict | None:
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, json.JSONDecodeError):
        return None


def _footer_row_count(path: str) -> int:
    """Exact row count of a parquet directory from file footers only.
    Footer reads are tiny but serial-latency-bound over hundreds of
    stage files — a thread pool keeps this out of the per-stage fixed
    cost (it sits inside every stage's measured wall)."""
    from concurrent.futures import ThreadPoolExecutor

    import pyarrow.parquet as pq

    paths = _parquet_files(path)
    with ThreadPoolExecutor(max_workers=16) as ex:
        return sum(
            ex.map(lambda p: pq.ParquetFile(p).metadata.num_rows, paths)
        )


def _parquet_files(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


_JOB_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


@contextmanager
def _job_group(spark: SparkSession, group: str):
    """Run the block's Spark jobs in job group `group`; yields a callable
    returning how many jobs the block ran. The caller's group is restored
    afterwards."""
    sc = spark.sparkContext
    caller = [sc.getLocalProperty(k) for k in _JOB_GROUP_PROPS]
    before = set(sc.statusTracker().getJobIdsForGroup(group))
    sc.setJobGroup(group, group)
    try:
        yield lambda: len(set(sc.statusTracker().getJobIdsForGroup(group)) - before)
    finally:
        for k, v in zip(_JOB_GROUP_PROPS, caller):
            sc.setLocalProperty(k, v)


_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def read_own(spark: SparkSession, *paths: str) -> DataFrame:
    """Read parquet directories kgforge wrote, with the schema Spark
    stored in the footer of the first data file: no schema-inference
    job. `k=v` partition columns are appended as strings, and the file
    source marks every field nullable, so the schema is the one Spark's
    inference gives. A directory without such a footer falls back to
    inference."""
    import pyarrow.parquet as pq

    root, first = next(
        ((p, fs[0]) for p in paths if (fs := _parquet_files(p))), (None, None)
    )
    meta = first and (pq.read_metadata(first).metadata or {}).get(_SPARK_SCHEMA_KEY)
    if not meta:
        return spark.read.parquet(*paths)
    schema = StructType.fromJson(json.loads(meta))
    for part in os.path.relpath(os.path.dirname(first), root).split(os.sep):
        if "=" in part:
            schema.add(part.split("=", 1)[0], StringType())
    return spark.read.schema(schema).parquet(*paths)


def _siblings(path: str) -> tuple[str, str]:
    """The hidden (new, old) siblings `publishing` swaps through."""
    parent, name = os.path.split(path.rstrip("/"))
    return os.path.join(parent, f".{name}.tmp"), os.path.join(parent, f".{name}.old")


def settle(path: str) -> None:
    """Finish a `publishing` swap that a crash cut short. The old copy
    is only renamed aside once the new one is complete, so an aside copy
    with no `path` means the new copy (if any) is ready to move in."""
    new, old = _siblings(path)
    if os.path.exists(old):
        if not os.path.exists(path) and os.path.exists(new):
            os.rename(new, path)
        shutil.rmtree(old)


@contextmanager
def publishing(path: str):
    """Yield a hidden sibling of `path` to write; when the block ends,
    swap it in (old copy aside, new copy in, old copy removed). If the
    block raises, `path` is left as it was. A block that writes nothing
    withdraws `path`."""
    settle(path)
    new, old = _siblings(path)
    shutil.rmtree(new, ignore_errors=True)
    try:
        yield new
    except BaseException:
        shutil.rmtree(new, ignore_errors=True)
        raise
    if os.path.exists(path):
        os.rename(path, old)
    if os.path.exists(new):
        os.rename(new, path)
    shutil.rmtree(old, ignore_errors=True)
    # Spark keys cached plans by path: drop what the session holds for
    # the old copy (no session, nothing cached)
    with suppress(PySparkRuntimeError):
        SparkSession.active().catalog.refreshByPath(path)


def fingerprint_input(path: str) -> str:
    """Cheap input fingerprint: names + sizes + mtimes of a parquet file,
    or of every parquet file under a directory.
    (Iceberg snapshot id on a real deployment.)"""
    files = [path] if os.path.isfile(path) else _parquet_files(path)
    stats = ((os.path.basename(f), os.stat(f)) for f in files)
    return "|".join(f"{fn}:{st.st_size}:{st.st_mtime_ns}" for fn, st in stats)
