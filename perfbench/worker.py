"""One benchmark run: set up, measure in a closed loop, check, report.

Started by perfbench/run.py, which samples this process tree's memory
from outside and prints the result. Writes its result as JSON to
--result. Usage (from the repository root):

    python3 -m perfbench.worker --workload full_build --seed 1 \
        --seconds 20 --trace 0 --work .bench_work/x --result .bench_work/x.json
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from kgforge import incremental as I
from kgforge.conf import get_spark
from kgforge.pipeline import run_pipeline

from perfbench import gen, proc
from perfbench.trace import Tracer, traced_build

WORKLOADS = ("full_build", "large_ontology")
READS = 2  # view reads after the merged batch
RESUMES = 5  # re-submissions after the build, at least; resume_cpu_s is their median
# the result line's metrics besides setup_s: CPU time of the process tree,
# which spread about half as much between runs on a shared host as wall
# time did (wall-clock figures are in the detail line)
GATED = (("build_cpu_s", "s"), ("triples_per_cpu_s", "triples/cpu-s"), ("resume_cpu_s", "s"))


def task_slots() -> int:
    return len(os.sched_getaffinity(0))


def timing(samples: list[float]) -> dict:
    """Median, the highest percentile with at least ten samples beyond
    it (nearest rank; None below eleven samples), and the sample count."""
    s = sorted(samples)
    n = len(s)
    out = {"p50": statistics.median(s) if s else None, "p_hi": None, "p_hi_value": None,
           "n": n, "samples": samples}
    if n > 10:
        out["p_hi"] = math.floor(100 * (n - 10) / n)
        out["p_hi_value"] = s[n - 11]
    return out


def triple_digest(df) -> list[int]:
    """(row count, order-independent checksum) of a triple set."""
    h = F.xxhash64(*[F.col(c) for c in sorted(df.columns)]).cast("decimal(38,0)")
    r = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("s")).first()
    return [int(r["n"]), int(r["s"] or 0)]


def session(cpus: int):
    spark = get_spark(
        f"perfbench-{cpus}", cpus=cpus, extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    spark.sparkContext.setLogLevel("ERROR")

    # spawn every Python worker (pandas/numpy imported) before timing
    @pandas_udf(T.LongType())
    def _warm(x: pd.Series) -> pd.Series:
        return x

    spark.range(0, 4 * cpus, 1, numPartitions=4 * cpus).select(F.sum(_warm("id"))).collect()
    return spark


class Run:
    """Operation log of one run: every build, batch or read attempted,
    its wall time and whether it raised or failed its output check."""

    def __init__(self, work: str, workload: str, seed: int):
        self.work = work
        self.workload = workload
        self.seed = seed
        self.ops: list[dict] = []
        self.problems: list[str] = []

    def op(self, kind: str, fn):
        """Run one operation; records its wall time and the CPU time of
        this process tree (the Spark JVM and its Python workers) over
        it. CPU time leaves out what other tenants of a shared host take
        from the cores, so it spreads less between runs than wall time."""
        rec = {"kind": kind, "wall": None, "cpu": None, "failed": False}
        self.ops.append(rec)
        c0 = proc.tree_cpu_s(os.getpid())
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception:  # a failing operation is counted, the run goes on
            rec["failed"] = True
            self.problems.append(f"{kind} raised: {traceback.format_exc(limit=3)}")
            print(traceback.format_exc(), file=sys.stderr)
            return rec, None
        rec["wall"] = time.perf_counter() - t0
        rec["cpu"] = proc.tree_cpu_s(os.getpid()) - c0
        return rec, out

    def expect(self, rec: dict, ok: bool, what: str) -> None:
        if not ok:
            rec["failed"] = True
            self.problems.append(f"{rec['kind']}: {what}")

    def walls(self, kind: str, key: str = "wall") -> list[float]:
        return [r[key] for r in self.ops if r["kind"] == kind and r[key] is not None]

    def same_as_before(self, rec: dict, key: str, value) -> None:
        """The same seed must give the same value in every cycle of this
        run and in every earlier run in this checkout."""
        path = os.path.join(os.path.dirname(self.work), "expected", f"{self.workload}-{self.seed}-{key}.json")
        if os.path.exists(path):
            with open(path) as f:
                self.expect(rec, json.load(f) == value, f"{key} differs from an earlier run of this seed")
        else:
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path + ".tmp", "w") as f:
                json.dump(value, f)
            os.replace(path + ".tmp", path)


def canon_map(spark, out: str) -> dict:
    return {r["url"]: r["canon_url"] for r in spark.read.parquet(f"{out}/canon_mapping").collect()}


# --- builds ------------------------------------------------------------------

def check_build(spark, run: Run, corpus: gen.Corpus, out: str, rec: dict, n_reported: int) -> list[int]:
    digest = triple_digest(spark.read.parquet(f"{out}/triples"))
    run.expect(rec, digest[0] == n_reported, f"reported {n_reported} triples, wrote {digest[0]}")
    run.same_as_before(rec, "triples", digest)
    canon = canon_map(spark, out)
    missed = [d for d, s in corpus.dups if d not in canon or canon[d] != canon.get(s)]
    run.expect(rec, not missed, f"{len(missed)}/{len(corpus.dups)} near-duplicates not merged")
    texts = {
        r["url"]: r["text"]
        for r in spark.read.parquet(f"{out}/extracted").select("url", "text").collect()
    }
    bad = [u for u, t in corpus.truth.items() if texts.get(u) != t]
    run.expect(rec, not bad, f"{len(bad)}/{len(corpus.truth)} extracted texts differ")
    return digest


def measure_builds(spark, run: Run, corpus: gen.Corpus, seconds: float) -> dict:
    """One cold build into a fresh dir (the session's first, as for a
    batch-job submission), then the same submission again and again
    until `seconds` have passed since the build started (at least RESUMES
    times); then the output checks."""
    out = os.path.join(run.work, "out")
    t_start = time.perf_counter()
    b, info = run.op("build", lambda: run_pipeline(spark, corpus.pages, corpus.dict, out))
    resumes = []
    while len(resumes) < RESUMES or time.perf_counter() - t_start < seconds:
        resumes.append(run.op("resume", lambda: run_pipeline(spark, corpus.pages, corpus.dict, out)))
    if info is not None:
        check_build(spark, run, corpus, out, b, info["n_triples"])
        for r, again in resumes:
            if again is not None:
                run.expect(r, all(s["skipped"] for s in again["stages"]), "resume recomputed a stage")
                run.expect(r, again["n_triples"] == info["n_triples"], "resume changed the triple count")
    builds, rest = run.walls("build"), run.walls("resume")
    cpus, rest_cpus = run.walls("build", "cpu"), run.walls("resume", "cpu")
    n = info["n_triples"] if info is not None else 0
    named = {
        "build_wall_s": timing(builds),
        "build_cpu_s": timing(cpus),
        "triples_per_s": timing([n / w for w in builds]),
        "triples_per_cpu_s": timing([n / c for c in cpus if c]),
        "resume_s": timing(rest),
        "resume_cpu_s": timing(rest_cpus),
    }
    return {
        "metrics": {k: (named[k]["p50"], unit) for k, unit in GATED},
        "named": named,
    }


# --- incremental (traced run only) ---------------------------------------------

def view_read(spark, out: str, subjects: list[str]):
    """Merge-on-read view: per-pred counts plus a lookup of fixed subjects."""
    v = I.read_triples(spark, out)
    per_pred = {r["pred"]: r["count"] for r in v.groupBy("pred").count().collect()}
    rows = v.filter(F.col("subj").isin(subjects)).select("subj", "pred").collect()
    return per_pred, rows


def merge_batch(spark, run: Run, tr: Tracer, corpus: gen.Corpus, out: str) -> dict:
    """One crawl batch merged into the build at `out`, READS view reads,
    then a compaction; checks that planted clones and in-batch pairs
    merged, that every read finds the fixed subjects, and that compaction
    leaves the view unchanged. Returns the layer counts."""
    bat = gen.batches(os.path.join(run.work, "batches"), run.seed, corpus)
    base_canon = canon_map(spark, out)
    subjects = sorted({base_canon[u] for u in gen.lookup_urls(run.seed, corpus)})
    tr.request = f"incremental:{out}"
    with tr.span("incremental.merge"):
        m, info = run.op("merge", lambda: I.incremental_update(spark, out, bat.path, corpus.dict))
    for _ in range(READS):
        with tr.span("incremental.read"):
            r, got = run.op("read", lambda: view_read(spark, out, subjects))
        if got is not None:
            _, rows = got
            found = {s for s, p in rows if p == "hasLang"}
            spans = [s for s, p in rows if p == "hasSpan"]
            run.expect(r, found == set(subjects), "lookup lost a subject")
            run.expect(r, len(spans) == len(set(spans)) == len(subjects), "lookup subject span rows")
    view = I.read_triples(spark, out)
    same = {
        r["subj"]: r["obj"]
        for r in view.filter(F.col("pred") == "sameAs").select("subj", "obj").collect()
    }
    for clone, src in bat.clones:
        run.expect(m, same.get(clone) == base_canon[src], f"clone {clone} did not adopt {base_canon[src]}")
    for dup, rep in bat.pairs:
        run.expect(m, same.get(dup) == rep, f"batch pair {dup} not merged into {rep}")
    before = triple_digest(view)
    run.same_as_before(m, "view", before)
    with tr.span("incremental.compact"):
        c, _ = run.op("compact", lambda: I.compact(spark, out))
    run.expect(c, triple_digest(I.read_triples(spark, out)) == before, "compaction changed the view")
    if info is None:
        info = dict.fromkeys(("n_delta_triples", "n_new_base_edges", "n_capped_blocks",
                              "deferred_base_merges"), 0)
    return {
        "incremental.delta_triples": info["n_delta_triples"],
        "incremental.new_base_edges": info["n_new_base_edges"],
        "incremental.capped_blocks": info["n_capped_blocks"],
        "incremental.deferred_merges": info["deferred_base_merges"],
    }


# --- traced run --------------------------------------------------------------

def traced(spark, run: Run, workload: str, corpus: gen.Corpus, cpus: int) -> dict:
    """Untraced cold build, traced build, untraced build again (the
    traced build's overhead is measured against the warm second one);
    then one crawl batch merged into the traced output, with a span per
    call."""
    tr = Tracer()
    walls, digests, mappings = {}, {}, {}
    for name in ("cold", "traced", "untraced"):
        out = os.path.join(run.work, name)
        if name == "traced":
            rec, counts = run.op("build", lambda: traced_build(spark, corpus.pages, corpus.dict, out, tr))
            n = counts["emit.triples_out"] if counts else -1
        else:
            rec, info = run.op("build", lambda: run_pipeline(spark, corpus.pages, corpus.dict, out))
            n = info["n_triples"] if info else -1
        walls[name] = rec["wall"]
        digests[name] = check_build(spark, run, corpus, out, rec, n)
        mappings[name] = triple_digest(spark.read.parquet(f"{out}/canon_mapping"))
    rec = run.ops[1]
    run.expect(rec, digests["traced"] == digests["cold"] == digests["untraced"],
               "traced triple set differs from the untraced one")
    run.expect(rec, mappings["traced"] == mappings["cold"],
               "traced canonical mapping differs from canonicalize's")
    inc = merge_batch(spark, run, tr, corpus, os.path.join(run.work, "traced"))

    layer = {
        "extract.busy_s": (tr.self_s("extract"), "s"),
        "extract.pages_out": (counts["extract.pages_out"], "count"),
        "extract.html_mb_in": (corpus.html_mb, "MB"),
        "ontology.prep_s": (tr.self_s("ontology.prep"), "s"),
        "ontology.aliases": (counts["ontology.aliases"], "count"),
        "mentions.busy_s": (tr.self_s("mentions"), "s"),
        "mentions.rows_out": (counts["mentions.rows_out"], "count"),
        "mentions.engine_token": (counts["mentions.engine_token"], "bool"),
        "link.busy_s": (tr.self_s("link"), "s"),
        "link.rows_out": (counts["link.rows_out"], "count"),
        "link.link_yield": (counts["link.link_yield"], "ratio"),
    }
    for step in ("signatures", "blocks_pairs", "verify_cc"):
        layer[f"canon.{step}_s"] = (tr.self_s(f"canon.{step}"), "s")
    layer["canon.self_s"] = (tr.self_s("canon"), "s")
    for k in ("canon.candidate_pairs", "canon.verified_edges", "canon.capped_blocks"):
        layer[k] = (counts[k], "count")
    layer["canon.verify_yield"] = (counts["canon.verify_yield"], "ratio")
    layer["canon.cc_local"] = (counts["canon.cc_local"], "bool")
    layer["emit.busy_s"] = (tr.self_s("emit"), "s")
    layer["emit.rows_pre_distinct"] = (counts["emit.rows_pre_distinct"], "count")
    layer["emit.triples_out"] = (counts["emit.triples_out"], "count")
    layer["emit.distinct_yield"] = (counts["emit.distinct_yield"], "ratio")
    layer["metrics.report_s"] = (tr.self_s("metrics.report"), "s")
    layer["incremental.merge_s"] = (tr.self_s("incremental.merge"), "s")
    for k, v in inc.items():
        layer[k] = (v, "count")
    layer["incremental.read_s"] = (tr.self_s("incremental.read") / READS, "s")
    layer["incremental.compact_s"] = (tr.self_s("incremental.compact"), "s")
    layer["trace.overhead_s"] = (walls["traced"] - walls["untraced"], "s")

    build_spans = [r for r in tr.spans if r["request"].startswith("build:")]
    total = sum(r["self_s"] for r in build_spans) or 1.0
    detail = {
        "walls": walls,
        "build_self_share": {
            r["name"]: round(r["self_s"] / total, 4) for r in build_spans
        },
        "spans": [
            {k: r[k] for k in ("name", "request", "parent", "start", "end", "self_s")}
            for r in tr.spans
        ],
    }
    if workload == "full_build":
        # reference data, not a gated metric: the same build at local[1]
        spark.stop()
        one = session(1)
        out = os.path.join(run.work, "local1")
        t0 = time.perf_counter()
        info = run_pipeline(one, corpus.pages, corpus.dict, out)
        wall1 = time.perf_counter() - t0
        one.stop()
        n = info["n_triples"]
        tput_k, tput_1 = n / walls["untraced"], n / wall1
        detail["scaling"] = {
            "cpus": cpus, "tput_k": tput_k, "tput_1": tput_1,
            "ratio_1_to_k": tput_k / tput_1, "efficiency": tput_k / (cpus * tput_1),
        }
    return {"metrics": layer, "detail": detail}


# --- main --------------------------------------------------------------------

def make_inputs(workload: str, work: str, seed: int) -> gen.Corpus:
    inp = os.path.join(work, "inputs")
    shutil.rmtree(inp, ignore_errors=True)
    if workload == "full_build":
        return gen.synth_corpus(inp, seed, gen.BUILD_PAGES)
    return gen.ontology_corpus(inp, seed)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--result", required=True)
    a = ap.parse_args(argv)

    env = {
        "cpus": task_slots(),
        "heap": os.environ.get("KGF_DRIVER_MEM"),
        "local_dir": os.environ.get("KGF_LOCAL_DIR"),
        "loadavg_at_start": os.getloadavg(),
    }
    run = Run(a.work, a.workload, a.seed)
    t0 = time.perf_counter()
    spark = session(env["cpus"])
    session_s = time.perf_counter() - t0
    gen_walls = []
    for _ in range(3):  # input generation is repeated and its median reported
        t0 = time.perf_counter()
        corpus = make_inputs(a.workload, a.work, a.seed)
        gen_walls.append(time.perf_counter() - t0)
    setup = {"session_s": session_s, "inputs_s": statistics.median(gen_walls)}

    if a.trace:
        res = traced(spark, run, a.workload, corpus, env["cpus"])
        metrics, detail = res["metrics"], res["detail"]
    else:
        res = measure_builds(spark, run, corpus, a.seconds)
        metrics = {"setup_s": (sum(setup.values()), "s"), **res["metrics"]}
        detail = {"named": res["named"]}
    spark.stop()

    attempted = len(run.ops)
    failed = sum(r["failed"] for r in run.ops)
    detail.update(
        workload=a.workload, seed=a.seed, trace=a.trace, env=env, setup=setup,
        op_failure_ratio=failed / attempted if attempted else None,
        ops={k: sum(1 for r in run.ops if r["kind"] == k)
             for k in ("build", "resume", "merge", "read", "compact")},
        problems=run.problems,
    )
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        "detail": detail,
    }
    with open(a.result + ".tmp", "w") as f:
        json.dump(result, f, default=float)
    os.replace(a.result + ".tmp", a.result)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
