"""Spans around calls into kgforge's public layer functions.

`traced_build` reproduces run_pipeline's stage order, materializing each
stage through CheckpointManager exactly as run_pipeline does, with one
span per layer. Canonicalization is split into its public steps in
canonicalize's order and materializes exactly what canonicalize does, so
blocking is timed with pair generation and verification with connected
components; the resulting mapping is checked against the untraced run's.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from kgforge import canon as C
from kgforge import emit as E
from kgforge import mentions as M
from kgforge import ontology as O
from kgforge.checkpoint import CheckpointManager
from kgforge.conf import LSH_BANDS, MAX_LSH_BLOCK, MINHASH_PERMS, NEAR_DUP_THRESHOLD
from kgforge.extract import extract_pages
from kgforge.link import link_mentions
from kgforge.metrics import triple_report, write_metrics


class Tracer:
    """In-memory spans: name, start, end, parent span and request id.
    A span's self time is its duration minus its children's."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.request = ""

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "name": name,
            "request": self.request,
            "parent": parent["name"] if parent else None,
            "start": time.perf_counter(),
            "child_s": 0.0,
        }
        self._stack.append(rec)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()
            dur = rec["end"] - rec["start"]
            rec["self_s"] = dur - rec["child_s"]
            if parent is not None:
                parent["child_s"] += dur
            self.spans.append(rec)

    def self_s(self, name: str) -> float:
        return sum(r["self_s"] for r in self.spans if r["name"] == name)


def traced_build(
    spark: SparkSession, pages_path: str, dict_path: str, out_dir: str, tr: Tracer
) -> dict:
    """run_pipeline's stages, one span per layer. Returns the layer
    counts; the spans are in `tr`."""
    tr.request = f"build:{out_dir}"
    cp = CheckpointManager(spark, out_dir, "traced")

    with tr.span("extract"):
        pages = spark.read.parquet(pages_path)
        extracted = cp.run_stage("extracted", lambda: extract_pages(pages, ("en",)))
    with tr.span("ontology.prep"):
        dic = O.propagate_hierarchy(O.clean_dictionary(spark.read.parquet(dict_path)))
        aliases = O.collect_aliases(O.linker_dictionary(dic))
    with tr.span("mentions"):
        mentions = cp.run_stage("mentions", lambda: M.detect_mentions(extracted, aliases))
    with tr.span("link"):
        candidates = cp.run_stage("candidates", lambda: link_mentions(mentions, dic))
    canon_frames: dict = {}
    with tr.span("canon"):
        mapping = cp.run_stage(
            "canon_mapping", lambda: traced_canonicalize(extracted, tr, canon_frames)
        )
    with tr.span("emit"):
        triples = cp.run_stage(
            "triples",
            lambda: E.all_triples(extracted, candidates, mapping).distinct(),
            partition_by=["pred"],
        )
    info = canon_frames["cc_info"]
    with tr.span("metrics.report"):
        write_metrics(triple_report(triples), out_dir, "traced")
        cc_rows = spark.createDataFrame(
            [
                ("cc_branch", info["branch"], int(info["n_edges_probed"] or 0)),
                ("cc_threshold", info["branch"], int(info["threshold"])),
            ],
            "metric string, key string, value long",
        )
        write_metrics(cc_rows, out_dir, "traced", name="_metrics_canon")

    # counts: stage rows from the checkpoint manifests, the rest from
    # public return values; these jobs run outside every layer span and
    # are part of the measured tracing overhead
    rows = {m["stage"]: m["rows_out"] for m in cp.manifest()}
    n_ent_mentions = mentions.filter(F.col("kind") == "entity").count()
    n_ent_cands = candidates.filter(F.col("kind") == "entity").count()
    n_pairs = canon_frames["pairs"].count()
    # the CC edge probe counts the verified edges (below its threshold)
    n_edges = int(info["n_edges_probed"] or 0)
    n_pre = E.all_triples(extracted, candidates, mapping).count()
    # kgforge.mentions' own engine choice for engine="auto"
    token = (
        M._build_token_index(aliases) is not None
        and len(aliases) >= M.TOKEN_ENGINE_MIN_ALIASES
    )
    return {
        "extract.pages_out": rows["extracted"],
        "ontology.aliases": len(aliases),
        "mentions.rows_out": rows["mentions"],
        "mentions.engine_token": int(token),
        "link.rows_out": rows["candidates"],
        "link.link_yield": n_ent_cands / n_ent_mentions if n_ent_mentions else 0.0,
        "canon.candidate_pairs": n_pairs,
        "canon.verified_edges": n_edges,
        "canon.verify_yield": n_edges / n_pairs if n_pairs else 0.0,
        "canon.capped_blocks": canon_frames["block_metrics"].count(),
        "canon.cc_local": int(info["branch"] == "local"),
        "emit.rows_pre_distinct": n_pre,
        "emit.triples_out": rows["triples"],
        "emit.distinct_yield": rows["triples"] / n_pre if n_pre else 0.0,
    }


def traced_canonicalize(extracted, tr: Tracer, frames: dict, threshold: float = NEAR_DUP_THRESHOLD):
    """canonicalize()'s steps in its order, materializing only what it
    materializes: the signatures, the candidate pairs, and the verified
    edges inside connected_components. So the blocking work lands in the
    pairs span and the verification work in the CC span. Keeps the
    intermediate frames in `frames` for counting."""
    iid = F.xxhash64(F.col("url")).alias("iid")
    pages = extracted.cache()
    with tr.span("canon.signatures"):
        sigs = C.minhash_signatures(
            pages.select(iid, "text"), "text", "iid", n_perms=MINHASH_PERMS
        ).localCheckpoint(eager=True)
    with tr.span("canon.blocks_pairs"):
        blocks = C.lsh_blocks(sigs, LSH_BANDS, "iid", n_perms=MINHASH_PERMS)
        pairs, block_metrics = C.candidate_pairs(blocks, "iid", MAX_LSH_BLOCK)
        pairs = pairs.localCheckpoint(eager=True)
    info: dict = {}
    with tr.span("canon.verify_cc"):
        verified = C.verify_pairs_jaccard(
            pairs, pages.select(iid, F.col("url"), F.col("text")), threshold, "iid", "text"
        )
        comps = C.connected_components(
            verified.select(F.col("a").alias("src"), F.col("b").alias("dst")), info=info
        )
    frames.update(pairs=pairs, block_metrics=block_metrics, cc_info=info)
    # component ids back to urls, representative = min url (as canonicalize)
    purl = pages.select(F.col("url"), iid)
    node_urls = purl.join(
        F.broadcast(comps.withColumnRenamed("node", "iid")), "iid"
    ).select("iid", "url", "comp")
    reps = node_urls.groupBy("comp").agg(F.min("url").alias("canon_url"))
    return (
        purl.join(F.broadcast(node_urls.select("iid", "comp")), "iid", "left")
        .join(F.broadcast(reps), "comp", "left")
        .select("url", F.coalesce("canon_url", F.col("url")).alias("canon_url"))
    )
