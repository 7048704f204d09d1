"""Incremental ingestion — merge a new crawl batch into an existing
run_pipeline output WITHOUT a full refresh.

The reference is full-refresh by design (`pcornetclear` then reload,
MSSQL/run.sql:12-79); at 10^12 documents a daily crawl increment cannot
re-run the corpus, so this module adds the merge-on-read discipline an
Iceberg deployment would use:

- New pages run the normal extract -> mentions -> link stages (batch
  scale only, never the base corpus).
- Canonicalization delta: the base corpus contributes only the MinHash
  signatures stored with its pages (the `sig` column of the extracted
  stage and of every committed increment's). The batch's LSH blocks and
  the base blocks that share their keys (Bloom-pruned, then restricted
  exactly by a left-semi join on the block key) go through the full
  run's candidate_pairs ONCE, so a block is capped on its combined
  base + batch size and its dropped-block row in the batch's
  `_metrics_canon` is the one a full run records. Pairs of two base
  urls were resolved by the base and are dropped; the rest, oriented
  batch url first, go through ONE exact-Jaccard verification (the
  build's verify_pairs_jaccard), which reads base TEXT only for the
  base urls in a candidate pair (left-semi pruned scan of the stored
  `extracted` stage); its materialized edges yield the anchors, the
  batch's connected components and the new-vs-base edge count, which
  the same `_metrics_canon` write records with `deferred_base_merges`.
- Representative STABILITY: a new page near-duplicating a base page
  adopts the base component's canonical subject — base triples are
  never re-keyed. A batch component whose members collectively verify
  against MORE THAN ONE distinct base canonical (whether one url
  multi-anchors or different members each anchor to a different base
  component) bridges base components: it is counted
  (`deferred_base_merges`) and keeps the min anchor for its own rows.
  Re-keying the base is deferred to the NEXT FULL RUN — compact()
  materializes the merge-on-read view and folds the batches' stages but
  deliberately does not re-key existing subjects.
- Spans come from the build's own aggregation (emit.span_triples), fed
  the batch's page observations plus each touched subject's stored
  observed span as two observations (its start and its end), so the
  merged interval is the min/max over both. Curated ('A'-basis) spans
  are never overridden by observed increments.
- Scope: batch urls are NEW pages. A re-crawl of an existing url (same
  url, newer snapshot) is an upstream concern — version the url by
  warc_ts before ingestion (url#ts), exactly as a Common-Crawl WARC
  pipeline keys snapshots; triple provenance keeps src_url + src_ts.
- Increments land under out_dir/increments/batch-NNNNN/triples (next
  to the batch's mapping, extracted, _checkpoints and _metrics_canon);
  read_triples() presents base + increments with span supersedence
  (merge-on-read); compact() materializes that view as the new base
  (compaction) and clears increments.
- Every directory this module creates or replaces (batch dirs, the
  compacted base, the cleared increments) is published through
  checkpoint.publishing, so a crash leaves each one complete or absent;
  the readers settle a swap a crash cut short. A batch's signatures
  are published with it, in its `extracted`.
- A batch's Spark jobs all run inside its stages' job groups: the
  canonicalization delta and its `_metrics_canon` record inside the
  `mapping` build, the dictionary prep inside the `triples` build.
- Every directory this module reads back (base stages, committed
  increments, the merge-on-read view) is read through
  checkpoint.read_own, which takes its schema from the parquet footer
  Spark wrote and so runs no schema-inference job; only the new pages
  and the dictionary, external inputs, are inferred.
"""

from __future__ import annotations

import glob
import os
import re

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kgforge import canon as C
from kgforge import emit as E
from kgforge import ontology as O
from kgforge.checkpoint import (
    CheckpointManager,
    _footer_row_count,
    publishing,
    read_own,
    settle,
)
from kgforge.conf import NEAR_DUP_THRESHOLD
from kgforge.extract import extract_pages
from kgforge.link import link_mentions
from kgforge.metrics import metrics_file, write_metrics
from kgforge.mentions import detect_mentions
from kgforge.operators import bloom as B

_BATCH_RE = re.compile(r"^batch-(\d{5})$")


def _increment_dirs(out_dir: str) -> list[str]:
    root = os.path.join(out_dir, "increments")
    if not os.path.isdir(root):
        return []
    return sorted(d for d in os.listdir(root) if _BATCH_RE.match(d))


def _next_batch(out_dir: str) -> str:
    dirs = _increment_dirs(out_dir)
    n = int(_BATCH_RE.match(dirs[-1]).group(1)) + 1 if dirs else 1
    return f"batch-{n:05d}"


def read_committed(
    spark: SparkSession, out_dir: str, base: str, increment: str, cols: list[str]
) -> DataFrame:
    """`cols` of the base stage `base` plus every committed increment's
    `increment` output — the corpus as later batches and replay guards
    must see it, including pages that arrived incrementally."""
    incs = (
        os.path.join(out_dir, "increments", d, increment)
        for d in _increment_dirs(out_dir)
    )
    paths = [os.path.join(out_dir, base), *filter(os.path.isdir, incs)]
    return read_own(spark, *paths).select(*cols)


def _count_row(df: DataFrame, metric: str) -> DataFrame:
    """One `_metrics_canon` row (metric, null key, value) holding the
    row count of `df`, computed when the frame is written."""
    return df.agg(F.count(F.lit(1)).alias("value")).select(
        F.lit(metric).alias("metric"), F.lit(None).cast("string").alias("key"), "value"
    )


def deferred_merge_count(node_comp: DataFrame, url_anchor: DataFrame) -> DataFrame:
    """Batch components that bridge base components: a component whose
    members collectively anchor to MORE THAN ONE distinct base canonical
    is a deferred base merge. Counting distinct canonicals per component
    covers both the one-url-multi-anchor case and the A~B bridge case
    (A anchors base1, B anchors base2 — invisible to a per-url count).
    Returns the count as a one-row `deferred_base_merges` metrics frame.

    node_comp: (url, comp) — every batch url with its batch component id
    url_anchor: (url, canon_url) — distinct verified anchoring pairs
    """
    bridges = (
        node_comp.join(url_anchor, "url")
        .groupBy("comp")
        .agg(F.countDistinct("canon_url").alias("n_dist"))
        .filter(F.col("n_dist") > 1)
    )
    return _count_row(bridges, "deferred_base_merges")


def incremental_update(
    spark: SparkSession,
    out_dir: str,
    new_pages_path: str,
    dict_path: str,
    langs: tuple[str, ...] | None = ("en",),
    threshold: float = NEAR_DUP_THRESHOLD,
    auto_compact_after: int | None = 8,
) -> dict:
    # crash-safe publication: every batch artifact is a checkpointed
    # stage (or the _metrics_canon record) of the hidden dir `publishing`
    # hands out, and the swap at the end of the block is the commit
    # point. _increment_dirs only matches ^batch-\d{5}$, so a
    # half-written batch from a crashed run is invisible to read_triples
    # and wiped by the retry — no partial batch can ever enter the
    # merge-on-read view.
    batch = _next_batch(out_dir)
    with publishing(os.path.join(out_dir, "increments", batch)) as tmp_dir:
        cp = CheckpointManager(spark, tmp_dir, batch)
        # canonical mapping = base stage PLUS every prior increment's mapping,
        # so a batch can anchor to pages introduced by earlier batches;
        # extracted text and signatures likewise, so the block join and
        # exact verification see a prior batch's pages
        base_mapping = read_committed(
            spark, out_dir, "canon_mapping", "mapping", ["url", "canon_url"]
        )
        base_ext = read_committed(
            spark, out_dir, "extracted", "extracted", ["url", "text", "sig"]
        )
        ext = cp.run_stage(
            "extracted",
            lambda: extract_pages(spark.read.parquet(new_pages_path), langs),
        )

        def canon_delta() -> DataFrame:
            new_blocks = C.lsh_blocks(ext, id_col="url")
            # Constant-size prefilter for the base side of the block join: a
            # Bloom bitmap over the BATCH's band keys (the small side) drops
            # base blocks whose key definitely has no partner, before the
            # semi-join's shuffle — at corpus scale the base block table
            # dwarfs the batch's, and most of its keys have no match. Exactly
            # output-preserving: the per-bk prune keeps surviving blocks whole
            # (the probe key IS bk), and false positives merely ride through
            # to the exact left-semi join on bk, which discards them before
            # candidate_pairs sees (and would record as capped) a base-only
            # block (pytest asserts run parity with the prune disabled).
            nb_bloom = B.bloom_build(new_blocks.select("bk"), B.h64_xx(F.col("bk")))
            base_blocks = B.bloom_prune(
                C.lsh_blocks(base_ext, id_col="url"), B.h64_xx(F.col("bk")), nb_bloom
            ).join(new_blocks.select("bk"), "bk", "left_semi")
            # the build's block path over every block holding a batch page,
            # base members included, so the cap and its record are the full
            # run's: a block over MAX_LSH_BLOCK yields no pairs and one
            # lsh_block_dropped row valued at its combined size
            pairs, dropped = C.candidate_pairs(
                new_blocks.unionByName(base_blocks), id_col="url"
            )
            # a pair of two base urls was resolved by the base; every other
            # pair is oriented so that column a is a batch url (a new-new
            # pair keeps a < b)
            is_new = ext.select("url", F.lit(True).alias("new"))
            swap = F.col("a_new").isNull()
            pairs = (
                pairs.join(is_new.toDF("a", "a_new"), "a", "left")
                .join(is_new.toDF("b", "b_new"), "b", "left")
                .filter(F.col("a_new") | F.col("b_new"))
                .select(
                    F.when(swap, F.col("b")).otherwise(F.col("a")).alias("a"),
                    F.when(swap, F.col("a")).otherwise(F.col("b")).alias("b"),
                )
                .localCheckpoint(eager=True)
            )

            # one exact verification: batch text + ONLY the base urls that
            # appear in a candidate pair (left-semi pruned scan of the stored
            # stage); the edges are consumed by the anchors, the batch
            # components and the edge count
            texts = ext.select("url", "text").unionByName(
                base_ext.select("url", "text").join(
                    pairs.select(F.col("b").alias("url")), "url", "left_semi"
                )
            )
            edges = C.verify_pairs_jaccard(pairs, texts, threshold).localCheckpoint(
                eager=True
            )

            # (new url, base canonical) anchoring edges — a new-new edge's b
            # has no base mapping row; per-url min anchor drives the mapping
            nb_edges = edges.join(
                base_mapping.select(F.col("url").alias("b"), "canon_url"), "b"
            ).select(F.col("a").alias("url"), "canon_url")
            url_anchor = nb_edges.distinct()
            anchors = url_anchor.groupBy("url").agg(F.min("canon_url").alias("anchor"))

            # components among the batch (new-new edges only: a base url
            # inside a component would change which canonical a bridging
            # component adopts), then adopt the min anchor per component
            nn_edges = edges.join(ext.select(F.col("url").alias("b")), "b", "left_semi")
            comps = C.connected_components(
                nn_edges.select(F.col("a").alias("src"), F.col("b").alias("dst"))
            )
            node_comp = (
                ext.select("url")
                .join(
                    F.broadcast(comps.withColumnRenamed("node", "url")), "url", "left"
                )
                .select("url", F.coalesce("comp", F.col("url")).alias("comp"))
            )
            comp_anchor = (
                node_comp.join(anchors, "url", "left")
                .groupBy("comp")
                .agg(F.min("anchor").alias("comp_anchor"), F.min("url").alias("comp_min"))
            )
            # the capped blocks (no silent caps) and the batch's two counts,
            # computed by the write itself and read back without Spark
            write_metrics(
                dropped.unionByName(_count_row(nb_edges, "n_new_base_edges"))
                .unionByName(deferred_merge_count(node_comp, url_anchor)),
                tmp_dir, batch, name="_metrics_canon",
            )
            return node_comp.join(F.broadcast(comp_anchor), "comp").select(
                "url", F.coalesce("comp_anchor", "comp_min").alias("canon_url")
            )

        mapping_new = cp.run_stage("mapping", canon_delta)

        def emission() -> DataFrame:
            # the full run's emitters, with their observed spans replaced by
            # the build's span aggregation over the batch's observations plus
            # each touched subject's stored observed ('E') span as two
            # observations (its start and its end, from its source url);
            # subjects with a curated ('A') stored span keep it
            dic, aliases = O.linker_inputs(spark.read.parquet(dict_path))
            cands = link_mentions(detect_mentions(ext, aliases), dic).cache()
            sparse = mapping_new.filter(F.col("url") != F.col("canon_url"))
            new_obs = E.span_observations(ext, sparse)
            stored = read_triples(spark, out_dir).filter(F.col("pred") == "hasSpan")
            touched = stored.join(new_obs.select("subj"), "subj", "left_semi")
            observed = touched.filter(F.col("qual_kind") == "E").select(
                "subj",
                F.col("src_url").alias("url"),
                F.explode(
                    F.array(
                        F.to_timestamp(F.split("obj", "/").getItem(0), E.ISO_FMT),
                        F.col("src_ts"),
                    )
                ).alias("warc_ts"),
            )
            curated = touched.filter(F.col("qual_kind") == "A").select("subj")
            span_rows = E.span_triples(
                new_obs.join(curated, "subj", "left_anti").unionByName(observed)
            )
            return (
                E.all_triples(ext, cands, mapping_new)
                .filter(F.col("pred") != "hasSpan")
                .distinct()
                .unionByName(span_rows)
            )

        cp.run_stage("triples", emission, partition_by=["pred"])
        rows = {r.stage: r.rows_out for r in cp.results}
        recorded = pq.read_table(metrics_file(tmp_dir, batch, "_metrics_canon")).to_pylist()
        out = {
            "batch": batch,
            "n_new_pages": rows["extracted"],
            "n_delta_triples": rows["triples"],
            **{r["metric"]: r["value"] for r in recorded if r["key"] is None},
            "n_capped_blocks": sum(r["metric"] == "lsh_block_dropped" for r in recorded),
            "compacted": False,
        }
    # auto-compaction: unbounded increment lists grow the merge-on-read
    # plan linearly (one union branch + dedup input per batch) — the
    # rewrite_data_files discipline, triggered automatically
    if auto_compact_after is not None and len(_increment_dirs(out_dir)) >= auto_compact_after:
        compact(spark, out_dir)
        out["compacted"] = True
    return out


def read_triples(spark: SparkSession, out_dir: str) -> DataFrame:
    """Merge-on-read view: base triples + all increments, with hasSpan
    rows superseded by the LATEST batch that touched each subject
    (increments emit the fully-merged span, so latest-wins is exact).
    All other rows are set-union (triples are identity-keyed facts)."""
    settle(os.path.join(out_dir, "triples"))  # a compaction cut mid-swap
    t = read_own(spark, os.path.join(out_dir, "triples")).withColumn(
        "_batch", F.lit(0)
    )
    for i, d in enumerate(_increment_dirs(out_dir), start=1):
        inc = read_own(
            spark, os.path.join(out_dir, "increments", d, "triples")
        ).withColumn("_batch", F.lit(i))
        t = t.unionByName(inc)
    spans = t.filter(F.col("pred") == "hasSpan")
    w = Window.partitionBy("subj").orderBy(F.desc("_batch"))
    latest = (
        spans.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    rest = t.filter(F.col("pred") != "hasSpan").dropDuplicates(
        ["subj", "pred", "obj", "src_url"]
    )
    return rest.unionByName(latest).drop("_batch")


def compact(spark: SparkSession, out_dir: str) -> dict:
    """Materialize the merge-on-read view as the new base triple table
    and clear increments — the Iceberg rewrite/compaction analog.

    The increments' mapping and extracted files fold into the base
    `canon_mapping` / `extracted` stage dirs first, so FUTURE batches
    can still anchor to (and exact-verify against) pages that arrived
    incrementally. After compaction the out_dir serves read_triples and
    further increments; a fresh full run_pipeline belongs in a new
    --out (its stage manifests describe the original pages input, not
    the augmented corpus).

    A retry after a crash at any point reaches the same base: the fold
    moves one parquet file per rename (each file sits in exactly one
    dir at every instant, so read_committed stays exact and a retry
    moves only what is left); the view over a published base plus the
    same increments is that base again; increments go last."""
    incs = _increment_dirs(out_dir)
    for inc, base in (("mapping", "canon_mapping"), ("extracted", "extracted")):
        for d in incs:
            files = glob.glob(os.path.join(out_dir, "increments", d, inc, "*.parquet"))
            for f in sorted(files):
                os.rename(f, os.path.join(out_dir, base, f"{d}-{os.path.basename(f)}"))
        # files moved behind Spark's back (see checkpoint.publishing)
        spark.catalog.refreshByPath(os.path.join(out_dir, base))

    merged = read_triples(spark, out_dir)
    with publishing(os.path.join(out_dir, "triples")) as tmp:
        merged.write.parquet(tmp, partitionBy="pred")
    with publishing(os.path.join(out_dir, "increments")):
        pass  # nothing written: the folded increments are withdrawn
    n = _footer_row_count(os.path.join(out_dir, "triples"))
    return {"n_triples": n, "compacted": True, "folded_batches": len(incs)}
