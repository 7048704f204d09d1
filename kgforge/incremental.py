"""Incremental ingestion — merge a new crawl batch into an existing
run_pipeline output WITHOUT a full refresh.

The reference is full-refresh by design (`pcornetclear` then reload,
MSSQL/run.sql:12-79); at 10^12 documents a daily crawl increment cannot
re-run the corpus, so this module adds the merge-on-read discipline an
Iceberg deployment would use:

- New pages run the normal extract -> mentions -> link stages (batch
  scale only, never the base corpus).
- Canonicalization delta: the base corpus contributes only its stored
  MinHash SIGNATURES (a sidecar table built once, appended per batch) —
  new-vs-base candidate pairs come from an LSH-block equi-join of the
  batch's blocks against the base's, capped+counted per block exactly
  like the full run; exact-Jaccard verification reads base TEXT only
  for the few candidate urls (left-semi pruned scan of the stored
  `extracted` stage).
- Representative STABILITY: a new page near-duplicating a base page
  adopts the base component's canonical subject — base triples are
  never re-keyed. A batch component whose members collectively verify
  against MORE THAN ONE distinct base canonical (whether one url
  multi-anchors or different members each anchor to a different base
  component) bridges base components: it is counted
  (`deferred_base_merges`) and keeps the min anchor for its own rows.
  Re-keying the base is deferred to the NEXT FULL RUN — compact()
  materializes the merge-on-read view and folds stage sidecars but
  deliberately does not re-key existing subjects.
- Span rows merge with the stored per-subject span arithmetically:
  ISO-8601 UTC strings compare lexicographically, so the merged
  interval is string min/max — no parsing. Curated ('A'-basis) spans
  are never overridden by observed increments.
- Scope: batch urls are NEW pages. A re-crawl of an existing url (same
  url, newer snapshot) is an upstream concern — version the url by
  warc_ts before ingestion (url#ts), exactly as a Common-Crawl WARC
  pipeline keys snapshots; triple provenance keeps src_url + src_ts.
- Increments land under out_dir/increments/batch-NNNNN/triples;
  read_triples() presents base + increments with span supersedence
  (merge-on-read); compact() materializes that view as the new base
  (compaction) and clears increments.
"""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kgforge import canon as C
from kgforge import emit as E
from kgforge import ontology as O
from kgforge.checkpoint import CheckpointManager, _footer_row_count
from kgforge.conf import NEAR_DUP_THRESHOLD
from kgforge.extract import extract_pages
from kgforge.link import link_mentions
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
    return spark.read.parquet(*paths).select(*cols)


def _ensure_signature_sidecar(spark: SparkSession, out_dir: str) -> str:
    """signatures/(url, sig array<long>) — built once from the stored
    extracted stage, appended per batch. The ONLY base-corpus-wide work
    incremental ever does, and only on the first increment."""
    sig_path = os.path.join(out_dir, "signatures")
    if not os.path.isdir(sig_path):
        base_ext = spark.read.parquet(os.path.join(out_dir, "extracted"))
        C.minhash_signatures(base_ext, "text", "url").write.parquet(sig_path)
    return sig_path


def _capped_block_join(
    new_blocks: DataFrame, base_blocks: DataFrame, max_block: int
) -> tuple[DataFrame, DataFrame]:
    """(new url a) x (base url b) pairs sharing an LSH block, hub blocks
    capped AND counted (no-silent-caps, SURVEY.md §7.5).

    The cap is on the COMBINED block size (n_new + n_base <= max_block),
    mirroring the full-refresh candidate_pairs semantics exactly: a
    block the full run would drop at total size > max_block is dropped
    here too, so incremental and full refresh agree near the cap (the
    equivalence property test's contract)."""
    sn = new_blocks.groupBy("bk").agg(F.count(F.lit(1)).alias("n_new"))
    sb = base_blocks.groupBy("bk").agg(F.count(F.lit(1)).alias("n_base"))
    # only blocks present on BOTH sides matter; materialized once, so the
    # pairs join and the dropped-block count do not each re-aggregate the
    # base block table
    sizes = sn.join(sb, "bk").localCheckpoint(eager=True)
    keep = sizes.filter(
        (F.col("n_new") + F.col("n_base")) <= max_block
    ).select("bk")
    dropped = sizes.filter(
        (F.col("n_new") + F.col("n_base")) > max_block
    ).select(
        F.lit("incr_block_dropped").alias("metric"),
        F.col("bk").cast("string").alias("key"),
        # pairs avoided; multiply in double, then clamp to the largest
        # double below 2^63 BEFORE the long cast — under Spark 4.x's
        # ANSI-on default an overflowing cast throws CAST_OVERFLOW (with
        # ANSI off it would clamp silently), so a degenerate ~3e9-a-side
        # hub block must saturate explicitly rather than error the job
        F.least(
            F.col("n_new").cast("double") * F.col("n_base"),
            F.lit(float((1 << 63) - 1024)),
        )
        .cast("long")
        .alias("value"),
    )
    pairs = (
        new_blocks.join(F.broadcast(keep), "bk")
        .select("bk", F.col("url").alias("a"))
        .join(base_blocks.select("bk", F.col("url").alias("b")), "bk")
        .select("a", "b")
        .distinct()
    )
    return pairs, dropped


def deferred_merge_count(node_comp: DataFrame, url_anchor: DataFrame) -> int:
    """Batch components that bridge base components: a component whose
    members collectively anchor to MORE THAN ONE distinct base canonical
    is a deferred base merge. Counting distinct canonicals per component
    covers both the one-url-multi-anchor case and the A~B bridge case
    (A anchors base1, B anchors base2 — invisible to a per-url count).

    node_comp: (url, comp) — every batch url with its batch component id
    url_anchor: (url, canon_url) — distinct verified anchoring pairs
    """
    return (
        node_comp.join(url_anchor, "url")
        .groupBy("comp")
        .agg(F.countDistinct("canon_url").alias("n_dist"))
        .filter(F.col("n_dist") > 1)
        .count()
    )


def incremental_update(
    spark: SparkSession,
    out_dir: str,
    new_pages_path: str,
    dict_path: str,
    langs: tuple[str, ...] | None = ("en",),
    threshold: float = NEAR_DUP_THRESHOLD,
    auto_compact_after: int | None = 8,
) -> dict:
    # canonical mapping = base stage PLUS every prior increment's mapping,
    # so a batch can anchor to pages introduced by earlier batches (their
    # signatures are already in the sidecar); extracted text likewise, so
    # exact verification can read a prior batch's page text
    base_mapping = read_committed(
        spark, out_dir, "canon_mapping", "mapping", ["url", "canon_url"]
    )
    base_ext = read_committed(spark, out_dir, "extracted", "extracted", ["url", "text"])
    sig_path = _ensure_signature_sidecar(spark, out_dir)
    # dropDuplicates: a crash between the sidecar append and the batch
    # rename re-appends the same (url, sig) rows on retry; signatures
    # are deterministic per url so keeping any one copy is exact.
    # The left-semi against the committed mappings (base + every visible
    # increment — both carry identity rows for ALL their urls) drops
    # ORPHANED sidecar rows from a crash in the append-then-rename
    # window: without it, the crashed batch's own urls sit on the BASE
    # side of the block join on retry and the resulting self/new-new
    # pairs inflate n_new_base_edges / n_capped_blocks (the mapping was
    # always safe — orphans miss base_mapping — but metrics lied).
    base_sigs = (
        spark.read.parquet(sig_path)
        .dropDuplicates(["url"])
        .join(base_mapping.select("url"), "url", "left_semi")
    )

    # crash-safe publication: every batch artifact is a checkpointed
    # stage of a hidden temp dir; the final os.rename is the atomic
    # commit point. _increment_dirs only matches ^batch-\d{5}$, so a
    # half-written .batch-NNNNN.tmp from a crashed run is invisible to
    # read_triples and removed on retry — no partial batch can ever
    # enter the merge-on-read view. The signature append still precedes
    # the rename (a batch must never be visible without its sigs); a
    # crash between the two can leave duplicate sidecar rows, which the
    # dropDuplicates on read absorbs.
    batch = _next_batch(out_dir)
    inc_dir = os.path.join(out_dir, "increments", batch)
    tmp_dir = os.path.join(out_dir, "increments", f".{batch}.tmp")
    shutil.rmtree(tmp_dir, ignore_errors=True)
    cp = CheckpointManager(spark, tmp_dir, batch)

    dic, aliases = O.linker_inputs(spark.read.parquet(dict_path))
    ext = cp.run_stage(
        "extracted",
        lambda: extract_pages(spark.read.parquet(new_pages_path), langs),
    )
    cands = link_mentions(detect_mentions(ext, aliases), dic).cache()

    # --- canonicalization delta -----------------------------------------
    new_sigs = C.minhash_signatures(ext, "text", "url").localCheckpoint(eager=True)
    new_blocks = C.lsh_blocks(new_sigs, id_col="url")
    # Constant-size prefilter for the base side of the block join: a
    # Bloom bitmap over the BATCH's band keys (the small side) drops
    # base blocks whose key definitely has no partner, before the
    # base-side groupBy shuffle — at corpus scale the base block table
    # dwarfs the batch's, and most of its keys have no match. Exactly
    # output-preserving: _capped_block_join is inner on bk on both the
    # sizes and pairs paths, the per-bk prune keeps surviving blocks
    # whole (the probe key IS bk), and false positives merely ride
    # through to the join that was already going to discard them
    # (pytest asserts run parity with the prune disabled).
    nb_bloom = B.bloom_build(new_blocks.select("bk"), B.h64_xx(F.col("bk")))
    base_blocks = B.bloom_prune(
        C.lsh_blocks(base_sigs, id_col="url"), B.h64_xx(F.col("bk")), nb_bloom
    )
    nb_pairs, nb_dropped = _capped_block_join(
        new_blocks, base_blocks, C.MAX_LSH_BLOCK
    )
    nn_pairs, nn_metrics = C.candidate_pairs(new_blocks, id_col="url")

    # exact verification: batch text + ONLY the base urls that appear in
    # a candidate pair (left-semi pruned scan of the stored stage)
    base_cand_urls = nb_pairs.select(F.col("b").alias("url")).distinct()
    texts = ext.select("url", "text").unionByName(
        base_ext.join(base_cand_urls, "url", "left_semi")
    )
    v_nb = C.verify_pairs_jaccard(nb_pairs, texts, threshold).cache()
    v_nn = C.verify_pairs_jaccard(nn_pairs, texts, threshold)

    # distinct (new url, base canonical) anchoring pairs; per-url min
    # anchor drives the mapping below
    url_anchor = (
        v_nb.join(
            base_mapping.select(F.col("url").alias("b"), "canon_url"), "b"
        )
        .select(F.col("a").alias("url"), "canon_url")
        .distinct()
        .localCheckpoint(eager=True)  # consumed by mapping AND deferral count
    )
    anchors = url_anchor.groupBy("url").agg(F.min("canon_url").alias("anchor"))

    # components among the batch, then adopt the min anchor per component
    comps = C.connected_components(
        v_nn.select(F.col("a").alias("src"), F.col("b").alias("dst"))
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
    deferred = deferred_merge_count(node_comp, url_anchor)
    mapping_new = cp.run_stage(
        "mapping",
        lambda: node_comp.join(F.broadcast(comp_anchor), "comp").select(
            "url",
            F.coalesce("comp_anchor", "comp_min").alias("canon_url"),
        ),
    )

    # --- emission --------------------------------------------------------
    # the full run's emitters, with their observed spans replaced by the
    # stored span of each subject (if any) widened by the batch's
    # per-subject min/max — lexicographic min/max on the ISO obj halves;
    # curated ('A') stored spans are never overridden
    sparse = mapping_new.filter(F.col("url") != F.col("canon_url"))
    new_spans = E.emit_span_triples(ext, sparse).select(
        "subj",
        F.split("obj", "/").getItem(0).alias("n_start"),
        F.split("obj", "/").getItem(1).alias("n_end"),
        "src_url",
    )
    stored = read_triples(spark, out_dir).filter(F.col("pred") == "hasSpan")
    stored_spans = stored.select(
        "subj",
        F.split("obj", "/").getItem(0).alias("s_start"),
        F.split("obj", "/").getItem(1).alias("s_end"),
        F.col("qual_kind").alias("s_basis"),
        F.col("src_url").alias("s_src"),
    )
    m = new_spans.join(stored_spans, "subj", "left").filter(
        (F.col("s_basis").isNull()) | (F.col("s_basis") == "E")
    )
    start = F.least("n_start", "s_start")  # least/greatest skip NULLs
    end = F.greatest("n_end", "s_end")
    obj = F.concat_ws("/", start, end)
    ts_start, ts_end = F.to_timestamp(start, E.ISO_FMT), F.to_timestamp(end, E.ISO_FMT)
    span_rows = m.select(
        F.xxhash64(F.col("subj"), F.lit("hasSpan"), obj).alias("triple_id"),
        "subj",
        F.lit("hasSpan").alias("pred"),
        obj.alias("obj"),
        F.lit("E").alias("qual_kind"),
        F.lit("Y").alias("qual_comparator"),
        ((F.unix_micros(ts_end) - F.unix_micros(ts_start)) / 86400000000.0).alias(
            "qual_value_num"
        ),
        F.lit(None).cast("string").alias("qual_lang"),
        F.lit(None).cast("string").alias("raw_surface"),
        F.least(F.col("src_url"), F.col("s_src")).alias("src_url"),
        ts_end.alias("src_ts"),
    )
    cp.run_stage(
        "triples",
        lambda: E.all_triples(ext, cands, mapping_new)
        .filter(F.col("pred") != "hasSpan")
        .distinct()
        .unionByName(span_rows),
        partition_by=["pred"],
    )
    # counted before the commit: the sidecar append invalidates cached
    # plans over the sidecar (v_nb), and the rename moves the stage files
    # these plans read
    rows = {r.stage: r.rows_out for r in cp.results}
    out = {
        "batch": batch,
        "n_new_pages": rows["extracted"],
        "n_delta_triples": rows["triples"],
        "n_new_base_edges": v_nb.count(),
        "deferred_base_merges": deferred,
        "n_capped_blocks": nb_dropped.count() + nn_metrics.count(),
        "compacted": False,
    }
    new_sigs.write.mode("append").parquet(sig_path)
    os.rename(tmp_dir, inc_dir)
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
    t = spark.read.parquet(os.path.join(out_dir, "triples")).withColumn(
        "_batch", F.lit(0)
    )
    for i, d in enumerate(_increment_dirs(out_dir), start=1):
        inc = spark.read.parquet(
            os.path.join(out_dir, "increments", d, "triples")
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

    The increments' mapping and extracted outputs fold into the base
    `canon_mapping` / `extracted` stage dirs first, so FUTURE batches
    can still anchor to (and exact-verify against) pages that arrived
    incrementally. After compaction the out_dir serves read_triples and
    further increments; a fresh full run_pipeline belongs in a new
    --out (its stage manifests describe the original pages input, not
    the augmented corpus)."""
    incs = _increment_dirs(out_dir)
    for d in incs:
        mp = os.path.join(out_dir, "increments", d, "mapping")
        if os.path.isdir(mp):
            spark.read.parquet(mp).write.mode("append").parquet(
                os.path.join(out_dir, "canon_mapping")
            )
        ep = os.path.join(out_dir, "increments", d, "extracted")
        if os.path.isdir(ep):
            spark.read.parquet(ep).write.mode("append").parquet(
                os.path.join(out_dir, "extracted")
            )

    merged = read_triples(spark, out_dir)
    tmp = os.path.join(out_dir, "triples._compacting")
    merged.write.mode("overwrite").partitionBy("pred").parquet(tmp)
    old = os.path.join(out_dir, "triples._old")
    os.rename(os.path.join(out_dir, "triples"), old)
    os.rename(tmp, os.path.join(out_dir, "triples"))
    shutil.rmtree(old)
    shutil.rmtree(os.path.join(out_dir, "increments"), ignore_errors=True)
    n = _footer_row_count(os.path.join(out_dir, "triples"))
    return {"n_triples": n, "compacted": True, "folded_batches": len(incs)}
