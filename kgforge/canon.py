"""Stage 3 — entity canonicalization: MinHash blocking -> similarity
edges -> connected components -> canonical representative.

This generalizes the reference's one implicit graph — the ontology tree
walked by recursive CTE (MSSQL/PCORI_MEDS_SCHEMA_CHANGE.sql:34-54) — to
an entity-similarity graph at corpus scale (SURVEY.md §7.4-7.5).

Scale design:
- MinHash signatures are computed in one Arrow-batched pandas UDF with
  numpy (shingle-hash matrix x (a,b) permutation vectors, min over
  rows); no per-row Python in the plan.
- LSH banding turns all-pairs similarity into equi-join-able block keys.
  Block sizes are CAPPED: blocks bigger than `max_block` are dropped and
  *counted* in the returned metrics DataFrame — no silent caps
  (SURVEY.md §7.5). A hub block of size B contributes B^2 candidate
  pairs; capping bounds the worst shuffle.
- Connected components: driver-side union-find below a size threshold
  (the verified near-dup edge set is tiny relative to the corpus), and a
  distributed min-label-propagation loop above it, localCheckpoint per
  round to cut lineage. Propagation converges in O(component diameter)
  rounds — near-dup components are shallow (stars/cliques), so this
  beats the constant-factor overhead of large-star/small-star here; swap
  in the Kiveris et al. alternation if deep-chain graphs ever appear.
- All ids are xxhash64 of the natural key: deterministic across runs,
  partition layouts, and parallelism levels.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from kgforge.conf import LSH_BANDS, MAX_LSH_BLOCK, MINHASH_PERMS, NEAR_DUP_THRESHOLD

_MERSENNE = (1 << 61) - 1


def _perm_params(n_perms: int, seed: int = 42) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.RandomState(seed)
    a = rng.randint(1, _MERSENNE, size=n_perms, dtype=np.int64)
    b = rng.randint(0, _MERSENNE, size=n_perms, dtype=np.int64)
    return a, b


def _shingle_hashes(text: str, k: int) -> np.ndarray:
    """Stable hashes of distinct word k-shingles. crc32 (zlib, C speed)
    is deterministic across processes/platforms — unlike Python's
    builtin hash — which the cross-parallelism parity tests require."""
    from zlib import crc32

    words = text.split()
    if len(words) < k:
        shingles = {" ".join(words)} if words else set()
    else:
        shingles = {" ".join(words[i : i + k]) for i in range(len(words) - k + 1)}
    if not shingles:
        return np.zeros(1, dtype=np.uint64)
    return np.fromiter(
        (crc32(s.encode("utf-8")) for s in shingles), dtype=np.uint64, count=len(shingles)
    )


def make_minhash_udf(n_perms: int = MINHASH_PERMS, shingle_k: int = 3, seed: int = 42):
    a, b = _perm_params(n_perms, seed)
    a_u = a.astype(np.uint64)
    b_u = b.astype(np.uint64)

    @pandas_udf(T.ArrayType(T.LongType()))
    def minhash(text: pd.Series) -> pd.Series:
        out = []
        with np.errstate(over="ignore"):
            for t in text:
                if not t:
                    out.append(None)
                    continue
                hs = _shingle_hashes(t, shingle_k)  # (S,)
                # (S, P): universal-hash each shingle under P permutations
                m = (hs[:, None] * a_u[None, :] + b_u[None, :]) % np.uint64(_MERSENNE)
                sig = m.min(axis=0).astype(np.int64)
                out.append(sig.tolist())
        return pd.Series(out)

    return minhash


def minhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "url",
    n_perms: int = MINHASH_PERMS, shingle_k: int = 3,
) -> DataFrame:
    udf = make_minhash_udf(n_perms, shingle_k)
    return df.select(id_col, udf(F.col(text_col)).alias("sig"))


def lsh_blocks(
    sigs: DataFrame, n_bands: int = LSH_BANDS, id_col: str = "url", n_perms: int = MINHASH_PERMS
) -> DataFrame:
    """Explode each signature into single-long block keys `bk` =
    xxhash64(band, band rows...): the band id is hashed INTO the key, so
    the downstream aggregation groups on ONE long instead of an
    (int, long) pair — measured ~2x faster over the 12.8M-row block
    table at 400k pages (the aggregation hashes/compares one word, and
    the shuffle row shrinks). Keys from different bands cannot collide
    meaningfully: a 64-bit accidental collision would only add one
    candidate pair for exact verification to reject.
    n_perms is passed, not probed — probing would trigger a full extra
    job just to read one signature's length.

    The key feeds xxhash64 the signature LONGS directly (element_at per
    row of the band), never strings: casting 128 longs to strings and
    concatenating per row is allocation-rate bound and measured 5-9x
    slower — worse the more cores allocate at once (59.6s vs 6.4s for
    the block-build at 400k pages on local[32])."""
    rows_per_band = max(n_perms // n_bands, 1)
    bands = []
    for band in range(n_bands):
        lo = band * rows_per_band + 1  # element_at is 1-based
        args = [F.element_at("sig", lo + j) for j in range(rows_per_band)]
        bands.append(F.xxhash64(F.lit(band), *args))
    return sigs.select(id_col, F.explode(F.array(*bands)).alias("bk"))


def candidate_pairs(
    blocks: DataFrame, id_col: str = "url", max_block: int = MAX_LSH_BLOCK
) -> tuple[DataFrame, DataFrame]:
    """Pairs (a < b) of ids sharing an LSH block, hub blocks capped and
    counted. Returns (pairs, block_metrics).

    Shape: ONE fixed-width hash aggregation does almost everything.
    Near-dup LSH block-size distributions are extremely skewed toward
    2 (measured at 800k pages: 21.5M singletons, 1.7M blocks of size
    2, 1.5k blocks of 3-64, none bigger) — and for a size-2 block the
    pair IS (min, max). So the first pass aggregates min/max/count per
    block key: plain codegen'd UnsafeRow aggregation, no per-group
    object state, no ObjectHashAggregate sort-fallback cliff (the
    collect_list formulation fell back to sorting the whole 25M-row
    exploded block table once groups-per-task crossed the threshold —
    428s at local[2]). Only the RARE n>2 blocks take a second,
    tiny-input pass that collects ids and expands i<j pairs in codegen.
    Blocks bigger than max_block are dropped — and COUNTED in the
    metrics frame, no silent caps (SURVEY.md §7.5)."""
    g = (
        blocks.groupBy("bk")
        .agg(
            F.min(id_col).alias("mn"),
            F.max(id_col).alias("mx"),
            F.count(F.lit(1)).alias("n"),
        )
        # singleton blocks are ~93% of all blocks and interest nobody:
        # drop them BEFORE materializing, so the checkpoint the three
        # consumers below share holds ~1-2 rows per true near-dup pair,
        # not one row per corpus page
        .filter(F.col("n") >= 2)
        .localCheckpoint(eager=True)
    )
    pairs_2 = g.filter(F.col("n") == 2).select(
        F.col("mn").alias("a"), F.col("mx").alias("b")
    )
    big_keys = g.filter((F.col("n") > 2) & (F.col("n") <= max_block)).select("bk")
    # rare path: restrict the block table to the few multi-member keys.
    # Broadcast is forced: the key side is 8 bytes per n>2 block (1.5k
    # rows at 800k pages), which turns this join map-only — the
    # re-derived block explode never shuffles
    big = blocks.join(F.broadcast(big_keys), ["bk"])
    gb = big.groupBy("bk").agg(
        F.sort_array(F.collect_list(id_col)).alias("ids")
    )
    pairs_big = (
        gb.select(
            F.explode(
                F.flatten(
                    F.transform(
                        "ids",
                        lambda x, i: F.transform(
                            F.slice(
                                "ids",
                                i + F.lit(2),
                                F.greatest(F.size("ids") - i - 1, F.lit(0)),
                            ),
                            lambda y: F.struct(x.alias("a"), y.alias("b")),
                        ),
                    )
                )
            ).alias("p")
        )
        .select("p.a", "p.b")
    )
    pairs = pairs_2.union(pairs_big).distinct()
    metrics = g.filter(F.col("n") > max_block).select(
        F.lit("lsh_block_dropped").alias("metric"),
        F.col("bk").cast("string").alias("key"),
        F.col("n").alias("value"),
    )
    return pairs, metrics


def make_shingle_set_udf(shingle_k: int = 3):
    """Sorted distinct crc32 hashes of a page's word k-shingles — the
    SAME shingle universe the MinHash signatures are built from, so
    verification and blocking agree exactly."""

    @pandas_udf(T.ArrayType(T.LongType()))
    def shingle_set(text: pd.Series) -> pd.Series:
        out = []
        for t in text:
            if t is None:
                out.append([])
                continue
            hs = np.unique(_shingle_hashes(t, shingle_k))
            out.append(hs.astype(np.int64).tolist())
        return pd.Series(out)

    return shingle_set


def verify_pairs_jaccard(
    pairs: DataFrame, pages: DataFrame, threshold: float,
    id_col: str = "url", text_col: str = "text", shingle_k: int = 3,
) -> DataFrame:
    """Exact shingle-set Jaccard verification of candidate pairs —
    MinHash proposes, exact set arithmetic disposes.

    Shape matters at scale: the obvious explode(shingle)->groupBy->
    join-per-side plan creates |pages|x|shingles| rows, re-evaluates the
    shingling expression on every join branch, and funnels everything
    through wide shuffles — measured 7x ANTI-scaling from local[8] to
    local[32] on this box. Instead each candidate page is shingled ONCE
    into a sorted hash array (Arrow-batched UDF), then two hash joins
    attach the arrays to each pair and `array_intersect` computes the
    overlap per row: linear work, two small shuffles, no explode."""
    ids = (
        pairs.select(F.col("a").alias(id_col))
        .union(pairs.select(F.col("b").alias(id_col)))
        .distinct()
    )
    sh_udf = make_shingle_set_udf(shingle_k)
    # only pages that appear in a candidate pair need shingling — the
    # semi-join keeps UDF work proportional to candidates, not corpus
    sub = (
        pages.join(ids, id_col, "left_semi")
        .select(F.col(id_col).alias("id"), sh_udf(F.col(text_col)).alias("sh"))
    )
    a_side = sub.select(F.col("id").alias("a"), F.col("sh").alias("sh_a"))
    b_side = sub.select(F.col("id").alias("b"), F.col("sh").alias("sh_b"))
    return (
        pairs.join(a_side, "a").join(b_side, "b")
        .withColumn("n_inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("n_inter")
            / (F.size("sh_a") + F.size("sh_b") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


# Local/distributed CC cutover policy: the driver-side union-find holds
# ~LOCAL_CC_EDGE_BYTES per edge in Python (two boxed ints, the tuple,
# and the parent-dict slots — measured with sys.getsizeof on 64-bit
# CPython), and may spend at most LOCAL_CC_MEM_FRACTION of the
# configured driver heap. At 100x corpus the verified-edge set grows
# with near-dup density, so a fixed edge-count constant silently moves
# the driver-OOM line as deployments resize; deriving it from
# spark.driver.memory moves the line WITH the deployment. Bounds keep
# the policy sane when the conf is exotic (LOCAL_CC_MAX also bounds the
# limit()-probe cost paid before choosing the distributed branch).
LOCAL_CC_EDGE_BYTES = 120
LOCAL_CC_MEM_FRACTION = 0.05
LOCAL_CC_MIN = 10_000
LOCAL_CC_MAX = 5_000_000

_MEM_RE = re.compile(r"^\s*(\d+)\s*([kmgt]?)b?\s*$", re.IGNORECASE)
_MEM_MULT = {"": 1, "k": 1024, "m": 1024**2, "g": 1024**3, "t": 1024**4}


def _parse_mem_bytes(s: str | None) -> int:
    """JVM-style memory string ('512m', '64g') -> bytes; unparseable or
    absent defaults to the Spark driver default of 1g."""
    m = _MEM_RE.match(s or "")
    if not m:
        return 1024**3
    return int(m.group(1)) * _MEM_MULT[m.group(2).lower()]


def local_cc_threshold(spark: SparkSession) -> int:
    """Edge count below which connected_components collects to a driver
    union-find, derived from the session's spark.driver.memory (see the
    policy note above). 1g driver -> ~447k edges — continuous with the
    fixed 500k constant this replaces."""
    budget = _parse_mem_bytes(
        spark.conf.get("spark.driver.memory", None)
    ) * LOCAL_CC_MEM_FRACTION
    return int(min(max(budget // LOCAL_CC_EDGE_BYTES, LOCAL_CC_MIN), LOCAL_CC_MAX))


def connected_components(
    edges: DataFrame,
    max_iter: int = 20,
    force_distributed: bool = False,
    info: dict | None = None,
) -> DataFrame:
    """Connected components. Input: edges(src, dst). Output:
    (node, component) with component = min node id in the component.

    Adaptive execution: the similarity-edge set after exact verification
    is tiny relative to the corpus (only true near-duplicate pairs
    survive). Below the memory-derived local_cc_threshold a driver-side
    union-find is milliseconds, where each distributed round costs
    multiple scheduled jobs. Above the threshold, the
    min-label-propagation loop runs with
    localCheckpoint per round to cut lineage — the iteration is job
    control, not a Catalyst concern (SURVEY.md §4); converges in
    O(log n) rounds for min-propagation and the per-round convergence
    check is a cheap limit(1) probe on changed labels.

    The edge plan is materialized ONCE here (localCheckpoint) before the
    size probe: upstream the edges are the exact-Jaccard verification
    output — the expensive part of canonicalization — and without the
    checkpoint the distributed branch (the only regime where edges are
    big) would re-execute that whole plan to rebuild its worklist, and
    the local branch would execute it twice (probe + collect). After the
    checkpoint both the probe and every consumer read materialized
    blocks; the verification UDF runs exactly once (pytest-asserted via
    accumulator in tests/test_canon.py).

    The caller can pass `info` (a dict) to receive the branch decision:
    {"branch", "n_edges_probed", "threshold"} — canonicalize surfaces it
    as a metrics row so runs record which regime executed.
    """
    edges = edges.localCheckpoint(eager=True)
    threshold = local_cc_threshold(edges.sparkSession)
    if not force_distributed:
        # cheap probe on the materialized frame; no threshold-sized
        # driver fetch wasted on the distributed branch
        n = edges.limit(threshold + 1).count()
        if info is not None:
            info.update(
                branch="local" if n <= threshold else "distributed",
                n_edges_probed=n,
                threshold=threshold,
            )
        if n <= threshold:
            return _cc_local(edges)
    elif info is not None:
        info.update(branch="distributed", n_edges_probed=None, threshold=threshold)
    return _cc_distributed(edges, max_iter)


def _cc_local(edges: DataFrame, rows=None) -> DataFrame:
    spark = edges.sparkSession
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    pairs = [(r[0], r[1]) for r in (rows if rows is not None else edges.collect())]
    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    out = sorted((n, find(n)) for n in parent)
    schema = T.StructType(
        [
            T.StructField("node", edges.schema[0].dataType),
            T.StructField("comp", edges.schema[0].dataType),
        ]
    )
    # Arrow path: a pandas frame serializes in columnar batches instead
    # of row-by-row py4j pickling — the component table can be 10^4-10^5
    # rows and this sits inside the canon stage's fixed cost
    if out:
        return spark.createDataFrame(
            pd.DataFrame(out, columns=["node", "comp"]), schema
        )
    return spark.createDataFrame([], schema)


def _cc_distributed(edges: DataFrame, max_iter: int = 20) -> DataFrame:
    # e is re-joined every round — materialize once or the upstream
    # verification chain re-executes per iteration
    e = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .union(edges.select(F.col("dst").alias("u"), F.col("src").alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # labels start as self
    nodes = e.select(F.col("u").alias("node")).distinct()
    labels = nodes.select("node", F.col("node").alias("comp")).localCheckpoint(
        eager=True
    )
    # Delta iteration (r06, the frontier idea from the r5 verdict):
    # min-propagation is MONOTONE — comps only ever decrease — so a
    # neighbor whose comp did not change this round has nothing new to
    # offer next round (its value was already folded into the min).
    # Each round therefore joins the edge set only against the nodes
    # whose comp changed last round; every node keeps its current comp
    # through the union arm. Round 1 seeds `changed` with every node,
    # so it is exactly the old full round; later rounds shuffle only
    # the frontier's edges, and the volume decays with convergence
    # instead of re-exchanging the full node set per round. Results
    # are bit-identical: min over a subset union current label equals
    # min over the full neighborhood given monotonicity.
    changed = labels
    for _ in range(max_iter):
        lv = changed.select(F.col("node").alias("v"), F.col("comp").alias("cv"))
        new = (
            e.join(lv, "v")
            .select(F.col("u").alias("node"), F.col("cv").alias("cand"))
            .union(labels.select("node", F.col("comp").alias("cand")))
            .groupBy("node")
            .agg(F.min("cand").alias("comp"))
        ).localCheckpoint(eager=True)
        changed = (
            new.join(labels.withColumnRenamed("comp", "old"), "node")
            .filter(F.col("comp") < F.col("old"))
            .select("node", "comp")
            .localCheckpoint(eager=True)
        )
        labels = new
        if changed.limit(1).count() == 0:
            break
    return labels


def canonicalize(
    pages: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    threshold: float = NEAR_DUP_THRESHOLD,
    n_perms: int = MINHASH_PERMS,
    n_bands: int = LSH_BANDS,
    max_block: int = MAX_LSH_BLOCK,
    info: dict | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Full canonicalization: near-duplicate pages collapse to one
    canonical subject (min url in each component). Returns
    (mapping(url, canon_url), metrics).

    `info`, when passed, receives connected_components' branch decision
    ({branch, n_edges_probed, threshold}) the moment this returns. The
    metrics frame carries the same decision as its cc_branch and
    cc_threshold rows next to the dropped LSH blocks; it filters the
    checkpointed block-size table, so writing it (run_pipeline does, to
    _metrics_canon) costs no pass over the blocks.

    The blocking stages shuffle 8-byte xxhash64 ids ("iid") instead of
    ~50-byte url strings — 3-6x less exchange volume through the
    dominant LSH shuffle (collision odds over 10^6 urls: ~1e-7; over
    10^12: use a 128-bit id — same plumbing). Components are resolved
    on iids, then two broadcast-sized joins translate back and pick the
    MIN-URL representative per component, preserving the documented
    canonical-id semantics exactly."""
    iid = F.xxhash64(F.col(id_col)).alias("iid")
    pages = pages.cache()  # consumed twice: signatures + exact verification
    # checkpoint the SIGNATURES (|corpus| x 128 longs), not the exploded
    # block table (x n_bands bigger): everything downstream re-derives
    # from sigs with cheap column ops, and the minhash UDF never re-runs
    udf = make_minhash_udf(n_perms)
    sigs = pages.select(iid, udf(F.col(text_col)).alias("sig")).localCheckpoint(
        eager=True
    )
    blocks = lsh_blocks(sigs, n_bands, "iid", n_perms=n_perms)
    pairs, metrics = candidate_pairs(blocks, "iid", max_block)
    pairs = pairs.localCheckpoint(eager=True)
    # verified edges are materialized inside connected_components (one
    # localCheckpoint) before its size probe — the verification UDF runs
    # exactly once on either branch
    pages_iid = pages.select(iid, F.col(id_col), F.col(text_col))
    verified = verify_pairs_jaccard(pairs, pages_iid, threshold, "iid", text_col)
    cc_info: dict = {}
    comps = connected_components(
        verified.select(F.col("a").alias("src"), F.col("b").alias("dst")),
        info=cc_info,
    )
    if info is not None:
        info.update(cc_info)
    # record which CC regime ran (and at what probed edge count /
    # threshold) alongside the capped-block metrics — run evidence for
    # the memory-derived cutover policy
    if cc_info:
        spark = pages.sparkSession
        cc_rows = spark.createDataFrame(
            [
                ("cc_branch", cc_info["branch"], int(cc_info["n_edges_probed"] or 0)),
                ("cc_threshold", cc_info["branch"], int(cc_info["threshold"])),
            ],
            "metric string, key string, value long",
        )
        metrics = metrics.select("metric", F.col("key").cast("string"), F.col("value").cast("long")).unionByName(cc_rows)
    # translate component ids back to urls; representative = min url.
    # node_urls and reps are O(pages in some near-dup component) — tiny
    # relative to the corpus — so both joins broadcast
    purl = pages.select(F.col(id_col).alias("url"), iid)
    node_urls = purl.join(
        F.broadcast(comps.withColumnRenamed("node", "iid")), "iid"
    ).select("iid", "url", "comp")
    reps = node_urls.groupBy("comp").agg(F.min("url").alias("canon_url"))
    mapping = (
        purl.join(F.broadcast(node_urls.select("iid", "comp")), "iid", "left")
        .join(F.broadcast(reps), "comp", "left")
        .select("url", F.coalesce("canon_url", F.col("url")).alias("canon_url"))
    )
    return mapping, metrics


def salted_distinct_count(
    df: DataFrame, key_cols: list[str], distinct_col: str, salts: int = 16,
    extra_counts: bool = True,
) -> DataFrame:
    """EXACT distinct counts per hub key via salted two-phase
    aggregation (SURVEY.md §7.5) — the non-associative complement to
    salted_agg. The salt is a hash OF THE DISTINCT-COUNTED COLUMN, so
    each distinct value lands in exactly one (key, salt) cell: phase 1
    count-distincts within the cell, phase 2 SUMS the disjoint partial
    counts — exact, while no single reducer ever holds a hub key's full
    distinct set. This is the plan for per-subject distinct-source
    stats where one canonical subject aggregates mentions from millions
    of pages (the reference's payer/DRG dedup problem at corpus scale).
    Returns (key_cols..., n_distinct[, n_rows])."""
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(distinct_col)), F.lit(salts))
    )
    p1 = [F.countDistinct(distinct_col).alias("_p_nd")]
    p2 = [F.sum("_p_nd").cast("long").alias("n_distinct")]
    if extra_counts:
        p1.append(F.count(F.lit(1)).alias("_p_n"))
        p2.append(F.sum("_p_n").cast("long").alias("n_rows"))
    return (
        salted.groupBy(*key_cols, "_salt").agg(*p1).groupBy(*key_cols).agg(*p2)
    )


def salted_agg(df: DataFrame, key_cols: list[str], agg_exprs: dict, salts: int = 16) -> DataFrame:
    """Two-phase salted aggregation for hub keys (SURVEY.md §7.5): salt
    with a hash of the full row id space, partially aggregate per
    (key, salt), then finalize per key. Only associative aggregates
    (sum/count/min/max) are supported here; exact count-distinct — the
    non-associative case — goes through salted_distinct_count above."""
    phase1 = []
    finals = []
    for name, (col, op) in agg_exprs.items():
        if op == "count":
            phase1.append(F.count(F.lit(1)).alias(f"_p_{name}"))
            finals.append(F.sum(f"_p_{name}").alias(name))
        elif op == "sum":
            phase1.append(F.sum(col).alias(f"_p_{name}"))
            finals.append(F.sum(f"_p_{name}").alias(name))
        elif op == "min":
            phase1.append(F.min(col).alias(f"_p_{name}"))
            finals.append(F.min(f"_p_{name}").alias(name))
        elif op == "max":
            phase1.append(F.max(col).alias(f"_p_{name}"))
            finals.append(F.max(f"_p_{name}").alias(name))
        else:
            raise ValueError(f"non-associative op {op!r} cannot be salted")
    part = df.withColumn("_salt", F.pmod(F.spark_partition_id(), F.lit(salts))) \
             .groupBy(*key_cols, "_salt").agg(*phase1)
    return part.groupBy(*key_cols).agg(*finals)
