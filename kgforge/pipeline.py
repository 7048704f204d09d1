"""End-to-end pipeline wiring + the driver-checkable kg_* queries.

Two consumers:

1. `run_pipeline` — the production path: pages parquet + concept_dict
   parquet -> checkpointed stages -> partitioned triples + metrics.
   Used by the CLI, the pytest goldens (synthetic fixture), and bench.

2. `QUERIES`/`ORACLES` — the driver-checkable variant: pages derived
   deterministically from the pre-generated `documents` table
   (kgforge.sources.pages_from_documents) so every stage has an exact
   DuckDB oracle. The Spark side runs the REAL engine (Arrow-UDF
   extraction, broadcast linking, MinHash->LSH->CC canonicalization);
   the oracle recomputes the *expected* result relationally — e.g. the
   canonicalization oracle is exact-Jaccard + recursive-CTE transitive
   closure, which the MinHash path must reproduce because candidates are
   exact-verified before CC (recall loss probability ~5e-8 per pair at
   the 0.8 threshold with 128 perms / 32 bands).
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgforge import canon as C
from kgforge import emit as E
from kgforge import ontology as O
from kgforge.checkpoint import CheckpointManager, fingerprint_input
from kgforge.conf import NEAR_DUP_THRESHOLD
from kgforge.extract import extract_pages, extract_text_udf
from kgforge.mentions import detect_mentions
from kgforge.link import attach_qualifiers, link_mentions
from kgforge.metrics import metrics_file, triple_report, write_metrics
from kgforge.sources import HTML_PREFIX, HTML_SUFFIX, pages_from_documents, read_table


# ---------------------------------------------------------------------------
# Production path
# ---------------------------------------------------------------------------

def run_pipeline(
    spark: SparkSession,
    pages_path: str,
    dict_path: str,
    out_dir: str,
    langs: tuple[str, ...] | None = ("en",),
    threshold: float = NEAR_DUP_THRESHOLD,
    run_id: str = "run",
    periods_path: str | None = None,
) -> dict:
    """Full checkpointed run. Re-submission with the same inputs skips
    finished stages (resume semantics, SURVEY.md §7.6). `periods_path`
    is the optional curated-periods table (subj, period_start,
    period_end) overriding observed spans — the loyalty-cohort input
    (Oracle/PCORNetLoader_ora.sql:166-177); absent = observed-only."""
    cp = CheckpointManager(spark, out_dir, run_id)
    # Every CLI-settable input participates in stage invalidation:
    # re-running into the same --out with a different dictionary, lang
    # filter, or threshold must NOT silently reuse stale stage outputs —
    # that would break the 'identical triple set on resume' contract.
    fp_pages = fingerprint_input(pages_path)
    fp_dict = fingerprint_input(dict_path)
    fp_periods = fingerprint_input(periods_path) if periods_path else "none"
    # `layout` names the extracted columns: an out dir written before
    # `sig` was stored recomputes instead of resuming without it
    fp_extract = f"{fp_pages}|langs={','.join(langs) if langs else '*'}|layout=sig"
    fp_mentions = f"{fp_extract}|dict={fp_dict}"
    fp_canon = f"{fp_extract}|thr={threshold}"
    fp_triples = f"{fp_mentions}|thr={threshold}|periods={fp_periods}"

    # scan splits come from spark.sql.files.maxPartitionBytes (8MB in
    # kgforge.conf) — no repartition shuffle; the parquet scan itself
    # fans out to every core. The pages input is opened only when the
    # stage computes: its schema inference is a Spark job
    extracted = cp.run_stage(
        "extracted",
        lambda: extract_pages(spark.read.parquet(pages_path), langs),
        fp_extract,
    )

    # the dictionary is prepared only by a stage that computes, at most
    # once per call: a resume never touches it
    dictionary = functools.cache(
        lambda: O.linker_inputs(spark.read.parquet(dict_path))
    )
    mentions = cp.run_stage(
        "mentions",
        lambda: detect_mentions(extracted, dictionary()[1]),
        fp_mentions,
    )
    candidates = cp.run_stage(
        "candidates", lambda: link_mentions(mentions, dictionary()[0]), fp_mentions
    )

    def canon() -> DataFrame:
        # the canon metrics (capped LSH blocks, CC branch) belong to the
        # run that computes the mapping; on resume nothing is re-recorded.
        # The frame filters the checkpointed block table, so writing it
        # costs no job over the blocks.
        mapping, metrics = C.canonicalize(extracted, threshold=threshold)
        write_metrics(metrics, out_dir, run_id, name="_metrics_canon")
        return mapping

    mapping = cp.run_stage("canon_mapping", canon, fp_canon)
    triples = cp.run_stage(
        "triples",
        # distinct() already hash-shuffles the full row set; write the
        # pred-partitioned layout straight from that exchange. A second
        # repartitionByRange would add a sampling pass + one more full
        # shuffle of the triple set for nothing locally (file count is
        # bounded by tasks x |preds|, and |preds| is small); on a real
        # deployment the sink's write.distribution-mode does this
        # clustering inside the same write.
        lambda: E.all_triples(
            extracted,
            candidates,
            mapping,
            periods=spark.read.parquet(periods_path) if periods_path else None,
        ).distinct(),
        fp_triples,
        partition_by=["pred"],
    )
    emitted = cp.results[-1]
    # the report follows the triples manifest; a run cut between the two
    # writes it on its next submission (a stat, no job, on a resume)
    if not emitted.skipped or not os.path.exists(metrics_file(out_dir, run_id)):
        write_metrics(triple_report(triples), out_dir, run_id)
    return {
        "out_dir": out_dir,
        "stages": [r.__dict__ for r in cp.results],
        "n_triples": emitted.rows_out,
    }


# ---------------------------------------------------------------------------
# Driver-checkable queries (documents-derived pages)
# ---------------------------------------------------------------------------

# The inline concept dictionary for the oracle-checked path — deliberately
# dirty (FIXTURES.md §2): folder with wrong canonical id, duplicate alias
# across subtrees, leaf missing its id (must inherit), V/E codes misfiled
# outside the VCODES subtree (regex disambiguation,
# Oracle/PCORNetLoader_ora.sql:1502-1505).
DIRTY_DICT_ROWS = [
    # (concept_path, alias, canonical_id, pred, is_leaf, hlevel, parent_path)
    (r"\KG", "_kg", None, "has", False, 1, None),
    (r"\KG\TOPIC", "_topic_root", "TOPIC:ROOTX", "hasTopic", False, 2, r"\KG"),
    (r"\KG\TOPIC\JOIN", "join", "TOPIC:JOIN", "hasTopic", True, 3, r"\KG\TOPIC"),
    (r"\KG\TOPIC\HASH", "hash", "TOPIC:HASH", "hasTopic", True, 3, r"\KG\TOPIC"),
    (r"\KG\TOPIC\SCAN", "scan", "TOPIC:SCAN", "hasTopic", True, 3, r"\KG\TOPIC"),
    (r"\KG\TOPIC\MERGE", "merge", "TOPIC:MERGE", "hasTopic", True, 3, r"\KG\TOPIC"),
    (r"\KG\TOPIC\SORT", "sort", "TOPIC:SORT", "hasTopic", True, 3, r"\KG\TOPIC"),
    (r"\KG\TOPIC\FILTER", "filter", "TOPIC:FILTER", "hasTopic", True, 3, r"\KG\TOPIC"),
    (r"\KG\TOPIC\QUERY", "query", "TOPIC:QUERY", "hasTopic", True, 3, r"\KG\TOPIC"),
    (r"\KG\EVENT\QUERY2", "query", "EVENT:QUERYX", "hasEvent", True, 2, r"\KG\EVENT"),
    (r"\KG\ORG\SPARK", "spark", "ORG:SPARK", "hasOrg", True, 3, r"\KG\ORG"),
    (r"\KG\ORG\CUSTOMER", "customer", "ORG:CUSTOMER", "hasOrg", True, 3, r"\KG\ORG"),
    (r"\KG\METRIC\WINDOW", "window", "METRIC:WINDOW", "hasMetric", True, 3, r"\KG\METRIC"),
    (r"\KG\METRIC\BATCH", "batch", "METRIC:BATCH", "hasMetric", True, 3, r"\KG\METRIC"),
    (r"\KG\METRIC\STREAM", "stream", "METRIC:STREAM", "hasMetric", True, 3, r"\KG\METRIC"),
    (r"\KG\PLACE", "_place_root", "PLACE:AREA1", "hasPlace", False, 2, r"\KG"),
    (r"\KG\PLACE\LINE", "line", None, "hasPlace", True, 3, r"\KG\PLACE"),
    (r"\KG\VCODES\VECTOR", "vector", "V:VECTOR", "hasTopic", True, 3, r"\KG\VCODES"),
    (r"\KG\TOPIC\VECTOR2", "vector", "V:VECBAD", "hasTopic", True, 4, r"\KG\TOPIC"),
]

DICT_SCHEMA = (
    "concept_path string, alias string, canonical_id string, pred string, "
    "is_leaf boolean, hlevel int, parent_path string"
)


def inline_dictionary(spark: SparkSession) -> DataFrame:
    rows = [
        (p, a, c, pr, lf, hl, pp, [a])
        for (p, a, c, pr, lf, hl, pp) in DIRTY_DICT_ROWS
    ]
    return spark.createDataFrame(
        rows, DICT_SCHEMA + ", dim_codes array<string>"
    )


_DICT_CACHE: dict[str, DataFrame] = {}


def prepared_dictionary(spark: SparkSession) -> DataFrame:
    """clean -> propagate on the dirty inline dictionary (the linker's
    own window rank + regex filter handle dedup/disambiguation).
    Memoized per session — the dictionary is static metadata. Keyed by
    applicationId (unique per session), not id(spark): CPython reuses
    object ids after GC, which could hand a new session a cached
    DataFrame bound to a dead one."""
    key = spark.sparkContext.applicationId
    if key not in _DICT_CACHE:
        _DICT_CACHE[key] = O.propagate_hierarchy(
            O.clean_dictionary(inline_dictionary(spark))
        ).cache()
    return _DICT_CACHE[key]


def _linker_aliases(spark: SparkSession) -> list[str]:
    return sorted(O.collect_aliases(O.linker_dictionary(prepared_dictionary(spark))))


# Shared stage results for the kg_* family, keyed per (session, sf_dir).
# The driver runs every registered query in ONE session; without sharing,
# each kg_* query re-runs Arrow-UDF extraction (and kg_report re-executes
# all of kg_triples) — redundancy that cost the flagship its CORRECTNESS
# rows in round 1 when the driver's budget ran out. The cache holds five
# small DataFrames per sf_dir; entries die with the session's
# applicationId.
_KG_STAGE_CACHE: dict[tuple[str, str], dict[str, DataFrame]] = {}


def _kg_stages(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _KG_STAGE_CACHE:
        _KG_STAGE_CACHE[key] = {}
    return _KG_STAGE_CACHE[key]


def _extracted(spark: SparkSession, sf_dir: str) -> DataFrame:
    st = _kg_stages(spark, sf_dir)
    if "extracted" not in st:
        # hash-repartition before the Arrow extraction UDF: the local
        # documents fixture is 1-2 parquet splits, which would run the
        # extraction AND every cached downstream Python stage (mention
        # detection rides this frame) on 2 of 32 cores (r06: measured
        # 9.3s -> 2.4s for the mention stage at sf1.0). A 100-TB table
        # arrives as thousands of splits and skips this.
        pages = pages_from_documents(spark, sf_dir).repartition(
            spark.sparkContext.defaultParallelism, "url"
        )
        st["extracted"] = extract_pages(pages, langs=("en",)).cache()
    return st["extracted"]


def _mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    st = _kg_stages(spark, sf_dir)
    if "mentions" not in st:
        st["mentions"] = detect_mentions(
            _extracted(spark, sf_dir), _linker_aliases(spark)
        ).cache()
    return st["mentions"]


def _candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    st = _kg_stages(spark, sf_dir)
    if "candidates" not in st:
        st["candidates"] = link_mentions(
            _mentions(spark, sf_dir), prepared_dictionary(spark)
        ).cache()
    return st["candidates"]


def _mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    st = _kg_stages(spark, sf_dir)
    if "mapping" not in st:
        mapping, _metrics = C.canonicalize(
            _extracted(spark, sf_dir), threshold=NEAR_DUP_THRESHOLD
        )
        st["mapping"] = mapping.cache()
    return st["mapping"]


def _cooc_base(spark: SparkSession, sf_dir: str) -> dict:
    """Shared co-occurrence base for the graph family (r06): kg_graph /
    kg_assoc / kg_khop / kg_centrality all fan out of one per-page
    entity self-join, which each query used to recompute from the
    candidate stream (3-5s apiece at sf1.0). Materialize the support
    pairs + per-entity counts once per (session, sf) — the same
    stage-cache discipline as _candidates; the frames are edge-list
    sized (KB..MB), not corpus sized. The thresholded edge set rides
    along so the three edge consumers start from a tiny checkpointed
    RDD instead of re-deriving the join."""
    from kgforge.operators import graph as G

    st = _kg_stages(spark, sf_dir)
    if "cooc" not in st:
        c = _candidates(spark, sf_dir)
        pe = c.filter(F.col("kind") == "entity").select(
            "url", F.col("canonical_id").alias("entity")
        )
        pe2, eligible, pairs, cnt = G.cooccurrence_support(pe)
        pairs = pairs.localCheckpoint(eager=True)
        cnt = cnt.localCheckpoint(eager=True)
        edges = G.edges_from_support(
            pairs, cnt, COOC_MIN_JACCARD
        ).localCheckpoint(eager=True)
        st["cooc"] = {
            "eligible": eligible,
            "pairs": pairs,
            "cnt": cnt,
            "edges": edges,
        }
    return st["cooc"]


def _pos_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct positive (subj, pred, obj) set over canonical subjects —
    the shared base of kg_typed and kg_negsamples (r06): kg_negsamples
    alone reads it from three plan branches (vocab, split hashing, the
    collision join), so without materialization the candidates-mapping
    join + distinct re-ran up to four times per pass."""
    st = _kg_stages(spark, sf_dir)
    if "pos_triples" not in st:
        c = _candidates(spark, sf_dir)
        m = _mapping(spark, sf_dir)
        st["pos_triples"] = (
            c.join(m, "url")
            .select(
                F.col("canon_url").alias("subj"),
                "pred",
                F.col("canonical_id").alias("obj"),
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
    return st["pos_triples"]


def _triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    st = _kg_stages(spark, sf_dir)
    if "triples" not in st:
        t = E.all_triples(
            _extracted(spark, sf_dir),
            _candidates(spark, sf_dir),
            _mapping(spark, sf_dir),
        )
        st["triples"] = (
            t.select("subj", "pred", "obj", "src_url").distinct().cache()
        )
    return st["triples"]


def kg_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-1 evidence: Arrow-UDF extraction must reproduce the source
    text byte-identically (md5 compared against the oracle's md5 of the
    ground-truth text)."""
    return _extracted(spark, sf_dir).select(
        "url",
        "lang",
        F.md5(F.col("text")).alias("text_md5"),
        F.length("text").alias("text_len"),
    )


def kg_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = _mentions(spark, sf_dir)
    return (
        m.groupBy("url", "surface")
        .agg(F.count(F.lit(1)).alias("n_mentions"))
    )


def kg_link(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _candidates(spark, sf_dir)
    return (
        c.groupBy(
            "url",
            "surface",
            "canonical_id",
            "pred",
            F.substring_index("canonical_id", ":", 1).alias("obj_scheme"),
            F.substring_index("canonical_id", ":", -1).alias("obj_code"),
        )
        .agg(F.count(F.lit(1)).alias("n_mentions"))
    )


def kg_canon(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _mapping(spark, sf_dir)


def kg_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: the full pipeline, projected to the assertion set. All
    stages come from the per-session cache — extraction runs its Arrow
    UDF once for the whole kg_* family.

    No trailing sort: the driver/verify compare is order-insensitive
    (tools/verify_local.py canon()), and a global orderBy on a
    corpus-sized frame is a full range-partition exchange bought for
    presentation only (r4 VERDICT item 3 — same audit applied to every
    corpus-∝ driver query; small aggregate outputs keep theirs for
    readability at zero cost)."""
    return _triples(spark, sf_dir)


def pages_with_measurements(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> pages with deterministic numeric observations
    appended to the text (the synthetic documents carry none), so the
    measurement path — regex detection, comparator mapping, value-domain
    guard, hasMeasurement emission — is exercised end-to-end through the
    REAL html-extraction pipeline and still has an exact DuckDB oracle:

      doc_id % 3 == 0  ->  " metric:load=<doc_id % 97>"        (cmp E)
      doc_id % 3 == 1  ->  " metric:temp>=<doc_id % 41>.5"     (cmp GE)
      doc_id % 17 == 0 ->  " metric:spike=99999999"  (value-domain guard
                            suppresses the number: > 1e7 -> NULL,
                            Oracle/PCORNetLoader_ora.sql:1687,:1914)
    """
    d = read_table(spark, "documents", sf_dir)
    did = F.col("doc_id")
    suffix = (
        F.when(did % 3 == 0, F.concat(F.lit(" metric:load="), (did % 97).cast("string")))
        .when(
            did % 3 == 1,
            F.concat(F.lit(" metric:temp>="), (did % 41).cast("string"), F.lit(".5")),
        )
        .otherwise(F.lit(""))
    )
    spike = F.when(did % 17 == 0, F.lit(" metric:spike=99999999")).otherwise(F.lit(""))
    text2 = F.concat(F.col("text"), suffix, spike)
    return d.select(
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com/doc/"),
            did.cast("string"),
        ).alias("url"),
        (
            F.to_timestamp(F.lit("2023-01-01 00:00:00"))
            + F.make_interval(secs=(did % 31536000).cast("double"))
        ).alias("warc_ts"),
        F.encode(
            F.concat(F.lit(HTML_PREFIX), text2, F.lit(HTML_SUFFIX)), "UTF-8"
        ).alias("html"),
        text2.alias("text"),
        F.col("lang"),
    )


def _measure_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared extract->detect->link over the measurement-bearing pages."""
    st = _kg_stages(spark, sf_dir)
    if "meas_candidates" not in st:
        # same scan fan-out as _extracted (the measurement pages are the
        # same 1-2 split local fixture)
        pages = pages_with_measurements(spark, sf_dir).repartition(
            spark.sparkContext.defaultParallelism, "url"
        )
        ext = extract_pages(pages, langs=("en",))
        m = detect_mentions(ext, _linker_aliases(spark))
        st["meas_candidates"] = link_mentions(m, prepared_dictionary(spark)).cache()
    return st["meas_candidates"]


def kg_measurements(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric observations as first-class hasMeasurement triples with
    value + comparator qualifiers (pmnVITAL/pmnLAB analog,
    Oracle/PCORNetLoader_ora.sql:1644-1660, :1901-1929). Identity
    mapping keeps the oracle purely relational — canonicalization has
    its own query (kg_canon)."""
    cand = _measure_candidates(spark, sf_dir)
    ident = cand.select("url").distinct().select(
        "url", F.col("url").alias("canon_url")
    )
    t = E.emit_measurement_triples(cand, ident)
    return t.select(
        "subj", "pred", "obj", "qual_comparator", "qual_value_num", "src_url"
    )


def kg_qualifiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """attach_qualifiers evidence: each page's numeric observations
    pivoted wide and re-attached to its entity candidates in ONE join —
    the rewrite of the reference's six stacked left self-joins on a
    6-col composite key (Oracle/PCORNetLoader_ora.sql:2202-2243)."""
    q = attach_qualifiers(_measure_candidates(spark, sf_dir))
    return (
        q.groupBy(
            "url", "canonical_id", "q_max_value", "q_min_value", "q_n_numeric"
        )
        .agg(F.count(F.lit(1)).alias("n_mentions"))
    )


def kg_harvest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pmnHARVEST analog (Oracle/PCORNetLoader_ora.sql:773-823): the
    site-constants emitter — one assertion row per configuration datum
    (datamart id/name, network, refresh evidence from the corpus), with
    the NI-coded missingness discipline."""
    from kgforge.conf import DATAMART_ID, DATAMART_NAME, NETWORK_ID, NI

    # the corpus-derived constant is a LAZY scalar: a 1-row aggregate
    # cross-joined onto the constants frame (broadcast by Catalyst), so
    # building this query runs no job — the count executes only when the
    # returned DataFrame does
    d = read_table(spark, "documents", sf_dir)
    n_docs = d.filter(F.col("lang") == "en").agg(
        F.count(F.lit(1)).cast("string").alias("_n_en_docs")
    )
    rows = [
        ("kgforge", "hasDatamartId", DATAMART_ID),
        ("kgforge", "hasDatamartName", DATAMART_NAME),
        ("kgforge", "hasNetworkId", NETWORK_ID),
        ("kgforge", "hasEnDocCount", None),
        ("kgforge", "hasRefreshNote", NI),
    ]
    consts = spark.createDataFrame(rows, "subj string, pred string, obj string")
    return (
        consts.crossJoin(n_docs)
        .select(
            "subj",
            "pred",
            F.when(F.col("pred") == "hasEnDocCount", F.col("_n_en_docs"))
            .otherwise(F.col("obj"))
            .alias("obj"),
        )
        .orderBy("pred")
    )


ORACLE_KG_HARVEST = """
SELECT * FROM (
  VALUES ('kgforge', 'hasDatamartId', 'KGF'),
         ('kgforge', 'hasDatamartName', 'kgforge'),
         ('kgforge', 'hasNetworkId', 'CC'),
         ('kgforge', 'hasEnDocCount',
          (SELECT CAST(COUNT(*) AS VARCHAR) FROM documents WHERE lang = 'en')),
         ('kgforge', 'hasRefreshNote', 'NI')
) AS t(subj, pred, obj) ORDER BY pred
"""


def kg_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Enrollment-span emitter evidence (pmnENROLLMENT analog,
    Oracle/PCORNetLoader_ora.sql:1739-1744): subjects are source
    domains (a url -> domain mapping plays the patient grouping), the
    observed span is min/max(warc_ts) over each domain's pages, and a
    curated-periods table (the loyalty-cohort analog) overrides the
    span for domains ending in '1' — basis 'A' curated / 'E' observed."""
    pages = pages_from_documents(spark, sf_dir).filter(F.col("lang") == "en")
    domain = F.regexp_extract("url", r"https://([^.]+)\.", 1)
    domain_map = pages.select("url", domain.alias("canon_url"))
    periods = (
        domain_map.select(F.col("canon_url").alias("subj"))
        .distinct()
        .filter(F.col("subj").endswith("1"))
        .select(
            "subj",
            F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("period_start"),
            F.to_timestamp(F.lit("2024-06-30 00:00:00")).alias("period_end"),
        )
    )
    t = E.emit_span_triples(pages, domain_map, periods)
    return t.select(
        "subj", "pred", "obj", "qual_kind", "qual_comparator",
        "qual_value_num", "src_url",
    )


ORACLE_KG_SPANS = """
WITH men AS (
  SELECT 'https://' || source || '.example.com/doc/' || CAST(doc_id AS VARCHAR) AS url,
         source,
         TIMESTAMP '2023-01-01 00:00:00' + to_seconds(doc_id % 31536000) AS ts
  FROM documents WHERE lang = 'en'
),
spans AS (
  SELECT source AS subj, MIN(ts) AS mn, MAX(ts) AS mx, MIN(url) AS src_url
  FROM men GROUP BY source
),
periods AS (
  SELECT DISTINCT source AS subj,
         TIMESTAMP '2024-01-01 00:00:00' AS ps,
         TIMESTAMP '2024-06-30 00:00:00' AS pe
  FROM men WHERE source LIKE '%1'
)
SELECT s.subj, 'hasSpan' AS pred,
       strftime(COALESCE(p.ps, s.mn), '%Y-%m-%dT%H:%M:%SZ') || '/' ||
       strftime(COALESCE(p.pe, s.mx), '%Y-%m-%dT%H:%M:%SZ') AS obj,
       CASE WHEN p.ps IS NOT NULL THEN 'A' ELSE 'E' END AS qual_kind,
       'Y' AS qual_comparator,
       (epoch_us(COALESCE(p.pe, s.mx)) - epoch_us(COALESCE(p.ps, s.mn)))
         / 86400000000.0 AS qual_value_num,
       s.src_url
FROM spans s LEFT JOIN periods p USING (subj)
ORDER BY s.subj
"""


def kg_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """i2pReport analog over the emitted triple set — aggregates the
    CACHED triple set instead of re-executing the pipeline plan."""
    t = _triples(spark, sf_dir)
    return (
        t.groupBy("pred")
        .agg(
            F.count(F.lit(1)).alias("n_triples"),
            F.countDistinct("subj").alias("n_subjects"),
        )
        .orderBy("pred")
    )


# ---------------------------------------------------------------------------
# Oracles — shared SQL fragments composed per stage
# ---------------------------------------------------------------------------

_SQL_PAGES = """
pages AS (
  SELECT 'https://' || source || '.example.com/doc/' || CAST(doc_id AS VARCHAR) AS url,
         text, lang,
         TIMESTAMP '2023-01-01 00:00:00' + to_seconds(doc_id % 31536000) AS ts
  FROM documents
),
en_pages AS (SELECT * FROM pages WHERE lang = 'en')
"""

# per-canonical-subject observation span (the enrollment-emitter branch
# of all_triples; ISO-8601 interval obj)
_SQL_SPAN_BRANCH = """
  SELECT s.subj, 'hasSpan' AS pred,
         strftime(s.mn, '%Y-%m-%dT%H:%M:%SZ') || '/' ||
         strftime(s.mx, '%Y-%m-%dT%H:%M:%SZ') AS obj,
         s.src AS src_url
  FROM (
    SELECT c.canon_url AS subj, MIN(p.ts) AS mn, MAX(p.ts) AS mx,
           MIN(p.url) AS src
    FROM en_pages p JOIN canon c USING (url)
    GROUP BY c.canon_url
  ) s
"""

# post-clean/propagate/dedup/disambiguation winners of DIRTY_DICT_ROWS
_SQL_DICT = """
dict(surface, canonical_id, pred) AS (
  VALUES ('join','TOPIC:JOIN','hasTopic'), ('hash','TOPIC:HASH','hasTopic'),
         ('scan','TOPIC:SCAN','hasTopic'), ('merge','TOPIC:MERGE','hasTopic'),
         ('sort','TOPIC:SORT','hasTopic'), ('filter','TOPIC:FILTER','hasTopic'),
         ('query','TOPIC:QUERY','hasTopic'), ('spark','ORG:SPARK','hasOrg'),
         ('customer','ORG:CUSTOMER','hasOrg'), ('window','METRIC:WINDOW','hasMetric'),
         ('batch','METRIC:BATCH','hasMetric'), ('stream','METRIC:STREAM','hasMetric'),
         ('line','PLACE:AREA1','hasPlace'), ('vector','V:VECTOR','hasTopic')
)
"""

_SQL_MENTIONS = """
words AS (
  SELECT url, unnest(string_split(text, ' ')) AS surface FROM en_pages
),
mentions AS (
  SELECT url, surface FROM words JOIN dict USING (surface)
)
"""

_SQL_CANON = """
sh AS (
  SELECT url, unnest(list_distinct(
    CASE WHEN len(string_split(text,' ')) <= 3
         THEN [array_to_string(string_split(text,' '), ' ')]
         ELSE list_transform(range(0, len(string_split(text,' ')) - 2),
                i -> array_to_string((string_split(text,' '))[i+1:i+3], ' '))
    END)) AS shingle
  FROM en_pages
),
sizes AS (SELECT url, COUNT(*) AS n_sh FROM sh GROUP BY url),
inter AS (
  SELECT a.url AS ua, b.url AS ub, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.url < b.url
  GROUP BY a.url, b.url
),
edges AS (
  SELECT ua, ub FROM inter
  JOIN sizes sa ON sa.url = ua JOIN sizes sb ON sb.url = ub
  WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.8
),
bi AS (SELECT ua AS s, ub AS d FROM edges UNION SELECT ub, ua FROM edges),
reach AS (
  SELECT s AS src, s AS dst FROM bi
  UNION
  SELECT r.src, b.d FROM reach r JOIN bi b ON b.s = r.dst
),
comp AS (SELECT src AS url, MIN(dst) AS comp FROM reach GROUP BY src),
canon AS (
  SELECT p.url, COALESCE(c.comp, p.url) AS canon_url
  FROM en_pages p LEFT JOIN comp c USING (url)
)
"""

ORACLE_KG_EXTRACT = f"""
WITH {_SQL_PAGES}
SELECT url, lang, md5(text) AS text_md5, CAST(length(text) AS INT) AS text_len
FROM en_pages ORDER BY url
"""

ORACLE_KG_MENTIONS = f"""
WITH {_SQL_PAGES}, {_SQL_DICT}, {_SQL_MENTIONS}
SELECT url, surface, COUNT(*) AS n_mentions
FROM mentions GROUP BY url, surface ORDER BY url, surface
"""

ORACLE_KG_LINK = f"""
WITH {_SQL_PAGES}, {_SQL_DICT}, {_SQL_MENTIONS}
SELECT url, surface, canonical_id, pred,
       split_part(canonical_id, ':', 1) AS obj_scheme,
       split_part(canonical_id, ':', 2) AS obj_code,
       COUNT(*) AS n_mentions
FROM mentions JOIN dict USING (surface)
GROUP BY ALL ORDER BY url, surface
"""

ORACLE_KG_CANON = f"""
WITH RECURSIVE {_SQL_PAGES}, {_SQL_CANON}
SELECT url, canon_url FROM canon ORDER BY url
"""

# the full emitted assertion set (page/entity/sameAs/span branches) —
# shared by the kg_triples, kg_report, and kg_dictstats oracles
_SQL_TRIPLES = f"""
triples AS (
  SELECT DISTINCT * FROM (
    SELECT c.canon_url AS subj, 'hasLang' AS pred, p.lang AS obj, p.url AS src_url
    FROM en_pages p JOIN canon c USING (url)
    UNION ALL
    SELECT c.canon_url AS subj, d.pred AS pred, d.canonical_id AS obj, m.url AS src_url
    FROM mentions m JOIN dict d USING (surface) JOIN canon c ON c.url = m.url
    UNION ALL
    SELECT c.url AS subj, 'sameAs' AS pred, c.canon_url AS obj, c.url AS src_url
    FROM canon c WHERE c.url <> c.canon_url
    UNION ALL
{_SQL_SPAN_BRANCH}
  )
)
"""

ORACLE_KG_TRIPLES = f"""
WITH RECURSIVE {_SQL_PAGES}, {_SQL_DICT}, {_SQL_MENTIONS}, {_SQL_CANON}, {_SQL_TRIPLES}
SELECT * FROM triples ORDER BY subj, pred, obj, src_url
"""

# Relational recomputation of the deterministic measurement suffixes of
# pages_with_measurements (url shape matches _SQL_PAGES).
_SQL_MEAS = """
mpages AS (
  SELECT 'https://' || source || '.example.com/doc/' || CAST(doc_id AS VARCHAR) AS url,
         doc_id, text, lang
  FROM documents
),
men AS (SELECT * FROM mpages WHERE lang = 'en'),
meas AS (
  SELECT url, 'METRIC:LOAD' AS obj, 'E' AS cmp,
         CAST(doc_id % 97 AS DOUBLE) AS value_num
  FROM men WHERE doc_id % 3 = 0
  UNION ALL
  SELECT url, 'METRIC:TEMP', 'GE', CAST(doc_id % 41 AS DOUBLE) + 0.5
  FROM men WHERE doc_id % 3 = 1
  UNION ALL
  SELECT url, 'METRIC:SPIKE', 'E', CAST(NULL AS DOUBLE)
  FROM men WHERE doc_id % 17 = 0
)
"""

ORACLE_KG_MEASUREMENTS = f"""
WITH {_SQL_MEAS}
SELECT url AS subj, 'hasMeasurement' AS pred, obj,
       cmp AS qual_comparator, value_num AS qual_value_num, url AS src_url
FROM meas ORDER BY subj, obj
"""

# Entity mentions are unaffected by the appended suffix tokens (none of
# "metric:..=.." word-splits to a dictionary alias), so the mention CTE
# over the BASE text is exact for the measurement-bearing pages too.
ORACLE_KG_QUALIFIERS = f"""
WITH {_SQL_PAGES}, {_SQL_DICT}, {_SQL_MENTIONS}, {_SQL_MEAS},
nums AS (
  SELECT url, MAX(value_num) AS q_max_value, MIN(value_num) AS q_min_value,
         COUNT(*) AS q_n_numeric
  FROM meas GROUP BY url
)
SELECT m.url, d.canonical_id, n.q_max_value, n.q_min_value, n.q_n_numeric,
       COUNT(*) AS n_mentions
FROM mentions m JOIN dict d USING (surface) LEFT JOIN nums n USING (url)
GROUP BY ALL ORDER BY m.url, d.canonical_id
"""

ORACLE_KG_REPORT = f"""
WITH RECURSIVE {_SQL_PAGES}, {_SQL_DICT}, {_SQL_MENTIONS}, {_SQL_CANON}, {_SQL_TRIPLES}
SELECT pred, COUNT(*) AS n_triples, COUNT(DISTINCT subj) AS n_subjects
FROM triples GROUP BY pred ORDER BY pred
"""

# closed relation-token set for the pattern extractor — the stand-in
# for a verb lexicon; at a real corpus this is the OpenIE predicate
# vocabulary, broadcast exactly like the concept dictionary
REL_WORDS = ("order", "group", "key")


def kg_relations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OpenIE-style pattern relation extraction (the north star's
    'batched pattern/OpenIE-style mention detection' beyond bare
    entity linking): consecutive-token patterns <entity> <rel-word>
    <entity> become (subj_concept, rel, obj_concept) relation
    candidates. Entirely JVM-side: positional tokenization
    (posexplode), two broadcast joins against the SAME winner
    dictionary the linker uses (kgforge.link.winner_dictionary), and
    two composite-key (url, position) equi-joins — no Python, no
    window over the corpus. At 10^12 docs the plan shuffles only
    (url, pos, concept) triples for dictionary hits, ~1% of tokens."""
    from kgforge.link import winner_dictionary

    ext = _extracted(spark, sf_dir)
    w = ext.select(
        "url", F.posexplode(F.split("text", " ")).alias("i", "w")
    )
    win = (
        winner_dictionary(prepared_dictionary(spark))
        .filter(~F.col("surface").contains(" "))  # positional = single-token
        .select("surface", "canonical_id")
    )
    e = w.join(
        F.broadcast(win), w["w"] == win["surface"]
    ).select("url", "i", "canonical_id")
    e1 = e.select(
        "url",
        (F.col("i") + 1).alias("p1"),
        (F.col("i") + 2).alias("p2"),
        F.col("canonical_id").alias("subj_concept"),
    )
    rr = w.filter(F.col("w").isin(*REL_WORDS)).select(
        "url", F.col("i").alias("p1"), F.col("w").alias("rel")
    )
    e2 = e.select(
        "url", F.col("i").alias("p2"), F.col("canonical_id").alias("obj_concept")
    )
    return (
        e1.join(rr, ["url", "p1"])
        .join(e2, ["url", "p2"])
        .groupBy("subj_concept", "rel", "obj_concept")
        .agg(F.count(F.lit(1)).alias("n"))
    )


ORACLE_KG_RELATIONS = f"""
WITH {_SQL_PAGES}, {_SQL_DICT},
words AS (
  SELECT url, u.i, u.w
  FROM (SELECT url, string_split(text, ' ') AS ws FROM en_pages) p,
       LATERAL (SELECT unnest(p.ws) AS w, unnest(range(1, len(p.ws)+1)) AS i) u
),
e AS (SELECT url, i, canonical_id FROM words JOIN dict ON w = surface),
r AS (SELECT url, i, w FROM words WHERE w IN ('order', 'group', 'key'))
SELECT e1.canonical_id AS subj_concept, r.w AS rel,
       e2.canonical_id AS obj_concept, COUNT(*) AS n
FROM e e1
JOIN r  ON r.url = e1.url AND r.i = e1.i + 1
JOIN e e2 ON e2.url = e1.url AND e2.i = e1.i + 2
GROUP BY ALL ORDER BY subj_concept, rel, obj_concept
"""


def kg_dictstats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Descriptive-statistics validation corpus over the emitted triple
    set — the ETL_dict_queries analog
    (ADD_SCILHS_100/ETL_dict_queries-MSSQL.sql:18-390: per-table counts,
    categorical breakdowns with percentages, section-keyed rows piped to
    the Annotated Data Dictionary). One stacked stats frame: the pred
    breakdown (the Sex/enc_type pattern, :23-32,:52-65) with
    pct-of-total via a window (no driver-side total), the Totals
    section (distinct subjects/sources — the Unique PATIDs rows), and
    the Measurements null-rate row (the vitals null-rate pattern,
    :315-375: values suppressed by the >1e7 value-domain guard count as
    nulls)."""
    from pyspark.sql.window import Window

    t = _triples(spark, sf_dir)
    wall = Window.partitionBy()
    breakdown = (
        t.groupBy("pred")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.lit("Triples").alias("section"),
            F.lit("pred").alias("item"),
            F.col("pred").alias("label"),
            F.col("n"),
            F.round(F.lit(100.0) * F.col("n") / F.sum("n").over(wall), 1).alias("pct"),
        )
    )
    totals = (
        t.agg(
            F.count(F.lit(1)).alias("n_triples"),
            F.countDistinct("subj").alias("n_subjects"),
            F.countDistinct("src_url").alias("n_sources"),
        )
        .selectExpr(
            "stack(3, 'n_triples', n_triples, 'n_subjects', n_subjects, "
            "'n_sources', n_sources) AS (item, n)"
        )
        .select(
            F.lit("Totals").alias("section"),
            "item",
            F.lit("ALL").alias("label"),
            "n",
            F.lit(None).cast("double").alias("pct"),
        )
    )
    numeric = _measure_candidates(spark, sf_dir).filter(F.col("kind") == "numeric")
    nullrate = (
        numeric.agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(
                F.when(F.col("value_num").isNull(), 1).otherwise(0)
            ).alias("n_null"),
        )
        .select(
            F.lit("Measurements").alias("section"),
            F.lit("value_null_rate").alias("item"),
            F.lit("ALL").alias("label"),
            F.col("n_null").cast("long").alias("n"),
            F.round(F.lit(100.0) * F.col("n_null") / F.col("n_total"), 1).alias("pct"),
        )
    )
    return (
        breakdown.unionByName(totals)
        .unionByName(nullrate)
        .orderBy("section", "item", "label")
    )


ORACLE_KG_DICTSTATS = f"""
WITH RECURSIVE {_SQL_PAGES}, {_SQL_DICT}, {_SQL_MENTIONS}, {_SQL_CANON}, {_SQL_TRIPLES},
{_SQL_MEAS}
SELECT * FROM (
  SELECT 'Triples' AS section, 'pred' AS item, pred AS label,
         COUNT(*) AS n,
         ROUND(100.0 * COUNT(*) / SUM(COUNT(*)) OVER (), 1) AS pct
  FROM triples GROUP BY pred
  UNION ALL
  SELECT 'Totals', 'n_triples', 'ALL', COUNT(*), CAST(NULL AS DOUBLE) FROM triples
  UNION ALL
  SELECT 'Totals', 'n_subjects', 'ALL', COUNT(DISTINCT subj), NULL FROM triples
  UNION ALL
  SELECT 'Totals', 'n_sources', 'ALL', COUNT(DISTINCT src_url), NULL FROM triples
  UNION ALL
  SELECT 'Measurements', 'value_null_rate', 'ALL',
         COUNT(*) FILTER (WHERE value_num IS NULL),
         ROUND(100.0 * COUNT(*) FILTER (WHERE value_num IS NULL) / COUNT(*), 1)
  FROM meas
) ORDER BY section, item, label
"""


COOC_MIN_JACCARD = 0.68  # strength threshold for co-occurrence edges


def kg_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural analytics over the entity co-occurrence graph the
    pipeline materializes alongside its triples: two canonical entities
    are adjacent iff the Jaccard strength of their page sets is >= 0.68
    (an unthresholded graph is complete on this corpus — every entity
    pair shares a page — which would make every statistic a constant;
    the strength threshold yields a structured graph: ~30/91 candidate
    pairs survive at sf0.001, ~46 at sf0.01, ~66 at sf0.1, with varied
    degrees and clustering). Emits per-entity (node, degree, n_tri,
    clustering) — degree finds the hub entities, the exact triangle
    count and local clustering coefficient measure how clique-like each
    entity's neighborhood is (topic cohesion vs bridge entities).

    Beyond the reference (its CDM output is relational; no graph
    analytics to cite) — this is the "graph" half of the north rule's
    graph-materialize step, alongside pagerank/khop/label_propagation
    in kgforge/operators/graph.py. The oracle recomputes the identical
    statistics in SQL (three-way self-join for triangles), so every
    cell is hash-verified; the Spark side runs the degree-ordered
    oriented wedge join that stays O(sqrt(m)) per out-list at hub
    nodes."""
    from kgforge.operators import graph as G

    edges = _cooc_base(spark, sf_dir)["edges"]
    return (
        G.graph_stats(edges)
        .select(
            "node",
            F.col("degree").cast("long").alias("degree"),
            F.col("n_tri").cast("long").alias("n_tri"),
            "clustering",
        )
    )


ORACLE_KG_GRAPH = f"""
WITH {_SQL_PAGES}, {_SQL_DICT}, {_SQL_MENTIONS},
page_entities AS (SELECT DISTINCT url, canonical_id AS entity
                  FROM mentions JOIN dict USING (surface)),
eligible AS (SELECT url FROM page_entities GROUP BY url HAVING COUNT(*) <= 64),
pe AS (SELECT p.url, p.entity FROM page_entities p
       JOIN eligible e ON e.url = p.url),
cnt AS (SELECT entity, COUNT(*) AS n_pages FROM pe GROUP BY entity),
pair AS (
  SELECT pa.entity AS a, pb.entity AS b, COUNT(*) AS support
  FROM pe pa JOIN pe pb ON pa.url = pb.url AND pa.entity < pb.entity
  GROUP BY pa.entity, pb.entity
),
edges AS (
  SELECT a, b FROM pair
  JOIN cnt ca ON ca.entity = pair.a
  JOIN cnt cb ON cb.entity = pair.b
  WHERE CAST(support AS DOUBLE) / (ca.n_pages + cb.n_pages - support) >= 0.68
),
bi AS (SELECT a AS node FROM edges UNION ALL SELECT b FROM edges),
deg AS (SELECT node, COUNT(*) AS degree FROM bi GROUP BY node),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM edges e1
  JOIN edges e2 ON e2.a = e1.b
  JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
),
tri_per_node AS (
  SELECT node, COUNT(*) AS n_tri FROM (
    SELECT x AS node FROM tri
    UNION ALL SELECT y FROM tri
    UNION ALL SELECT z FROM tri
  ) GROUP BY node
)
SELECT d.node, CAST(d.degree AS BIGINT) AS degree,
       CAST(COALESCE(t.n_tri, 0) AS BIGINT) AS n_tri,
       CASE WHEN d.degree >= 2
            THEN 2.0 * COALESCE(t.n_tri, 0)
                 / (CAST(d.degree AS DOUBLE) * (d.degree - 1))
            ELSE 0.0 END AS clustering
FROM deg d LEFT JOIN tri_per_node t USING (node)
ORDER BY node
"""


def kg_assoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity association scores over the same page/entity incidence
    kg_graph thresholds: per co-occurring canonical pair — support,
    Jaccard strength, and lift (exp-of-PMI; > 1 means the pair
    co-occurs more than independence predicts). This is the scored
    edge list a KG pipeline persists so downstream consumers can pick
    their own strength threshold instead of inheriting kg_graph's
    0.68; all three scores are exact integer ratios (single IEEE
    division), hash-identical to the DuckDB oracle. Beyond the
    reference (no association mining there); see
    kgforge/operators/graph.py (assoc_scores) for the at-scale shape."""
    from kgforge.operators import graph as G

    base = _cooc_base(spark, sf_dir)
    tot = base["eligible"].agg(F.count(F.lit(1)).alias("n_total"))
    return G.assoc_from_support(base["pairs"], base["cnt"], tot)


ORACLE_KG_ASSOC = f"""
WITH {_SQL_PAGES}, {_SQL_DICT}, {_SQL_MENTIONS},
page_entities AS (SELECT DISTINCT url, canonical_id AS entity
                  FROM mentions JOIN dict USING (surface)),
eligible AS (SELECT url FROM page_entities GROUP BY url HAVING COUNT(*) <= 64),
pe AS (SELECT p.url, p.entity FROM page_entities p
       JOIN eligible e ON e.url = p.url),
tot AS (SELECT COUNT(*) AS n_total FROM eligible),
cnt AS (SELECT entity, COUNT(*) AS n_pages FROM pe GROUP BY entity),
pair AS (
  SELECT pa.entity AS a, pb.entity AS b, COUNT(*) AS support
  FROM pe pa JOIN pe pb ON pa.url = pb.url AND pa.entity < pb.entity
  GROUP BY pa.entity, pb.entity
)
SELECT p.a, p.b, CAST(p.support AS BIGINT) AS support,
       CAST(p.support AS DOUBLE) / (ca.n_pages + cb.n_pages - p.support) AS jaccard,
       (CAST(p.support AS DOUBLE) * t.n_total)
         / (CAST(ca.n_pages AS DOUBLE) * cb.n_pages) AS lift
FROM pair p
JOIN cnt ca ON ca.entity = p.a
JOIN cnt cb ON cb.entity = p.b
CROSS JOIN tot t
ORDER BY a, b
"""

KHOP_K = 3
KHOP_SEEDS = 3


def kg_khop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-hop neighborhood expansion over the entity co-occurrence graph:
    seed with the KHOP_SEEDS highest-degree entities (hub entities, tie
    broken by node id so the seed set is deterministic at every sf) and
    emit every entity reachable within KHOP_K undirected hops with its
    minimal hop distance — the subgraph-extraction primitive a KG
    consumer runs to build an entity's context neighborhood. All values
    are exact integers; the DuckDB oracle recomputes the same BFS as a
    recursive CTE, so this is the driver-recorded green row for the
    frontier-at-a-time iteration in kgforge/operators/graph.py (khop),
    which pytest covers structurally (minimality, early exit). Beyond
    the reference (no graph analytics there); the iteration idiom is
    the same localCheckpoint-per-round shape as connected components."""
    from kgforge.operators import graph as G
    from kgforge.operators.textstats import global_topk

    edges = _cooc_base(spark, sf_dir)["edges"]
    bidir = edges.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionByName(edges.select(F.col("b").alias("src"), F.col("a").alias("dst")))
    deg = bidir.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("degree")
    )
    seeds = global_topk(
        deg, [F.desc("degree"), F.asc("node")], KHOP_SEEDS
    ).select("node")
    return (
        G.khop(bidir, seeds, KHOP_K)
        .select("node", F.col("dist").cast("int").alias("dist"))
    )


ORACLE_KG_KHOP = f"""
WITH RECURSIVE {_SQL_PAGES}, {_SQL_DICT}, {_SQL_MENTIONS},
page_entities AS (SELECT DISTINCT url, canonical_id AS entity
                  FROM mentions JOIN dict USING (surface)),
eligible AS (SELECT url FROM page_entities GROUP BY url HAVING COUNT(*) <= 64),
pe AS (SELECT p.url, p.entity FROM page_entities p
       JOIN eligible e ON e.url = p.url),
cnt AS (SELECT entity, COUNT(*) AS n_pages FROM pe GROUP BY entity),
pair AS (
  SELECT pa.entity AS a, pb.entity AS b, COUNT(*) AS support
  FROM pe pa JOIN pe pb ON pa.url = pb.url AND pa.entity < pb.entity
  GROUP BY pa.entity, pb.entity
),
edges AS (
  SELECT a, b FROM pair
  JOIN cnt ca ON ca.entity = pair.a
  JOIN cnt cb ON cb.entity = pair.b
  WHERE CAST(support AS DOUBLE) / (ca.n_pages + cb.n_pages - support) >= {COOC_MIN_JACCARD}
),
bidir AS (SELECT a AS src, b AS dst FROM edges
          UNION ALL SELECT b, a FROM edges),
deg AS (SELECT src AS node, COUNT(*) AS degree FROM bidir GROUP BY src),
seeds AS (SELECT node FROM deg ORDER BY degree DESC, node LIMIT {KHOP_SEEDS}),
walk(node, dist) AS (
  SELECT node, 0 FROM seeds
  UNION
  SELECT e.dst, w.dist + 1
  FROM walk w JOIN bidir e ON e.src = w.node
  WHERE w.dist < {KHOP_K}
)
SELECT node, CAST(MIN(dist) AS INT) AS dist
FROM walk GROUP BY node ORDER BY node
"""


# ---------------------------------------------------------------------------
# kg_centrality — radius-truncated harmonic centrality over the entity graph
# ---------------------------------------------------------------------------

CENTRALITY_K = 4  # BFS radius; the truncation that keeps all-pairs tractable


def kg_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated harmonic centrality over the entity co-occurrence
    graph: for every entity, the number of entities first reached at
    each undirected hop distance d <= CENTRALITY_K and the harmonic
    score sum(n_d / d) — which entities sit closest to the rest of the
    KG. The bounded radius is what makes all-pairs centrality runnable
    at corpus scale (the k-ball, not n^2); counts are exact integers
    and the score is folded in fixed ascending-d order, so the DuckDB
    recursive-CTE oracle matches the doubles bit-for-bit (one IEEE
    division + add per distance). Beyond the reference (no graph
    analytics there; same family as kg_graph/kg_khop)."""
    from kgforge.operators import graph as G

    edges = _cooc_base(spark, sf_dir)["edges"]
    bidir = edges.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionByName(edges.select(F.col("b").alias("src"), F.col("a").alias("dst")))
    return (
        G.harmonic_centrality(bidir, CENTRALITY_K)
        .select("node", F.col("n_reach").cast("long").alias("n_reach"), "harmonic")
    )


ORACLE_KG_CENTRALITY = f"""
WITH RECURSIVE {_SQL_PAGES}, {_SQL_DICT}, {_SQL_MENTIONS},
page_entities AS (SELECT DISTINCT url, canonical_id AS entity
                  FROM mentions JOIN dict USING (surface)),
eligible AS (SELECT url FROM page_entities GROUP BY url HAVING COUNT(*) <= 64),
pe AS (SELECT p.url, p.entity FROM page_entities p
       JOIN eligible e ON e.url = p.url),
cnt AS (SELECT entity, COUNT(*) AS n_pages FROM pe GROUP BY entity),
pair AS (
  SELECT pa.entity AS a, pb.entity AS b, COUNT(*) AS support
  FROM pe pa JOIN pe pb ON pa.url = pb.url AND pa.entity < pb.entity
  GROUP BY pa.entity, pb.entity
),
edges AS (
  SELECT a, b FROM pair
  JOIN cnt ca ON ca.entity = pair.a
  JOIN cnt cb ON cb.entity = pair.b
  WHERE CAST(support AS DOUBLE) / (ca.n_pages + cb.n_pages - support) >= {COOC_MIN_JACCARD}
),
bidir AS (SELECT a AS src, b AS dst FROM edges
          UNION ALL SELECT b, a FROM edges),
walk(root, node, dist) AS (
  SELECT src, src, 0 FROM (SELECT DISTINCT src FROM bidir)
  UNION
  SELECT w.root, e.dst, w.dist + 1
  FROM walk w JOIN bidir e ON e.src = w.node
  WHERE w.dist < {CENTRALITY_K}
),
mind AS (SELECT root, node, MIN(dist) AS d FROM walk GROUP BY root, node),
bkt AS (
  SELECT root,
         COUNT(*) FILTER (WHERE d = 1) AS n1,
         COUNT(*) FILTER (WHERE d = 2) AS n2,
         COUNT(*) FILTER (WHERE d = 3) AS n3,
         COUNT(*) FILTER (WHERE d = 4) AS n4
  FROM mind WHERE d >= 1 GROUP BY root
)
SELECT root AS node,
       CAST(n1 + n2 + n3 + n4 AS BIGINT) AS n_reach,
       CAST(n1 AS DOUBLE) / 1.0 + CAST(n2 AS DOUBLE) / 2.0
         + CAST(n3 AS DOUBLE) / 3.0 + CAST(n4 AS DOUBLE) / 4.0 AS harmonic
FROM bkt ORDER BY node
"""


# ---------------------------------------------------------------------------
# kg_linkgraph — the web-graph side of the crawl corpus
# ---------------------------------------------------------------------------
# Pages carry deterministic <a href> anchors (absolute-with-tracking,
# protocol-relative, root-relative, plus a mailto: the resolver must
# drop on every 7th page); the operator family in
# kgforge/operators/graph.py pulls them out of the html BYTES with one
# regexp pass, resolves + canonicalizes them with the crawl-frontier
# battery (kgforge.operators.dedup.canonical_url_col), and aggregates
# the host-level edge list, per-host degrees, and per-target-host
# anchor-text term counts — the artifacts Common Crawl publishes as its
# host web graph. The DuckDB oracle builds the SAME html string and
# re-runs extraction/resolution/aggregation independently, so regex,
# resolution rules, and canonicalization are all hash-verified.

LINK_HOSTS = 20  # target-host pool == the corpus's real src0..src19 hosts


def pages_with_links_from(d: DataFrame) -> DataFrame:
    """docs(doc_id, source, text) -> (url, html binary) where the html
    embeds anchors: a1 absolute + utm tracking + fragment, a2
    protocol-relative, a3 root-relative (resolves to the page's own
    host), a4 mailto: on every 7th page (non-navigational; resolver
    must drop it). Targets are doc-id-derived so the host graph
    connects the corpus's real hosts with varied weights at every
    scale. Frame-level so the N-vs-4N scaling gauntlet
    (BENCH/scaling_text.py) can drive it over its synthesized corpus."""
    did = F.col("doc_id")
    topics = F.array(F.lit("spark"), F.lit("query"), F.lit("join"), F.lit("hash"))

    def topic(x):
        return F.element_at(topics, ((x % 4) + 1).cast("int"))

    t1 = did * 7 + 3
    t2 = did * 11 + 5
    a1 = F.concat(
        F.lit('<a href="https://src'), (t1 % LINK_HOSTS).cast("string"),
        F.lit(".example.com/doc/"), t1.cast("string"),
        F.lit('?utm_source=feed#top">read '), topic(t1), F.lit("</a>"),
    )
    a2 = F.concat(
        F.lit('<a href="//src'), (t2 % LINK_HOSTS).cast("string"),
        F.lit(".example.com/doc/"), t2.cast("string"),
        F.lit('">more '), topic(t2), F.lit("</a>"),
    )
    a3 = F.concat(
        F.lit('<a href="/doc/'), (did + 1).cast("string"),
        F.lit('">next page</a>'),
    )
    a4 = F.when(
        did % 7 == 0,
        F.concat(
            F.lit('<a href="mailto:admin@src'), (did % LINK_HOSTS).cast("string"),
            F.lit('.example.com">contact us</a>'),
        ),
    ).otherwise(F.lit(""))
    html = F.concat(
        F.lit(HTML_PREFIX), F.col("text"),
        F.lit("</p><ul><li>"), a1, F.lit("</li><li>"), a2,
        F.lit("</li><li>"), a3, F.lit("</li>"), a4,
        F.lit("</ul><footer>contact terms</footer></body></html>"),
    )
    return d.select(
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com/doc/"),
            did.cast("string"),
        ).alias("url"),
        F.encode(html, "UTF-8").alias("html"),
    )


def pages_with_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pages_with_links_from(read_table(spark, "documents", sf_dir))


def _lg_resolved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resolved link relation, materialized once per (session, sf)
    (r06): four of the six linkgraph sections derive from this frame,
    and each used to re-run the anchor regex extraction over the whole
    HTML corpus. Checkpoint the (host, host, anchor)-sized result once;
    no repartition — the regex map is cheap enough that shuffling the
    html bytes first costs more than the extra cores buy (measured
    1.9s vs 2.6s at sf1.0)."""
    from kgforge.operators import graph as G

    st = _kg_stages(spark, sf_dir)
    if "lg_resolved" not in st:
        st["lg_resolved"] = G.resolve_links(
            G.extract_hyperlinks(pages_with_links(spark, sf_dir))
        ).localCheckpoint(eager=True)
    return st["lg_resolved"]


def _lg_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kgforge.operators import graph as G

    return G.host_graph(_lg_resolved(spark, sf_dir))


def _lg_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kgforge.operators import graph as G

    return G.host_degrees(G.host_graph(_lg_resolved(spark, sf_dir)))


def _lg_anchors(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _lg_resolved(spark, sf_dir)
        .select("dst_host", F.explode(F.split("anchor", " ")).alias("word"))
        .groupBy("dst_host", "word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _lg_aliases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text entity linking — the Wikipedia-anchor trick: the
    words other pages use in links POINTING AT a host are treated as
    candidate aliases and scored against the SAME winner dictionary the
    in-page linker uses, yielding (dst_host, canonical_id, n_links):
    what the web calls each host. At 10^12 pages the anchor rollup is
    host x vocabulary sized and the dictionary join is the broadcast
    linker join — nothing new shuffles."""
    from kgforge.link import winner_dictionary

    win = winner_dictionary(prepared_dictionary(spark)).select(
        "surface", "canonical_id"
    )
    return (
        _lg_anchors(spark, sf_dir)
        .join(F.broadcast(win), F.col("word") == F.col("surface"))
        .groupBy("dst_host", "canonical_id")
        .agg(F.sum("n").alias("n_links"))
    )


def _lg_redirect_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic redirect relation: every doc id owns a redirect
    node r/{d} that points to r/{d-1}, except multiples of 8 which
    terminate at the real page doc/{d} — chains of 1..8 hops at every
    sf, so the collapse has real depth to resolve."""
    d = read_table(spark, "documents", sf_dir)
    did = F.col("doc_id")
    src = F.concat(
        F.lit("https://src"), (did % LINK_HOSTS).cast("string"),
        F.lit(".example.com/r/"), did.cast("string"),
    )
    dst = F.when(
        did % 8 == 0,
        F.concat(
            F.lit("https://src"), (did % LINK_HOSTS).cast("string"),
            F.lit(".example.com/doc/"), did.cast("string"),
        ),
    ).otherwise(
        F.concat(
            F.lit("https://src"), ((did - 1) % LINK_HOSTS).cast("string"),
            F.lit(".example.com/r/"), (did - 1).cast("string"),
        )
    )
    return d.select(src.alias("src"), dst.alias("dst"))


def _lg_redirects(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kgforge.operators import graph as G

    return G.collapse_redirects(_lg_redirect_map(spark, sf_dir))


HOST_DUP_REVIEW_T = 0.15  # review a host when >15% of its pages are copies


def _lg_hostprofile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level corpus profile for RefinedWeb-style domain filtering:
    per host, page count, distinct-content count, internal duplication
    fraction, mean page length, and a keep/review decision. Hosts with
    heavy internal duplication (mirror farms, templated spam) are the
    first thing a web pipeline drops at the DOMAIN level before any
    per-document work. Duplication is planted deterministically with a
    SOURCE-DEPENDENT rate — host src{s} clones its pages at rate
    (s%4)/10 over the within-host page index (doc_id div 20, since
    source = src{doc_id%20}) — so keep and review hosts both exist at
    every sf and the decision is never vacuous.

    Scale: content is md5-hashed map-side; one hash-aggregation on
    host. 10^12 docs over ~10^8 hosts is a plain partial-agg shuffle of
    (host, 16-byte hash) — hub hosts make hot groups of cheap count
    partials, the rel_salted_stats path exists if a single host ever
    dominates a partition."""
    d = (
        read_table(spark, "documents", sf_dir)
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .select("doc_id", "source", "text")
    )
    src_idx = F.substring("source", 4, 8).cast("int")
    clones = d.filter(
        F.expr("(doc_id div 20) % 10") < (src_idx % 4)
    ).select((F.col("doc_id") + 500000).alias("doc_id"), "source", "text")
    corpus = d.unionByName(clones)
    prof = corpus.groupBy(
        F.concat(F.col("source"), F.lit(".example.com")).alias("host")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.md5("text")).cast("long").alias("n_unique"),
        F.sum(F.length("text")).cast("long").alias("sum_chars"),
    )
    dup = (F.col("n_docs") - F.col("n_unique")) / F.col("n_docs")
    return prof.select(
        "host",
        "n_docs",
        "n_unique",
        dup.alias("dup_frac"),
        (F.col("sum_chars") / F.col("n_docs")).alias("mean_chars"),
        F.when(dup > HOST_DUP_REVIEW_T, F.lit("review"))
        .otherwise(F.lit("keep"))
        .alias("decision"),
    )


_LG_SPECS_SPARK = [
    ("lg_edges", _lg_edges, None, ["src_host", "dst_host"],
     [("n_links", "n"), ("n_pages", "n")]),
    ("lg_degrees", _lg_degrees, None, ["host"],
     [("out_hosts", "n"), ("in_hosts", "n"), ("n_out", "n"), ("n_in", "n")]),
    ("lg_anchors", _lg_anchors, None, ["dst_host", "word"], [("n", "n")]),
    ("lg_aliases", _lg_aliases, None, ["dst_host", "canonical_id"],
     [("n_links", "n")]),
    ("lg_redirects", _lg_redirects, None, ["src"],
     [("final_url", "s"), ("hops", "n")]),
    ("lg_hostprofile", _lg_hostprofile, None, ["host"],
     [("n_docs", "n"), ("n_unique", "n"), ("dup_frac", "n"),
      ("mean_chars", "n"), ("decision", "s")]),
]


def kg_linkgraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kgforge.operators.relational import _compound

    return _compound(spark, sf_dir, _LG_SPECS_SPARK)


def kg_fused(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass fused ingest (r4 VERDICT item 8): quality gates, entity
    mentions, and the inbound host link rollup from a SINGLE page scan.

    At 10^12 pages the crawl read dominates everything downstream, and
    the production reality is one read feeding many consumers. Running
    the three stages separately scans + Arrow-extracts the corpus three
    times; DataFrame branches don't help (each union branch re-executes
    the shared subtree — Spark has no plan-level CSE across actions or
    union arms, and caching the corpus at this scale is its own job).
    The fused shape makes sharing STRUCTURAL instead: the plan is
    linear — per page, one select computes the extracted text (Arrow
    UDF, once), the mention array (token-engine UDF, once) and the
    resolved link array (regex codegen), each page then emits one
    struct row per (section, key) contribution, and a single explode +
    groupBy(section, key) aggregates all three analytics through ONE
    exchange. No barrier, no recompute, no cache.

    Sections (key, n, w):
      gates:    key=src_host, n=pages, w=total words
      kept:     key=src_host, n=pages passing the tx_quality keep rule
      mentions: key=surface,  n=entity mentions (token engine)
      hosts:    key=dst_host, n=inbound resolved links
    Outputs are pytest-asserted hash-identical to the separate-path
    composition (extract_pages -> detect_mentions rollup;
    extract_hyperlinks -> resolve_links rollup) and BENCH/fused.py
    records the measured scan-share saving."""
    from kgforge.mentions import make_mention_udf
    from kgforge.operators import graph as G
    from kgforge.operators.dedup import canonical_url_col

    # fan the 1-2 split local fixture across cores before the fused
    # per-page work (Arrow extraction + token mentions + link regexes);
    # a 100-TB table arrives as thousands of splits and skips this
    pages = pages_with_links(spark, sf_dir).repartition(
        spark.sparkContext.defaultParallelism, "url"
    )
    mudf = make_mention_udf(_linker_aliases(spark))

    html = F.decode(F.col("html"), "UTF-8")
    links = F.arrays_zip(
        F.regexp_extract_all(html, F.lit(G._ANCHOR_RE), F.lit(1)).alias("href"),
        F.regexp_extract_all(html, F.lit(G._ANCHOR_RE), F.lit(2)).alias("anchor"),
    )
    per = pages.select(
        F.regexp_extract("url", G._HOST_RE, 1).alias("src_host"),
        extract_text_udf(F.col("html")).alias("text"),
        links.alias("lk"),
    ).select(
        "src_host",
        mudf(F.col("text")).alias("ms"),
        F.split("text", " ").alias("ws"),
        F.transform(
            "lk",
            lambda a: F.regexp_extract(
                canonical_url_col(
                    F.when(a["href"].rlike("^https?://"), a["href"])
                    .when(a["href"].startswith("//"),
                          F.concat(F.lit("https:"), a["href"]))
                    .when(a["href"].startswith("/"),
                          F.concat(F.lit("https://"), F.col("src_host"),
                                   a["href"]))
                ),
                G._HOST_RE, 1,
            ),
        ).alias("dst_hosts"),
    )
    n_words = F.size("ws")
    mean_wl = (F.length(F.array_join("ws", "")) / n_words).cast("double")
    keep = (n_words >= 10) & (mean_wl >= 2.0) & (mean_wl <= 12.0)
    contrib = F.concat(
        F.array(
            F.struct(
                F.lit("gates").alias("section"), F.col("src_host").alias("key"),
                F.lit(1).cast("long").alias("n"),
                n_words.cast("long").alias("w"),
            )
        ),
        F.when(
            keep,
            F.array(
                F.struct(
                    F.lit("kept").alias("section"), F.col("src_host").alias("key"),
                    F.lit(1).cast("long").alias("n"),
                    F.lit(0).cast("long").alias("w"),
                )
            ),
        ).otherwise(F.array().cast(
            "array<struct<section:string,key:string,n:bigint,w:bigint>>")),
        F.transform(
            F.filter("ms", lambda m: m["kind"] == F.lit("entity")),
            lambda m: F.struct(
                F.lit("mentions").alias("section"), m["surface"].alias("key"),
                F.lit(1).cast("long").alias("n"), F.lit(0).cast("long").alias("w"),
            ),
        ),
        F.transform(
            F.filter("dst_hosts", lambda h: h.isNotNull() & (h != F.lit(""))),
            lambda h: F.struct(
                F.lit("hosts").alias("section"), h.alias("key"),
                F.lit(1).cast("long").alias("n"), F.lit(0).cast("long").alias("w"),
            ),
        ),
    )
    return (
        per.select(F.explode(contrib).alias("c"))
        .groupBy(F.col("c.section").alias("section"), F.col("c.key").alias("key"))
        .agg(F.sum("c.n").alias("n"), F.sum("c.w").alias("w"))
    )


# the resolved-link relation both engines aggregate; the oracle builds
# the identical html string and re-runs regex extraction + resolution
_SQL_LG_RESOLVED = """
WITH pages_html AS (
  SELECT 'https://' || source || '.example.com/doc/' || CAST(doc_id AS VARCHAR) AS src_url,
         '<html><head><title>d</title></head><body><nav>menu home about</nav><p>'
           || text || '</p><ul><li>'
           || '<a href="https://src' || CAST((doc_id*7+3) % 20 AS VARCHAR)
              || '.example.com/doc/' || CAST(doc_id*7+3 AS VARCHAR)
              || '?utm_source=feed#top">read '
              || (['spark','query','join','hash'])[((doc_id*7+3) % 4) + 1] || '</a>'
           || '</li><li>'
           || '<a href="//src' || CAST((doc_id*11+5) % 20 AS VARCHAR)
              || '.example.com/doc/' || CAST(doc_id*11+5 AS VARCHAR)
              || '">more ' || (['spark','query','join','hash'])[((doc_id*11+5) % 4) + 1] || '</a>'
           || '</li><li>'
           || '<a href="/doc/' || CAST(doc_id+1 AS VARCHAR) || '">next page</a>'
           || '</li>'
           || CASE WHEN doc_id % 7 = 0 THEN
                '<a href="mailto:admin@src' || CAST(doc_id % 20 AS VARCHAR)
                  || '.example.com">contact us</a>'
              ELSE '' END
           || '</ul><footer>contact terms</footer></body></html>' AS html
  FROM documents
),
links_raw AS (
  SELECT src_url,
         regexp_extract(src_url, '^https?://([^/]+)', 1) AS src_host,
         UNNEST(regexp_extract_all(html, '<a href="([^"]*)">([^<]*)</a>', 1)) AS href,
         UNNEST(regexp_extract_all(html, '<a href="([^"]*)">([^<]*)</a>', 2)) AS anchor
  FROM pages_html
),
resolved0 AS (
  SELECT src_url, src_host, anchor,
         CASE WHEN regexp_matches(href, '^https?://') THEN href
              WHEN href LIKE '//%' THEN 'https:' || href
              WHEN href LIKE '/%' THEN 'https://' || src_host || href
         END AS absu
  FROM links_raw
),
canon0 AS (
  SELECT src_url, src_host, anchor,
         regexp_replace(regexp_replace(absu, '#.*$', ''),
                        '[?&]utm_[a-z]+=[^&#]*', '', 'g') AS u2
  FROM resolved0 WHERE absu IS NOT NULL
),
resolved AS (
  SELECT src_url, src_host, anchor,
         regexp_replace(
           lower(regexp_extract(u2, '^[^/]*//[^/]*', 0))
             || regexp_replace(u2, '^[^/]*//[^/]*', ''),
           '/$', '') AS dst_url
  FROM canon0
),
linkrel AS (
  SELECT src_url, src_host, anchor, dst_url,
         regexp_extract(dst_url, '^https?://([^/]+)', 1) AS dst_host
  FROM resolved
)
SELECT * FROM linkrel
"""

_SQL_LG_EDGES = f"""
SELECT src_host, dst_host,
       CAST(COUNT(*) AS BIGINT) AS n_links,
       CAST(COUNT(DISTINCT src_url) AS BIGINT) AS n_pages
FROM ({_SQL_LG_RESOLVED}) GROUP BY src_host, dst_host
"""

_SQL_LG_DEGREES = f"""
WITH he AS (
  SELECT src_host, dst_host, COUNT(*) AS n_links
  FROM ({_SQL_LG_RESOLVED}) GROUP BY src_host, dst_host
),
o AS (SELECT src_host AS host, COUNT(DISTINCT dst_host) AS out_hosts,
             SUM(n_links) AS n_out FROM he GROUP BY src_host),
i AS (SELECT dst_host AS host, COUNT(DISTINCT src_host) AS in_hosts,
             SUM(n_links) AS n_in FROM he GROUP BY dst_host)
SELECT COALESCE(o.host, i.host) AS host,
       CAST(COALESCE(out_hosts, 0) AS BIGINT) AS out_hosts,
       CAST(COALESCE(in_hosts, 0) AS BIGINT) AS in_hosts,
       CAST(COALESCE(n_out, 0) AS BIGINT) AS n_out,
       CAST(COALESCE(n_in, 0) AS BIGINT) AS n_in
FROM o FULL OUTER JOIN i ON o.host = i.host
"""

_SQL_LG_ANCHORS = f"""
SELECT dst_host, word, CAST(COUNT(*) AS BIGINT) AS n FROM (
  SELECT dst_host, UNNEST(string_split(anchor, ' ')) AS word
  FROM ({_SQL_LG_RESOLVED})
) GROUP BY dst_host, word
"""

# recursive walk to the chain terminal — the independent check on the
# pointer-doubling collapse
_SQL_LG_ALIASES = f"""
WITH {_SQL_DICT}
SELECT dst_host, canonical_id, CAST(SUM(n) AS BIGINT) AS n_links
FROM ({_SQL_LG_ANCHORS}) a JOIN dict d ON d.surface = a.word
GROUP BY dst_host, canonical_id
"""

_SQL_LG_REDIRECTS = """
WITH RECURSIVE redir AS (
  SELECT 'https://src' || CAST(doc_id % 20 AS VARCHAR)
           || '.example.com/r/' || CAST(doc_id AS VARCHAR) AS src,
         CASE WHEN doc_id % 8 = 0 THEN
           'https://src' || CAST(doc_id % 20 AS VARCHAR)
             || '.example.com/doc/' || CAST(doc_id AS VARCHAR)
         ELSE
           'https://src' || CAST((doc_id - 1) % 20 AS VARCHAR)
             || '.example.com/r/' || CAST(doc_id - 1 AS VARCHAR)
         END AS dst
  FROM documents
),
walk(src, cur, hops) AS (
  SELECT src, dst, CAST(1 AS BIGINT) FROM redir
  UNION ALL
  SELECT w.src, r.dst, w.hops + 1
  FROM walk w JOIN redir r ON r.src = w.cur
)
SELECT src, cur AS final_url, hops
FROM walk WHERE cur NOT IN (SELECT src FROM redir)
"""

# host-level duplication profile — identical clone planting + rollup
_SQL_LG_HOSTPROFILE = f"""
WITH corpus AS (
  SELECT doc_id, source, text FROM documents
  UNION ALL
  SELECT doc_id + 500000, source, text FROM documents
  WHERE (doc_id // 20) % 10 < CAST(substr(source, 4) AS INT) % 4
),
prof AS (
  SELECT source || '.example.com' AS host,
         COUNT(*) AS n_docs,
         COUNT(DISTINCT md5(text)) AS n_unique,
         SUM(length(text)) AS sum_chars
  FROM corpus GROUP BY source
)
SELECT host,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_unique AS BIGINT) AS n_unique,
       (n_docs - n_unique) / CAST(n_docs AS DOUBLE) AS dup_frac,
       sum_chars / CAST(n_docs AS DOUBLE) AS mean_chars,
       CASE WHEN (n_docs - n_unique) / CAST(n_docs AS DOUBLE) > {HOST_DUP_REVIEW_T}
            THEN 'review' ELSE 'keep' END AS decision
FROM prof
"""


# ---------------------------------------------------------------------------
# kg_hearst — Hearst-pattern taxonomy induction
# ---------------------------------------------------------------------------
# The reference's is-a structure comes from a curated ontology
# (pcornet_init.sql's C_FULLNAME parent paths); over an open web corpus
# the hierarchy must be INDUCED from text. Pages carry deterministic
# Hearst sentences ('X such as Y and Z' / 'Y and other X' /
# 'X including Y', one per page except every 11th — so the no-match
# path is exercised and the check can never pass vacuously), planted
# the pages_with_measurements way so the assertions ride through the
# REAL html-wrap -> Arrow-extraction path before the pattern pass.

TAX_HYPER = ["methods", "systems", "engines", "formats"]  # out-of-vocab
TAX_HYPO = ["join", "hash", "scan", "merge",
            "sort", "filter", "query", "stream"]  # real dictionary surfaces


def taxonomy_suffix_col(did):
    """The deterministic Hearst sentence planted per doc_id (skipped
    when doc_id % 11 == 4). Hyponym pair indexes (3d+1, 5d+2) mod 8 can
    never collide (their difference 2d+1 is odd), so every 'such as Y
    and Z' names two distinct hyponyms. Column-level so the scaling
    gauntlet can plant the same sentences on its synthesized corpus."""
    hyper = F.element_at(
        F.array(*[F.lit(w) for w in TAX_HYPER]), ((did % 4) + 1).cast("int")
    )
    hypo = F.array(*[F.lit(w) for w in TAX_HYPO])
    y1 = F.element_at(hypo, (((did * 3 + 1) % 8) + 1).cast("int"))
    y2 = F.element_at(hypo, (((did * 5 + 2) % 8) + 1).cast("int"))
    return (
        F.when(did % 11 == 4, F.lit(""))
        .when(did % 3 == 0, F.concat(
            F.lit(" "), hyper, F.lit(" such as "), y1, F.lit(" and "), y2))
        .when(did % 3 == 1, F.concat(
            F.lit(" "), y1, F.lit(" and other "), hyper))
        .otherwise(F.concat(F.lit(" "), hyper, F.lit(" including "), y1))
    )


def pages_with_taxonomy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> pages with the deterministic Hearst sentence
    appended (taxonomy_suffix_col)."""
    d = read_table(spark, "documents", sf_dir)
    did = F.col("doc_id")
    text2 = F.concat(F.col("text"), taxonomy_suffix_col(did))
    return d.select(
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com/doc/"),
            did.cast("string"),
        ).alias("url"),
        (
            F.to_timestamp(F.lit("2023-01-01 00:00:00"))
            + F.make_interval(secs=(did % 31536000).cast("double"))
        ).alias("warc_ts"),
        F.encode(
            F.concat(F.lit(HTML_PREFIX), text2, F.lit(HTML_SUFFIX)), "UTF-8"
        ).alias("html"),
        text2.alias("text"),
        F.col("lang"),
    )


def kg_hearst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Taxonomy induction end to end: html-wrapped pages -> Arrow
    extraction -> Hearst pattern pass -> (subj, isA, obj) rollup with
    evidence counts. The pattern scan is zero-exchange codegen inside
    the page scan; the only shuffle carries vocabulary-sized
    (word-pair, count) partials (kgforge/operators/graph.py)."""
    from kgforge.operators import graph as G

    ext = extract_pages(pages_with_taxonomy(spark, sf_dir), langs=("en",))
    return G.hearst_pairs(ext)


_SQL_TAX_LISTS = (
    "(['methods','systems','engines','formats'])[(doc_id % 4) + 1]",
    "(['join','hash','scan','merge','sort','filter','query','stream'])"
    "[((doc_id * 3 + 1) % 8) + 1]",
    "(['join','hash','scan','merge','sort','filter','query','stream'])"
    "[((doc_id * 5 + 2) % 8) + 1]",
)

ORACLE_KG_HEARST = f"""
WITH tax_pages AS (
  SELECT 'https://' || source || '.example.com/doc/' || CAST(doc_id AS VARCHAR) AS url,
         text || CASE
           WHEN doc_id % 11 = 4 THEN ''
           WHEN doc_id % 3 = 0 THEN ' ' || {_SQL_TAX_LISTS[0]} || ' such as '
                || {_SQL_TAX_LISTS[1]} || ' and ' || {_SQL_TAX_LISTS[2]}
           WHEN doc_id % 3 = 1 THEN ' ' || {_SQL_TAX_LISTS[1]}
                || ' and other ' || {_SQL_TAX_LISTS[0]}
           ELSE ' ' || {_SQL_TAX_LISTS[0]} || ' including ' || {_SQL_TAX_LISTS[1]}
         END AS text
  FROM documents WHERE lang = 'en'
),
hits AS (
  SELECT url,
         UNNEST(regexp_extract_all(text, '(\\w+) such as (\\w+) and (\\w+)', 2)) AS subj,
         UNNEST(regexp_extract_all(text, '(\\w+) such as (\\w+) and (\\w+)', 1)) AS obj
  FROM tax_pages
  UNION ALL
  SELECT url,
         UNNEST(regexp_extract_all(text, '(\\w+) such as (\\w+) and (\\w+)', 3)),
         UNNEST(regexp_extract_all(text, '(\\w+) such as (\\w+) and (\\w+)', 1))
  FROM tax_pages
  UNION ALL
  SELECT url,
         UNNEST(regexp_extract_all(text, '(\\w+) and other (\\w+)', 1)),
         UNNEST(regexp_extract_all(text, '(\\w+) and other (\\w+)', 2))
  FROM tax_pages
  UNION ALL
  SELECT url,
         UNNEST(regexp_extract_all(text, '(\\w+) including (\\w+)', 2)),
         UNNEST(regexp_extract_all(text, '(\\w+) including (\\w+)', 1))
  FROM tax_pages
)
SELECT subj, 'isA' AS pred, obj,
       COUNT(*) AS n_evidence, COUNT(DISTINCT url) AS n_pages
FROM hits GROUP BY subj, obj ORDER BY subj, obj
"""


# ---------------------------------------------------------------------------
# kg_diff — assertion-level changeset between two crawl snapshots
# ---------------------------------------------------------------------------


def kg_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """When the crawl refreshes, the KG must be PATCHED, not rebuilt:
    this emits the assertion-level changeset (added / removed mention
    triples) between snapshot v1 (the corpus as-is) and a deterministic
    v2 (every doc_id%10==3 gains a ' spark' mention, every %10==6 has
    'join' rewritten away) — so both directions of the diff carry rows
    at every sf. Both versions' mention sets come from the same
    word-split x broadcast-winner-dictionary join the linker uses
    (extraction byte-identity is kg_extract's own green row), and the
    diff is one full-outer join on (subj, pred, obj).

    Scale: at 10^12 pages the diff composes with dd_snapshots — only
    pages whose content hash changed re-enter mention detection, so the
    full-outer join runs over the changed slice, not the corpus."""
    from kgforge.link import winner_dictionary

    d = read_table(spark, "documents", sf_dir).filter(F.col("lang") == "en")
    did = F.col("doc_id")
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/doc/"),
        did.cast("string"),
    )
    text2 = (
        F.when(did % 10 == 3, F.concat(F.col("text"), F.lit(" spark")))
        .when(did % 10 == 6, F.regexp_replace("text", "join", "joinx"))
        .otherwise(F.col("text"))
    )
    win = F.broadcast(
        winner_dictionary(prepared_dictionary(spark))
        .filter(~F.col("surface").contains(" "))
        .select("surface", "canonical_id", "pred")
    )

    def mention_set(text_col):
        w = d.select(url.alias("subj"), F.explode(F.split(text_col, " ")).alias("w"))
        return (
            w.join(win, w["w"] == win["surface"])
            .select("subj", "pred", F.col("canonical_id").alias("obj"))
            .distinct()
        )

    t1 = mention_set(F.col("text")).withColumn("in1", F.lit(1))
    t2 = mention_set(text2).withColumn("in2", F.lit(1))
    j = t1.join(t2, ["subj", "pred", "obj"], "full_outer")
    return (
        j.filter(F.col("in1").isNull() | F.col("in2").isNull())
        .select(
            "subj", "pred", "obj",
            F.when(F.col("in1").isNull(), F.lit("added"))
            .otherwise(F.lit("removed"))
            .alias("status"),
        )
    )


ORACLE_KG_DIFF = f"""
WITH {_SQL_PAGES}, {_SQL_DICT},
v2 AS (
  SELECT url,
         CASE WHEN CAST(regexp_extract(url, '/doc/(\\d+)$', 1) AS BIGINT) % 10 = 3
                THEN text || ' spark'
              WHEN CAST(regexp_extract(url, '/doc/(\\d+)$', 1) AS BIGINT) % 10 = 6
                THEN replace(text, 'join', 'joinx')
              ELSE text END AS text
  FROM en_pages
),
t1 AS (
  SELECT DISTINCT url AS subj, d.pred, d.canonical_id AS obj
  FROM (SELECT url, UNNEST(string_split(text, ' ')) AS surface FROM en_pages) w
  JOIN dict d USING (surface)
),
t2 AS (
  SELECT DISTINCT url AS subj, d.pred, d.canonical_id AS obj
  FROM (SELECT url, UNNEST(string_split(text, ' ')) AS surface FROM v2) w
  JOIN dict d USING (surface)
)
SELECT COALESCE(t1.subj, t2.subj) AS subj,
       COALESCE(t1.pred, t2.pred) AS pred,
       COALESCE(t1.obj, t2.obj) AS obj,
       CASE WHEN t1.subj IS NULL THEN 'added' ELSE 'removed' END AS status
FROM t1 FULL OUTER JOIN t2
  ON t1.subj = t2.subj AND t1.pred = t2.pred AND t1.obj = t2.obj
WHERE t1.subj IS NULL OR t2.subj IS NULL
ORDER BY 1, 2, 3
"""


# ---------------------------------------------------------------------------
# kg_dictdiff — ontology-refresh impact analysis
# ---------------------------------------------------------------------------


def kg_dictdiff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's operating cycle is re-running the load when the
    ontology refreshes (new aliases, retired aliases, remapped
    concepts); before re-linking 10^12 pages, the operator every team
    runs first is the IMPACT diff: which aliases changed, and how many
    pages each change touches. v2 is a deterministic mutation of the
    winner dictionary — alias 'table' added (TOPIC:TABLE), alias
    'batch' retired, alias 'line' remapped PLACE:AREA1 -> PLACE:AREA2 —
    all three surfaces occur in the corpus, so every change class
    carries a non-zero page count at every sf.

    Shape: the dictionary diff is metadata x metadata (a full-outer
    join of two broadcast-sized winner sets); the page counts are one
    word-split aggregation of the corpus restricted by a SEMI join to
    the changed surfaces — at 10^12 pages the corpus contributes one
    filtered scan, and only (surface, url) pairs for changed aliases
    ever shuffle."""
    from kgforge.link import winner_dictionary

    v1 = winner_dictionary(prepared_dictionary(spark)).select(
        "surface", F.col("canonical_id").alias("old_id")
    )
    v2 = (
        v1.filter(F.col("surface") != "batch")  # retired alias
        .withColumn(
            "new_id",
            F.when(F.col("surface") == "line", F.lit("PLACE:AREA2"))
            .otherwise(F.col("old_id")),
        )
        .select("surface", "new_id")
        .unionByName(
            spark.createDataFrame(
                [("table", "TOPIC:TABLE")], "surface string, new_id string"
            )
        )
    )
    diff = (
        v1.join(v2, "surface", "full_outer")
        .withColumn(
            "change",
            F.when(F.col("old_id").isNull(), F.lit("added"))
            .when(F.col("new_id").isNull(), F.lit("removed"))
            .when(F.col("old_id") != F.col("new_id"), F.lit("remapped")),
        )
        .filter(F.col("change").isNotNull())
    )
    pages = pages_from_documents(spark, sf_dir).filter(F.col("lang") == "en")
    words = pages.select(
        "url", F.explode(F.split("text", " ")).alias("surface")
    )
    counts = (
        words.join(F.broadcast(diff.select("surface")), "surface", "left_semi")
        .groupBy("surface")
        .agg(F.countDistinct("url").alias("n_pages"))
    )
    return (
        diff.join(counts, "surface", "left")
        .select(
            "surface", "old_id", "new_id", "change",
            F.coalesce("n_pages", F.lit(0)).alias("n_pages"),
        )
    )


ORACLE_KG_DICTDIFF = f"""
WITH {_SQL_PAGES}, {_SQL_DICT},
v1 AS (SELECT surface, canonical_id AS old_id FROM dict),
v2 AS (
  SELECT surface,
         CASE WHEN surface = 'line' THEN 'PLACE:AREA2'
              ELSE canonical_id END AS new_id
  FROM dict WHERE surface <> 'batch'
  UNION ALL SELECT 'table', 'TOPIC:TABLE'
),
diff AS (
  SELECT COALESCE(v1.surface, v2.surface) AS surface, old_id, new_id,
         CASE WHEN old_id IS NULL THEN 'added'
              WHEN new_id IS NULL THEN 'removed'
              WHEN old_id <> new_id THEN 'remapped' END AS change
  FROM v1 FULL OUTER JOIN v2 ON v1.surface = v2.surface
),
counts AS (
  SELECT surface, COUNT(DISTINCT url) AS n_pages
  FROM (SELECT url, UNNEST(string_split(text, ' ')) AS surface FROM en_pages)
  WHERE surface IN (SELECT surface FROM diff WHERE change IS NOT NULL)
  GROUP BY surface
)
SELECT d.surface, d.old_id, d.new_id, d.change,
       COALESCE(c.n_pages, 0) AS n_pages
FROM diff d LEFT JOIN counts c USING (surface)
WHERE d.change IS NOT NULL
ORDER BY d.surface
"""


def kg_conf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Knowledge-Vault-style triple support features: per emitted
    (subj, pred, obj) assertion, the total mention evidence, the number
    of distinct supporting pages, the number of distinct supporting
    hosts, and a log-free confidence ratio
    conf = (pages*hosts) / ((pages+1)*(hosts+1)) — the smoothed
    multi-source agreement signal a fusion layer ranks assertions by
    before publishing (the web-scale analog of the reference keeping
    provenance columns like RAW_* next to every mapped CDM value so
    downstream QA can weigh an assertion by its source evidence,
    Oracle/PCORNetLoader_ora.sql:1334 ff.).

    Shape @10^12 docs: mention-granular candidates collapse FIRST to
    (triple, page) — one corpus-scale shuffle keyed by the full
    (subj, pred, obj, src_url, host) tuple with map-side partial
    counts; the second aggregation runs over the already-collapsed
    per-page frame, so the only COUNT(DISTINCT) left (hosts) never
    sees mention multiplicity. Exactly-IEEE across engines: the
    confidence is one double division of exact integer products."""
    c = _candidates(spark, sf_dir)
    m = _mapping(spark, sf_dir)
    cand = c.join(m, "url").select(
        F.col("canon_url").alias("subj"),
        "pred",
        F.col("canonical_id").alias("obj"),
        F.col("url").alias("src_url"),
        F.substring_index(
            F.substring_index("url", "/", 3), "/", -1
        ).alias("host"),
    )
    per_page = cand.groupBy("subj", "pred", "obj", "src_url", "host").agg(
        F.count(F.lit(1)).alias("n_mentions_page")
    )
    return (
        per_page.groupBy("subj", "pred", "obj")
        .agg(
            F.sum("n_mentions_page").cast("long").alias("n_mentions"),
            F.count(F.lit(1)).cast("long").alias("n_pages"),
            F.countDistinct("host").cast("long").alias("n_hosts"),
        )
        .withColumn(
            "conf",
            # factors to double BEFORE multiplying: identical IEEE result
            # wherever the long product is in range, no wraparound when
            # n_pages * n_hosts passes 2^63 at corpus scale (oracle mirrors)
            (F.col("n_pages").cast("double") * F.col("n_hosts"))
            / (
                (F.col("n_pages") + F.lit(1)).cast("double")
                * (F.col("n_hosts") + F.lit(1))
            ),
        )
    )


ORACLE_KG_CONF = f"""
WITH RECURSIVE {_SQL_PAGES}, {_SQL_DICT}, {_SQL_MENTIONS}, {_SQL_CANON},
cand AS (
  SELECT c.canon_url AS subj, d.pred, d.canonical_id AS obj,
         m.url AS src_url, split_part(m.url, '/', 3) AS host
  FROM mentions m JOIN dict d USING (surface) JOIN canon c ON c.url = m.url
),
per_page AS (
  SELECT subj, pred, obj, src_url, host, COUNT(*)::BIGINT AS n_mentions_page
  FROM cand GROUP BY ALL
)
SELECT subj, pred, obj,
       SUM(n_mentions_page)::BIGINT AS n_mentions,
       COUNT(*)::BIGINT AS n_pages,
       COUNT(DISTINCT host)::BIGINT AS n_hosts,
       (CAST(COUNT(*) AS DOUBLE) * COUNT(DISTINCT host))
         / (CAST(COUNT(*) + 1 AS DOUBLE) * (COUNT(DISTINCT host) + 1)) AS conf
FROM per_page GROUP BY subj, pred, obj ORDER BY subj, pred, obj
"""


def kg_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHACL-lite range validation of the emitted assertions: the
    reference's per-value guards (valtype discriminator, value-domain
    suppression — Oracle/PCORNetLoader_ora.sql:1687, :1914) generalized
    to ontology-wide range rules. The expected object scheme per
    predicate is induced from the dictionary itself (the modal scheme
    by distinct canonical ids, ties to the lexicographically first), so
    the rule table needs no hand curation; every (pred, obj_scheme)
    assertion group is then graded ok/violation against it. The
    V-misfiled 'vector' alias (V:VECTOR under hasTopic, the regex
    disambiguation fixture) guarantees a non-vacuous violation row at
    every sf — the anti-join lesson from round 3 applied forward.

    Shape @10^12 docs: the rules are dictionary-derived metadata (a
    broadcast of one row per predicate); the corpus-scale work is one
    aggregation of the distinct assertion set keyed by
    (pred, obj_scheme) — a dozens-row result."""
    from pyspark.sql import Window

    from kgforge.link import winner_dictionary

    dict_w = winner_dictionary(prepared_dictionary(spark)).select(
        "pred",
        F.substring_index("canonical_id", ":", 1).alias("scheme"),
        "canonical_id",
    )
    counts = dict_w.groupBy("pred", "scheme").agg(
        F.countDistinct("canonical_id").alias("n_ids")
    )
    w = Window.partitionBy("pred").orderBy(
        F.desc("n_ids"), F.asc("scheme")
    )
    rules = (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("pred", F.col("scheme").alias("expected_scheme"))
    )
    pos = _pos_triples(spark, sf_dir)
    agg = pos.groupBy(
        "pred", F.substring_index("obj", ":", 1).alias("obj_scheme")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_triples"),
        F.countDistinct("subj").cast("long").alias("n_subjects"),
    )
    return (
        agg.join(F.broadcast(rules), "pred")
        .select(
            "pred", "obj_scheme", "expected_scheme",
            F.when(
                F.col("obj_scheme") == F.col("expected_scheme"), F.lit("ok")
            )
            .otherwise(F.lit("violation"))
            .alias("status"),
            "n_triples", "n_subjects",
        )
        .orderBy("pred", "obj_scheme")
    )


ORACLE_KG_TYPED = f"""
WITH RECURSIVE {_SQL_PAGES}, {_SQL_DICT}, {_SQL_MENTIONS}, {_SQL_CANON},
rules AS (
  SELECT pred, scheme AS expected_scheme FROM (
    SELECT pred, split_part(canonical_id, ':', 1) AS scheme,
           ROW_NUMBER() OVER (
             PARTITION BY pred
             ORDER BY COUNT(DISTINCT canonical_id) DESC,
                      split_part(canonical_id, ':', 1)
           ) AS rk
    FROM dict GROUP BY pred, split_part(canonical_id, ':', 1)
  ) WHERE rk = 1
),
pos AS (
  SELECT DISTINCT c.canon_url AS subj, d.pred, d.canonical_id AS obj
  FROM mentions m JOIN dict d USING (surface) JOIN canon c ON c.url = m.url
),
agg AS (
  SELECT pred, split_part(obj, ':', 1) AS obj_scheme,
         COUNT(*)::BIGINT AS n_triples,
         COUNT(DISTINCT subj)::BIGINT AS n_subjects
  FROM pos GROUP BY pred, split_part(obj, ':', 1)
)
SELECT a.pred, a.obj_scheme, r.expected_scheme,
       CASE WHEN a.obj_scheme = r.expected_scheme
            THEN 'ok' ELSE 'violation' END AS status,
       a.n_triples, a.n_subjects
FROM agg a JOIN rules r USING (pred)
ORDER BY a.pred, a.obj_scheme
"""


# negatives per positive triple (the PyTorch-BigGraph default protocol
# samples many more; 2 keeps the melted frame proportionate)
NEG_K = 2

# fold the first 12 hex digits of md5 into a 48-bit BIGINT — the same
# engine-portable integer-hash idiom as dd_simhash_verify (md5 is the
# one 64-bit-capable hash both engines share)
def _md5_fold12(col_expr: str):
    return F.expr(
        f"aggregate(sequence(1,12), CAST(0 AS BIGINT), (acc, p) -> "
        f"acc * 16 + CAST(instr('0123456789abcdef', "
        f"substr(md5({col_expr}), p, 1)) - 1 AS BIGINT))"
    )


def kg_negsamples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KG-embedding training prep (the PyTorch-BigGraph input recipe):
    hash-split the positive triple set into train/valid/test and attach
    NEG_K hash-corrupted tail negatives per positive, each checked
    against the true-triple set (a FILTERED negative sampler — a
    corruption that lands on a real triple is flagged so the loss never
    pushes a true edge apart). Zero RNG: the split bucket and the
    corruption index are both md5-derived, so the emitted training
    table is bit-identical across runs, partitionings, and engines —
    the property that makes an embedding-training corpus auditable.

    Shape @10^12 triples: the entity vocabulary is ontology-sized
    (broadcast class — it is the distinct object set of the concept
    dictionary, not the corpus); its row_number index is a one-off
    metadata sort. The corruption lookup is a broadcast equi-join on
    the hashed index, and the collision check is one equi-join back
    against the positives — the only corpus-scale exchanges are the
    positive-set distinct and that join's key shuffle. No window ever
    runs over the corpus."""
    from pyspark.sql import Window

    pos = _pos_triples(spark, sf_dir)
    ents = pos.select("obj").distinct()
    # single-partition window is safe: the vocab is dictionary-sized
    vocab = ents.select(
        F.col("obj").alias("ent"),
        (F.row_number().over(Window.orderBy("obj")) - 1).cast("long").alias(
            "idx"
        ),
    )
    n_ent = vocab.agg(F.count(F.lit(1)).cast("long").alias("n_ent"))
    hb = _md5_fold12("concat(subj, '|', pred, '|', obj)") % 10
    keyed = pos.withColumn(
        "split",
        F.when(hb == 0, F.lit("test"))
        .when(hb == 1, F.lit("valid"))
        .otherwise(F.lit("train")),
    )
    expl = keyed.select(
        "subj", "pred", "obj", "split",
        F.explode(F.sequence(F.lit(0), F.lit(NEG_K - 1))).alias("j"),
    )
    hneg = _md5_fold12(
        "concat('neg', CAST(j AS STRING), '|', subj, '|', pred, '|', obj)"
    )
    neg = expl.crossJoin(F.broadcast(n_ent)).withColumn(
        "idx", (hneg % F.col("n_ent")).cast("long")
    )
    out = (
        neg.join(F.broadcast(vocab), "idx")
        .join(
            pos.select(
                F.col("subj").alias("p_subj"),
                F.col("pred").alias("p_pred"),
                F.col("obj").alias("p_obj"),
            ),
            (F.col("subj") == F.col("p_subj"))
            & (F.col("pred") == F.col("p_pred"))
            & (F.col("ent") == F.col("p_obj")),
            "left",
        )
        .select(
            "subj", "pred", "obj",
            F.col("j").cast("long").alias("j"), "split",
            F.col("ent").alias("obj_neg"),
            F.when(F.col("p_subj").isNotNull(), F.lit("y"))
            .otherwise(F.lit("n"))
            .alias("collides"),
        )
    )
    return out


_SQL_MD5_FOLD12 = (
    "list_sum(list_transform(range(1,13), p -> "
    "(strpos('0123456789abcdef', substr(md5({expr}), p, 1)) - 1)::BIGINT "
    "<< (4*(12-p))))::BIGINT"
)

ORACLE_KG_NEGSAMPLES = f"""
WITH RECURSIVE {_SQL_PAGES}, {_SQL_DICT}, {_SQL_MENTIONS}, {_SQL_CANON},
pos AS (
  SELECT DISTINCT c.canon_url AS subj, d.pred, d.canonical_id AS obj
  FROM mentions m JOIN dict d USING (surface) JOIN canon c ON c.url = m.url
),
vocab AS (
  SELECT obj AS ent, ROW_NUMBER() OVER (ORDER BY obj) - 1 AS idx
  FROM (SELECT DISTINCT obj FROM pos)
),
nrow AS (SELECT COUNT(*)::BIGINT AS n_ent FROM vocab),
splits AS (
  SELECT subj, pred, obj,
         CASE WHEN hb = 0 THEN 'test' WHEN hb = 1 THEN 'valid'
              ELSE 'train' END AS split
  FROM (
    SELECT subj, pred, obj,
           {_SQL_MD5_FOLD12.format(expr="subj || '|' || pred || '|' || obj")}
             % 10 AS hb
    FROM pos
  )
),
neg AS (
  SELECT e.subj, e.pred, e.obj, e.split, e.j,
         {_SQL_MD5_FOLD12.format(
             expr="'neg' || CAST(e.j AS VARCHAR) || '|' || e.subj"
                  " || '|' || e.pred || '|' || e.obj"
         )} % (SELECT n_ent FROM nrow) AS idx
  FROM (SELECT s.*, j FROM splits s CROSS JOIN range(0,{NEG_K}) t(j)) e
)
SELECT n.subj, n.pred, n.obj, n.j, n.split, v.ent AS obj_neg,
       CASE WHEN p2.subj IS NOT NULL THEN 'y' ELSE 'n' END AS collides
FROM neg n JOIN vocab v USING (idx)
LEFT JOIN pos p2
  ON p2.subj = n.subj AND p2.pred = n.pred AND p2.obj = v.ent
ORDER BY n.subj, n.pred, n.obj, n.j
"""


# ---------------------------------------------------------------------------
# kg_meta — melted compound of the three small metadata emitters
# ---------------------------------------------------------------------------
# kg_harvest (site constants), kg_dictstats (ADD-style stats corpus) and
# kg_report (per-pred reconciliation) are tiny frames; bundling them the
# same way as the rel_* compounds frees driver-registry slots for
# kg_linkgraph/kg_centrality while every original cell stays value-hash-
# compared (the standalone queries remain registered in QUERIES for
# bench and tools/verify_local.py --all-rel-style sweeps).


def _dictstats_keyed(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 'section' collides with the melt frame's own section column;
    # rename on both engines before melting
    return kg_dictstats(spark, sf_dir).withColumnRenamed("section", "sec")


_KG_META_SPECS_SPARK = [
    ("kg_harvest", None, None, ["pred"], [("subj", "s"), ("obj", "s")]),
    ("kg_dictstats", _dictstats_keyed, None, ["sec", "item", "label"],
     [("n", "n"), ("pct", "n")]),
    ("kg_report", None, None, ["pred"],
     [("n_triples", "n"), ("n_subjects", "n")]),
    ("kg_hearst", None, None, ["subj", "obj"],
     [("pred", "s"), ("n_evidence", "n"), ("n_pages", "n")]),
    ("kg_diff", None, None, ["subj", "pred", "obj"], [("status", "s")]),
    ("kg_dictdiff", None, None, ["surface"],
     [("old_id", "s"), ("new_id", "s"), ("change", "s"), ("n_pages", "n")]),
    ("kg_typed", None, None, ["pred", "obj_scheme"],
     [("expected_scheme", "s"), ("status", "s"), ("n_triples", "n"),
      ("n_subjects", "n")]),
    ("kg_conf", None, None, ["subj", "pred", "obj"],
     [("n_mentions", "n"), ("n_pages", "n"), ("n_hosts", "n"),
      ("conf", "n")]),
    ("kg_negsamples", None, None, ["subj", "pred", "obj", "j"],
     [("split", "s"), ("obj_neg", "s"), ("collides", "s")]),
]


def kg_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kgforge.operators.relational import _compound

    specs = [
        (sec, fn if fn is not None else QUERIES[sec], flt, keys, cells)
        for sec, fn, flt, keys, cells in _KG_META_SPECS_SPARK
    ]
    return _compound(spark, sf_dir, specs)


QUERIES = {
    "kg_extract": kg_extract,
    "kg_mentions": kg_mentions,
    "kg_link": kg_link,
    "kg_canon": kg_canon,
    "kg_triples": kg_triples,
    "kg_measurements": kg_measurements,
    "kg_qualifiers": kg_qualifiers,
    "kg_harvest": kg_harvest,
    "kg_spans": kg_spans,
    "kg_relations": kg_relations,
    "kg_dictstats": kg_dictstats,
    "kg_report": kg_report,
    "kg_graph": kg_graph,
    "kg_assoc": kg_assoc,
    "kg_khop": kg_khop,
    "kg_centrality": kg_centrality,
    "kg_linkgraph": kg_linkgraph,
    "kg_hearst": kg_hearst,
    "kg_diff": kg_diff,
    "kg_dictdiff": kg_dictdiff,
    "kg_typed": kg_typed,
    "kg_conf": kg_conf,
    "kg_negsamples": kg_negsamples,
    "kg_meta": kg_meta,
    # bench/pytest surface only (driver registry stays at 50 names):
    # the one-pass fused ingest demo, parity-asserted against the
    # separate paths in tests/test_pipeline_golden.py
    "kg_fused": kg_fused,
}

ORACLES = {
    "kg_extract": ORACLE_KG_EXTRACT,
    "kg_mentions": ORACLE_KG_MENTIONS,
    "kg_link": ORACLE_KG_LINK,
    "kg_canon": ORACLE_KG_CANON,
    "kg_triples": ORACLE_KG_TRIPLES,
    "kg_measurements": ORACLE_KG_MEASUREMENTS,
    "kg_qualifiers": ORACLE_KG_QUALIFIERS,
    "kg_harvest": ORACLE_KG_HARVEST,
    "kg_spans": ORACLE_KG_SPANS,
    "kg_relations": ORACLE_KG_RELATIONS,
    "kg_dictstats": ORACLE_KG_DICTSTATS,
    "kg_report": ORACLE_KG_REPORT,
    "kg_graph": ORACLE_KG_GRAPH,
    "kg_assoc": ORACLE_KG_ASSOC,
    "kg_khop": ORACLE_KG_KHOP,
    "kg_centrality": ORACLE_KG_CENTRALITY,
    "kg_hearst": ORACLE_KG_HEARST,
    "kg_diff": ORACLE_KG_DIFF,
    "kg_dictdiff": ORACLE_KG_DICTDIFF,
    "kg_typed": ORACLE_KG_TYPED,
    "kg_conf": ORACLE_KG_CONF,
    "kg_negsamples": ORACLE_KG_NEGSAMPLES,
}


def _build_compound_oracles() -> None:
    from kgforge.operators.relational import _compound_sql

    ORACLES["kg_linkgraph"] = _compound_sql(
        [
            ("lg_edges", _SQL_LG_EDGES, None, ["src_host", "dst_host"],
             [("n_links", "n"), ("n_pages", "n")]),
            ("lg_degrees", _SQL_LG_DEGREES, None, ["host"],
             [("out_hosts", "n"), ("in_hosts", "n"), ("n_out", "n"), ("n_in", "n")]),
            ("lg_anchors", _SQL_LG_ANCHORS, None, ["dst_host", "word"],
             [("n", "n")]),
            ("lg_aliases", _SQL_LG_ALIASES, None, ["dst_host", "canonical_id"],
             [("n_links", "n")]),
            ("lg_redirects", _SQL_LG_REDIRECTS, None, ["src"],
             [("final_url", "s"), ("hops", "n")]),
            ("lg_hostprofile", _SQL_LG_HOSTPROFILE, None, ["host"],
             [("n_docs", "n"), ("n_unique", "n"), ("dup_frac", "n"),
              ("mean_chars", "n"), ("decision", "s")]),
        ]
    )
    ORACLES["kg_meta"] = _compound_sql(
        [
            ("kg_harvest", ORACLE_KG_HARVEST, None, ["pred"],
             [("subj", "s"), ("obj", "s")]),
            ("kg_dictstats",
             f"SELECT section AS sec, item, label, n, pct FROM ({ORACLE_KG_DICTSTATS})",
             None, ["sec", "item", "label"], [("n", "n"), ("pct", "n")]),
            ("kg_report", ORACLE_KG_REPORT, None, ["pred"],
             [("n_triples", "n"), ("n_subjects", "n")]),
            ("kg_hearst", ORACLE_KG_HEARST, None, ["subj", "obj"],
             [("pred", "s"), ("n_evidence", "n"), ("n_pages", "n")]),
            ("kg_diff", ORACLE_KG_DIFF, None, ["subj", "pred", "obj"],
             [("status", "s")]),
            ("kg_dictdiff", ORACLE_KG_DICTDIFF, None, ["surface"],
             [("old_id", "s"), ("new_id", "s"), ("change", "s"),
              ("n_pages", "n")]),
            ("kg_typed", ORACLE_KG_TYPED, None, ["pred", "obj_scheme"],
             [("expected_scheme", "s"), ("status", "s"), ("n_triples", "n"),
              ("n_subjects", "n")]),
            ("kg_conf", ORACLE_KG_CONF, None, ["subj", "pred", "obj"],
             [("n_mentions", "n"), ("n_pages", "n"), ("n_hosts", "n"),
              ("conf", "n")]),
            ("kg_negsamples", ORACLE_KG_NEGSAMPLES, None,
             ["subj", "pred", "obj", "j"],
             [("split", "s"), ("obj_neg", "s"), ("collides", "s")]),
        ]
    )


_build_compound_oracles()

# The driver records ~50 CORRECTNESS rows per round; the three small
# metadata emitters ride as the kg_meta compound in the driver-facing
# registry (their standalones stay in QUERIES for bench/local sweeps),
# funding slots for kg_linkgraph and kg_centrality.
DRIVER_QUERIES = {
    k: v
    for k, v in QUERIES.items()
    if k not in ("kg_harvest", "kg_dictstats", "kg_report", "kg_hearst",
                 "kg_diff", "kg_dictdiff", "kg_conf", "kg_negsamples",
                 "kg_typed", "kg_fused")
}
