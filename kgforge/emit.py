"""Stage 4 — triple emitters: linked candidates -> (subj, pred, obj).

Each emitter mirrors one of the reference's 13 PCORNetXxx procedures
(filter -> join -> normalize -> NI-defaults -> project; e.g. diagnosis at
Oracle/PCORNetLoader_ora.sql:1440-1520). A triple row is a reified
assertion about a subject with qualifier codes and RAW_* provenance
(the paired RAW columns of :396-401 become the `raw` struct).

Determinism: triple ids are xxhash64(subj, pred, obj, src_url) —
partition-layout independent, so resume and the N-vs-4N parity test see
identical outputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgforge.conf import NI
from kgforge.link import attach_qualifiers

TRIPLE_COLS = [
    "triple_id",
    "subj",
    "pred",
    "obj",
    "qual_kind",
    "qual_comparator",
    "qual_value_num",
    "qual_lang",
    "raw_surface",
    "src_url",
    "src_ts",
]


def emit_entity_triples(candidates: DataFrame, mapping: DataFrame) -> DataFrame:
    """hasConcept triples: canonical page subject -> linked concept.

    The demographic-emitter analog (Oracle/PCORNetLoader_ora.sql:1103-1246):
    the 7-way mapped/not-mapped UNION collapses into coalesce/when chains.

    Accepts plain candidates or the attach_qualifiers output; when the
    page-level qualifier columns are present, an entity assertion with no
    value of its own inherits the page's numeric context (q_max_value) —
    the modifier re-attach semantics of Oracle/PCORNetLoader_ora.sql:2202-2243.
    """
    page_q = (
        F.col("q_max_value")
        if "q_max_value" in candidates.columns
        else F.lit(None).cast("double")
    )
    # (Measured dead end, kept as a note: deduping candidates here on
    # (url, canonical_id, pred, surface) before the union ADDS a full
    # shuffle of the candidate stream on top of the downstream distinct
    # — triples-stage wall doubled at 400k pages. The union-level
    # distinct already dedupes in one exchange.)
    c = (
        candidates.filter(F.col("kind") == "entity")
        .join(mapping, "url", "left")
        .withColumn("subj", F.coalesce("canon_url", F.col("url")))
    )
    return c.select(
        F.xxhash64(
            F.col("subj"), F.col("pred"), F.col("canonical_id"), F.col("url")
        ).alias("triple_id"),
        "subj",
        F.coalesce("pred", F.lit("hasConcept")).alias("pred"),
        F.coalesce("canonical_id", F.lit(NI)).alias("obj"),
        F.coalesce("kind", F.lit(NI)).alias("qual_kind"),
        F.coalesce("value_text", F.lit(NI)).alias("qual_comparator"),
        F.coalesce(F.col("value_num"), page_q).alias("qual_value_num"),
        F.lit(None).cast("string").alias("qual_lang"),
        F.col("surface").alias("raw_surface"),
        F.col("url").alias("src_url"),
        F.col("warc_ts").alias("src_ts"),
    )


def emit_measurement_triples(candidates: DataFrame, mapping: DataFrame) -> DataFrame:
    """hasMeasurement triples: numeric observations become first-class
    assertions with the value and comparator as qualifiers — the
    pmnVITAL/pmnLAB analog (Oracle/PCORNetLoader_ora.sql:1644-1660,
    :1901-1929). qual_value_num carries nval_num (already NULLed by the
    value-domain guard when > 1e7, :1687,:1914); qual_comparator carries
    the tval_char code (E/NE/L/LE/G/GE, :1915), NI when absent."""
    c = (
        candidates.filter(F.col("kind") == "numeric")
        .join(mapping, "url", "left")
        .withColumn("subj", F.coalesce("canon_url", F.col("url")))
    )
    return c.select(
        F.xxhash64(
            F.col("subj"), F.col("pred"), F.col("canonical_id"), F.col("url"),
            F.col("mention_id"),
        ).alias("triple_id"),
        "subj",
        F.col("pred"),
        F.col("canonical_id").alias("obj"),
        F.lit("numeric").alias("qual_kind"),
        F.coalesce("value_text", F.lit(NI)).alias("qual_comparator"),
        F.col("value_num").alias("qual_value_num"),
        F.lit(None).cast("string").alias("qual_lang"),
        F.col("surface").alias("raw_surface"),
        F.col("url").alias("src_url"),
        F.col("warc_ts").alias("src_ts"),
    )


def emit_page_triples(pages: DataFrame, mapping: DataFrame) -> DataFrame:
    """Per-page structural triples (lang, crawl ts) — the encounter-table
    analog: every downstream emitter scopes to these subjects
    (Oracle/PCORNetLoader_ora.sql:1445)."""
    p = pages.join(mapping, "url", "left").withColumn(
        "subj", F.coalesce("canon_url", F.col("url"))
    )
    return p.select(
        F.xxhash64(F.col("subj"), F.lit("hasLang"), F.col("lang"), F.col("url")).alias(
            "triple_id"
        ),
        "subj",
        F.lit("hasLang").alias("pred"),
        F.coalesce("lang", F.lit(NI)).alias("obj"),
        F.lit("page").alias("qual_kind"),
        F.lit(NI).alias("qual_comparator"),
        F.lit(None).cast("double").alias("qual_value_num"),
        F.col("lang").alias("qual_lang"),
        F.lit(None).cast("string").alias("raw_surface"),
        F.col("url").alias("src_url"),
        F.col("warc_ts").alias("src_ts"),
    )


def emit_sameas_triples(mapping: DataFrame) -> DataFrame:
    """sameAs triples for non-trivial canonicalization results — the
    provider-union analog (distinct ids from prior outputs,
    Oracle/PCORNetLoader_ora.sql:2419-2436)."""
    m = mapping.filter(F.col("url") != F.col("canon_url"))
    return m.select(
        F.xxhash64(F.col("url"), F.lit("sameAs"), F.col("canon_url")).alias("triple_id"),
        F.col("url").alias("subj"),
        F.lit("sameAs").alias("pred"),
        F.col("canon_url").alias("obj"),
        F.lit("canon").alias("qual_kind"),
        F.lit(NI).alias("qual_comparator"),
        F.lit(None).cast("double").alias("qual_value_num"),
        F.lit(None).cast("string").alias("qual_lang"),
        F.lit(None).cast("string").alias("raw_surface"),
        F.col("url").alias("src_url"),
        F.lit(None).cast("timestamp").alias("src_ts"),
    )


ISO_FMT = "yyyy-MM-dd'T'HH:mm:ss'Z'"


def emit_span_triples(
    pages: DataFrame, mapping: DataFrame, periods: DataFrame | None = None
) -> DataFrame:
    """hasSpan triples: per-canonical-subject observation span — the
    pmnENROLLMENT analog (Oracle/PCORNetLoader_ora.sql:1739-1744).

    The reference computes per-patient min/max(start_date) over visits,
    then a LEFT self-join to the optional loyalty table overrides the
    observed span with the curated enrollment period (ENR_BASIS 'A'
    when curated else 'E'; the loyalty view falls back to empty,
    :166-177). Here: min/max(warc_ts) over a subject's member pages,
    overridden by an optional curated-periods table
    (subj, period_start, period_end) via one BROADCAST left join —
    curated periods are metadata-scale, the span table is corpus-scale.

    obj is the ISO-8601 interval "start/end"; basis rides in qual_kind,
    the CHART 'Y' analog in qual_comparator, span length in days in
    qual_value_num. A crawl batch feeds span_triples its own
    observations plus each touched subject's stored span
    (kgforge.incremental)."""
    return span_triples(span_observations(pages, mapping), periods)


def span_observations(pages: DataFrame, mapping: DataFrame) -> DataFrame:
    """(url, warc_ts, subj): each page's crawl timestamp keyed by its
    canonical subject — the visit rows span_triples aggregates."""
    return pages.join(mapping, "url", "left").select(
        "url", "warc_ts", F.coalesce("canon_url", F.col("url")).alias("subj")
    )


def span_triples(obs: DataFrame, periods: DataFrame | None = None) -> DataFrame:
    """hasSpan rows from observations (url, warc_ts, subj): min/max
    warc_ts per subject, min url as the source, overridden by an
    optional curated-periods table (see emit_span_triples)."""
    spans = obs.groupBy("subj").agg(
        F.min("warc_ts").alias("obs_start"),
        F.max("warc_ts").alias("obs_end"),
        F.min("url").alias("src_url"),
    )
    if periods is not None:
        spans = spans.join(F.broadcast(periods), "subj", "left")
    else:
        spans = spans.withColumn(
            "period_start", F.lit(None).cast("timestamp")
        ).withColumn("period_end", F.lit(None).cast("timestamp"))
    curated = F.col("period_start").isNotNull()
    start = F.when(curated, F.col("period_start")).otherwise(F.col("obs_start"))
    end = F.when(curated, F.col("period_end")).otherwise(F.col("obs_end"))
    obj = F.concat_ws("/", F.date_format(start, ISO_FMT), F.date_format(end, ISO_FMT))
    return spans.select(
        F.xxhash64(F.col("subj"), F.lit("hasSpan"), obj).alias("triple_id"),
        "subj",
        F.lit("hasSpan").alias("pred"),
        obj.alias("obj"),
        F.when(curated, F.lit("A")).otherwise(F.lit("E")).alias("qual_kind"),
        F.lit("Y").alias("qual_comparator"),
        ((F.unix_micros(end) - F.unix_micros(start)) / 86400000000.0).alias(
            "qual_value_num"
        ),
        F.lit(None).cast("string").alias("qual_lang"),
        F.lit(None).cast("string").alias("raw_surface"),
        "src_url",
        end.alias("src_ts"),
    )


def all_triples(
    pages: DataFrame,
    candidates: DataFrame,
    mapping: DataFrame,
    periods: DataFrame | None = None,
) -> DataFrame:
    """Union of all emitters in dependency order (the pcornetloader DAG,
    Oracle/PCORNetLoader_ora.sql:2600-2618): page triples (encounter
    analog) first, then entity triples (qualified by the page's numeric
    context via attach_qualifiers — one broadcast join, the 6-stacked-
    left-joins-to-pivot rewrite), then measurement triples (the
    vital/lab analog), then per-subject span triples (the enrollment
    analog; `periods` is the optional curated/loyalty override), then
    sameAs links.

    The canonicalization mapping is identity for every page outside a
    near-dup component; the emitters' coalesce(canon_url, url) already
    reconstructs identity rows, so the join side is pre-filtered to the
    NON-identity rows — O(duplicate pages) instead of O(corpus). At
    bench scale AQE then broadcasts it (three map-side joins, no
    exchange); at 10^12 docs it is still a corpus-factor-smaller
    shuffle side."""
    sparse = mapping.filter(F.col("url") != F.col("canon_url"))
    qualified = attach_qualifiers(candidates)
    return (
        emit_page_triples(pages, sparse)
        .unionByName(emit_entity_triples(qualified, sparse))
        .unionByName(emit_measurement_triples(candidates, sparse))
        .unionByName(emit_span_triples(pages, sparse, periods))
        .unionByName(emit_sameas_triples(sparse))
    )
