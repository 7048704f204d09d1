"""Ontology / concept-dictionary module — load, clean, dedup, propagate,
broadcast.

This is the analog of the reference's ontology machinery:
- cleanup (prefix strip, folder exclusion): ontology_fix_script_ms_v5.sql
- preference dedup (one row per alias):     Oracle/PCORNetLoader_ora.sql:1852-1857
- hierarchy propagation (cui/ndc down-tree): MSSQL/PCORI_MEDS_SCHEMA_CHANGE.sql:34-54
- dim-code CSV parsing:                      Oracle/PCORNetLoader_ora.sql:194-231

Dictionary schema (FIXTURES.md §2):
  concept_path string   -- backslash path, \\KG\\<DOMAIN>\\...
  alias        string   -- surface form matched against mentions (c_basecode)
  canonical_id string   -- scheme:value target code (pcori_basecode)
  pred         string   -- target predicate
  dim_codes    array<string>
  is_leaf      boolean
  hlevel       int
  parent_path  string

The dictionary is small relative to the corpus (10^3-10^6 rows vs 10^12
pages), so every use site broadcasts it; nothing here shuffles the fact
side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

DICT_COLS = [
    "concept_path",
    "alias",
    "canonical_id",
    "pred",
    "dim_codes",
    "is_leaf",
    "hlevel",
    "parent_path",
]


def clean_dictionary(raw: DataFrame) -> DataFrame:
    """ontology_fix analog (ontology_fix_script_ms_v5.sql): normalize
    aliases (lowercase/trim, the reference's lower() comparisons at
    Oracle/PCORNetLoader_ora.sql:1116-1118) and drop unusable rows.
    Folder rows KEEP their canonical ids — they are the propagation
    source (MSSQL/PCORI_MEDS_SCHEMA_CHANGE.sql anchors on ancestor rows
    with codes); linking later restricts to leaves, the
    `c_visualattributes LIKE 'L%'` discipline
    (Oracle/PCORNetLoader_ora.sql:1121)."""
    return raw.select(
        F.col("concept_path"),
        F.lower(F.trim(F.col("alias"))).alias("alias"),
        F.col("canonical_id"),
        F.col("pred"),
        F.col("dim_codes"),
        F.col("is_leaf"),
        F.col("hlevel"),
        F.col("parent_path"),
    ).filter(F.col("alias").isNotNull() & (F.length("alias") > 0))


def dedup_by_preference(dic: DataFrame) -> DataFrame:
    """One dictionary row per alias — the pcornet_lab2 preference dedup
    (row_number over partition by c_basecode order by preference,
    Oracle/PCORNetLoader_ora.sql:1852-1857). Preference: leaves first,
    deeper (more specific) paths first, then path for determinism."""
    w = Window.partitionBy("alias").orderBy(
        F.desc("is_leaf"), F.desc("hlevel"), F.asc("concept_path")
    )
    return (
        dic.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def linker_dictionary(dic: DataFrame) -> DataFrame:
    """The dictionary rows the linker matches against: leaves only with a
    resolved canonical id — the `c_visualattributes LIKE 'L%'` filter
    (Oracle/PCORNetLoader_ora.sql:1121)."""
    return dic.filter(F.col("is_leaf") & F.col("canonical_id").isNotNull())


LOCAL_DICT_THRESHOLD = 200_000

# --- driver-side dictionary budget guard (r4 VERDICT item 6) ----------------
# The dictionary is broadcast-class BY CONTRACT (module docstring), but a
# pathological input used to reach an unguarded .collect(): size it against
# a memory-derived budget first, mirroring canon.local_cc_threshold. A
# breach is a HARD error, not a counted truncation — truncating the alias
# list would silently change which mentions are detected, the one cap class
# the engine forbids (metrics can count dropped work, never dropped
# semantics).
ALIAS_ENTRY_BYTES = 120  # python str + list slot for one driver-side alias
DICT_MEM_FRACTION = 0.125  # same share of spark.driver.memory as LOCAL_CC
ALIAS_GUARD_MIN = 500_000
ALIAS_GUARD_MAX = 50_000_000


class DictionaryBudgetError(RuntimeError):
    """Alias dictionary exceeds the driver-memory-derived budget."""


def alias_budget(spark: SparkSession) -> int:
    from kgforge.canon import _parse_mem_bytes

    budget = (
        _parse_mem_bytes(spark.conf.get("spark.driver.memory", None))
        * DICT_MEM_FRACTION
    )
    return int(min(max(budget // ALIAS_ENTRY_BYTES, ALIAS_GUARD_MIN), ALIAS_GUARD_MAX))


def collect_aliases(dic: DataFrame, budget: int | None = None) -> list[str]:
    """Guarded driver fetch of the distinct linker alias list (the
    token-engine vocabulary detect_mentions broadcasts). ONE take()
    probes and fetches: within budget the rows ARE the result; over
    budget fetching stops at budget+1 rows instead of OOMing the driver,
    and the breach raises with the measured size and the knobs that
    raise the budget."""
    if budget is None:
        budget = alias_budget(dic.sparkSession)
    probe = dic.select("alias").distinct().take(budget + 1)
    if len(probe) > budget:
        raise DictionaryBudgetError(
            f"alias dictionary exceeds the driver budget ({budget:,} aliases"
            f" at {ALIAS_ENTRY_BYTES}B each from spark.driver.memory *"
            f" {DICT_MEM_FRACTION}); probe stopped at {len(probe):,}."
            " Raise spark.driver.memory or pre-filter the dictionary —"
            " the linker never truncates silently."
        )
    return [r["alias"] for r in probe]


def propagate_hierarchy(
    dic: DataFrame, max_depth: int = 20, force_distributed: bool = False
) -> DataFrame:
    """Nearest-ancestor canonical_id propagation — the recursive-CTE
    cui/ndc push-down (MSSQL/PCORI_MEDS_SCHEMA_CHANGE.sql:34-54).

    Adaptive execution: the ontology is METADATA, usually orders of
    magnitude smaller than the corpus (the reference walks it with
    cursors, never the fact table). Below LOCAL_DICT_THRESHOLD rows the
    walk runs driver-side in plain Python — a tree walk over a dict is
    milliseconds, where a driver-loop of Spark jobs costs seconds of
    scheduling per round. Above the threshold (or when forced, as the
    property tests do), the distributed iterate-to-fixpoint loop runs:
    each round unresolved nodes adopt their climbed ancestor's value,
    localCheckpoint cuts lineage, depth is bounded by tree height.
    """
    if not force_distributed:
        # ONE take() decides locality AND fetches the rows: a small dict
        # pays one job instead of count + collect (each tiny job costs
        # ~0.5-1s of scheduling on a busy session), and a huge dict
        # stops fetching at the threshold instead of counting every row
        probe = dic.take(LOCAL_DICT_THRESHOLD + 1)
        if len(probe) <= LOCAL_DICT_THRESHOLD:
            return _propagate_local(dic, probe)
    return _propagate_distributed(dic, max_depth)


def _propagate_local(dic: DataFrame, collected=None) -> DataFrame:
    spark = dic.sparkSession
    if collected is None:
        # direct callers (tests, notebooks) get the same guarded fetch
        # as the propagate_hierarchy front door: stop at the threshold
        # instead of collecting an unbounded dictionary onto the driver
        collected = dic.take(LOCAL_DICT_THRESHOLD + 1)
        if len(collected) > LOCAL_DICT_THRESHOLD:
            raise DictionaryBudgetError(
                f"_propagate_local called with a dictionary above"
                f" LOCAL_DICT_THRESHOLD ({LOCAL_DICT_THRESHOLD:,} rows);"
                " use propagate_hierarchy, which branches to the"
                " distributed pointer-doubling path"
            )
    rows = [r.asDict() for r in collected]
    by_path = {r["concept_path"]: r for r in rows}
    for r in rows:
        cid, cur, steps = r["canonical_id"], r, 0
        while cid is None and steps < 64:
            parent = by_path.get(cur["parent_path"]) if cur["parent_path"] else None
            if parent is None:
                break
            cid, cur, steps = parent["canonical_id"], parent, steps + 1
        r["canonical_id"] = cid
    out = spark.createDataFrame(
        [tuple(r[c] for c in DICT_COLS) for r in rows],
        dic.select(*DICT_COLS).schema,
    )
    return out


def pointer_double_nearest_value(
    nodes: DataFrame,
    id_col: str = "id",
    parent_col: str = "parent",
    value_col: str = "value",
    max_depth: int = 64,
) -> DataFrame:
    """Nearest-valued-ancestor (self included) by POINTER DOUBLING.

    Round k holds, per node, its 2^k-th ancestor pointer and the nearest
    valued node among its first 2^k ancestors; one self-join composes two
    half-segments into the 2^(k+1) state, so a depth-D tree resolves in
    ceil(log2 D) rounds instead of D — each round is one shuffle of
    (id, ptr, best) plus a localCheckpoint to cut lineage. The near
    half-segment wins ties by construction, which IS the nearest-ancestor
    preference. Returns (id_col, value_col) for every node that resolves.

    Shared by the distributed ontology propagation (the recursive-CTE
    cui/ndc push-down, MSSQL/PCORI_MEDS_SCHEMA_CHANGE.sql:34-54) and the
    driver-checkable rel_hierarchy_propagation query."""
    import math

    rounds = max(1, math.ceil(math.log2(max(2, max_depth))))
    state = nodes.select(
        F.col(id_col).alias("id"),
        F.col(parent_col).alias("ptr"),
        F.col(value_col).alias("best"),
    )
    for _ in range(rounds):
        # done when every still-unresolved node has run out of ancestors
        if state.filter(F.col("best").isNull() & F.col("ptr").isNotNull()).isEmpty():
            break
        other = state.select(
            F.col("id").alias("ptr"),
            F.col("ptr").alias("o_ptr"),
            F.col("best").alias("o_best"),
        )
        state = (
            state.join(other, "ptr", "left")
            .select(
                "id",
                F.col("o_ptr").alias("ptr"),
                F.coalesce("best", "o_best").alias("best"),
            )
            .localCheckpoint(eager=True)
        )
    return state.filter(F.col("best").isNotNull()).select(
        F.col("id").alias(id_col), F.col("best").alias(value_col)
    )


def _propagate_distributed(dic: DataFrame, max_depth: int = 20) -> DataFrame:
    nodes = dic.cache()
    resolved = pointer_double_nearest_value(
        nodes.select(
            F.col("concept_path").alias("id"),
            F.col("parent_path").alias("parent"),
            F.col("canonical_id").alias("value"),
        ),
        max_depth=max(max_depth, 2),
    ).select(
        F.col("id").alias("concept_path"), F.col("value").alias("canonical_id")
    )
    return (
        nodes.drop("canonical_id")
        .join(resolved, "concept_path", "left")
        .select(*DICT_COLS)
    )


def split_scheme(dic: DataFrame) -> DataFrame:
    """scheme:value split of canonical_id (SUBSTR/INSTR at
    Oracle/PCORNetLoader_ora.sql:1474 and 10+ other sites)."""
    return dic.withColumn(
        "scheme", F.substring_index("canonical_id", ":", 1)
    ).withColumn("code", F.substring_index("canonical_id", ":", -1))


def domain_of(dic: DataFrame) -> DataFrame:
    """Pre-materialize the path-prefix domain (the '\\PCORI\\DIAGNOSIS\\%'
    LIKE family, Oracle/PCORNetLoader_ora.sql:1120 etc.) as a column so
    downstream predicates constant-fold and prune instead of re-running
    string matches."""
    return dic.withColumn(
        "domain", F.element_at(F.split(F.col("concept_path"), r"\\"), 3)
    )


def load_dictionary(spark: SparkSession, path: str) -> DataFrame:
    """Load + full cleanup pipeline; result is broadcast at use sites."""
    raw = spark.read.parquet(path)
    return domain_of(dedup_by_preference(propagate_hierarchy(clean_dictionary(raw))))


def linker_inputs(raw: DataFrame) -> tuple[DataFrame, list[str]]:
    """The two things the linking stages take from a raw dictionary: the
    cleaned, propagated dictionary link_mentions joins against and the
    alias list detect_mentions matches (one driver fetch)."""
    dic = propagate_hierarchy(clean_dictionary(raw))
    return dic, collect_aliases(linker_dictionary(dic))
