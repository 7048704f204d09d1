"""Schema migration — the CDM v3 -> v4 ALTER-script analog
(MSSQL/Utilities/alter_pmn_v3_to_v4.sql:1-129: purely additive nullable
columns per table, plus rename-style fixes like BASIS -> ENR_BASIS,
Oracle/PCORNetLoader_ora.sql:1733).

On an Iceberg deployment every step here is a metadata-only ALTER
(ADD COLUMN / RENAME COLUMN); on the parquet fallback the table is
rewritten once through the same declarative spec. Either way the spec —
not hand-run DDL — is the source of truth, and re-running a migration
is a no-op (the reference scripts are NOT idempotent; this is the
Spark-side fix for that operational hazard).

A migration spec is a list of steps applied in order:
  ("add",    name, spark_type_ddl, default_sql_literal_or_None)
  ("rename", old_name, new_name)
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgforge.checkpoint import publishing, settle

# triple-table lineage: v1 predates qualifier language + source
# timestamp and spelled qual_kind as quality_kind (the BASIS/ENR_BASIS
# style misnaming)
TRIPLE_MIGRATIONS: dict[int, list[tuple]] = {
    2: [
        ("rename", "quality_kind", "qual_kind"),
        ("add", "qual_lang", "string", None),
        ("add", "src_ts", "timestamp", None),
    ],
}


def evolve(df: DataFrame, steps: list[tuple]) -> DataFrame:
    """Apply migration steps declaratively; already-applied steps are
    skipped (idempotent by construction)."""
    cols = set(df.columns)
    for step in steps:
        if step[0] == "rename":
            _, old, new = step
            if old in cols and new not in cols:
                df = df.withColumnRenamed(old, new)
                cols.discard(old)
                cols.add(new)
        elif step[0] == "add":
            _, name, dtype, default = step
            if name not in cols:
                col = (
                    F.lit(default).cast(dtype)
                    if default is not None
                    else F.lit(None).cast(dtype)
                )
                df = df.withColumn(name, col)
                cols.add(name)
        else:
            raise ValueError(f"unknown migration op {step[0]!r}")
    return df


def _version_path(path: str) -> str:
    return os.path.join(path, "_schema_version")


def table_version(path: str) -> int:
    try:
        with open(_version_path(path)) as f:
            return json.load(f)["version"]
    except (OSError, ValueError, KeyError):
        return 1


def migrate_triples(
    spark: SparkSession, path: str, to_version: int = max(TRIPLE_MIGRATIONS)
) -> dict:
    """Bring a parquet triple table to `to_version`. Reads, applies the
    pending migration specs in order, and publishes the rewritten table
    with its _schema_version stamp in one step (checkpoint.publishing),
    so a crash leaves the old version or the new. Re-running returns
    without touching data — the idempotence the reference's ALTER
    scripts lack."""
    settle(path)
    cur = table_version(path)
    if cur >= to_version:
        return {"path": path, "version": cur, "migrated": False}
    df = spark.read.parquet(path)
    applied = []
    for v in sorted(TRIPLE_MIGRATIONS):
        if cur < v <= to_version:
            df = evolve(df, TRIPLE_MIGRATIONS[v])
            applied.append(v)
    # preserve the pred-partitioned layout run_pipeline creates: a plain
    # rewrite would silently demote pred to a data column and pred-pruned
    # reads would lose partition pruning after migration
    pred = any(e.startswith("pred=") for e in os.listdir(path))
    with publishing(path) as tmp:
        df.write.parquet(tmp, partitionBy="pred" if pred else None)
        with open(_version_path(tmp), "w") as f:
            json.dump({"version": to_version, "applied": applied}, f)
    return {"path": path, "version": to_version, "migrated": True, "applied": applied}
