"""Session construction + engine configuration.

The reference parameterizes sites via scalar config functions
(GETDATAMARTID/GETDATAMARTNAME, Oracle/PCORNetLoader_ora.sql:140-158);
here site parameters are plain Python config and `lit()` columns.

Scale posture (designed for a 1000-executor cluster, tested on local[N]):
- AQE on: runtime coalescing, skew-join splitting.
- Arrow on: every pandas UDF crosses the JVM<->Python boundary in
  columnar batches.
- Shuffle partitions default to cores locally; on a real cluster this is
  set to ~2-3x total cores via spark-submit conf, and AQE coalesces.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Site parameters — analog of GETDATAMARTID()/GETI2B2DATASOURCE()
# (Oracle/PCORNetLoader_ora.sql:140-158).
DATAMART_ID = "KGF"
DATAMART_NAME = "kgforge"
NETWORK_ID = "CC"  # Common-Crawl-style corpus

# Encoded-missingness codes carried over from the reference
# (NI = no information, UN = unknown, OT = other;
#  Oracle/PCORNetLoader_ora.sql:1344,1901-1916).
NI = "NI"
UN = "UN"
OT = "OT"

# Unit-conversion constants — the analog of the reference's unit_ht()
# (cm -> inch, x0.393701) and unit_wt() (kg -> lb, x2.20462) scalar
# functions (Oracle/PCORNetLoader_ora.sql:32-45, applied :1651-1652).
# Config-driven lit() multiplication; no UDF needed (SURVEY.md §2.7).
UNIT_HT = 0.393701
UNIT_WT = 2.20462

# Skew handling (SURVEY.md §7.5): number of salts for hub-entity
# aggregations, and the LSH block-size cap (blocks larger than this are
# split and counted in metrics — no silent caps).
SALT_BUCKETS = 16
MAX_LSH_BLOCK = 2000

# MinHash parameters — the single source of truth; canon.py, pipeline.py
# and the dedup operators import these. 128 perms / 32 bands (4 rows per
# band) puts the miss probability for a true pair at J>=0.8 at
# (1-0.8^4)^32 ~ 5e-8, which is what lets the LSH path claim equality
# with the exact-Jaccard oracle.
MINHASH_PERMS = 128
LSH_BANDS = 32
NEAR_DUP_THRESHOLD = 0.8


def spark_cpus() -> int:
    """Task slots: SPARK_GRAFT_CPUS when set, else the cores this process
    may run on — a plain run never oversubscribes its host."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def _local_dirs() -> str | None:
    """Shuffle/spill directories. On this bench box /tmp is a virtual
    ext4 disk while /dev/shm is a 128G tmpfs; 32 concurrent shuffle
    writers serialize on the one disk, so spill to RAM (a stand-in for
    the NVMe-backed local dirs a real cluster provisions per executor).
    Overridable via KGF_LOCAL_DIR; falls back to Spark's default."""
    d = os.environ.get("KGF_LOCAL_DIR")
    if d:
        return d
    if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        return "/dev/shm/kgf_spark"
    return None


def get_spark(
    app: str = "kgforge",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build the session the whole engine runs under.

    UTC session TZ is load-bearing: oracle comparisons (DuckDB) are
    UTC-naive, and byte-identical extraction must not depend on locale.

    Heap note: in local mode the driver heap IS the executor heap, and
    bigger is NOT better. Measured on this box (100k-page pipeline,
    local[32]): 8g -> 127s, 12g -> 102s, 16g -> 99s, 24g -> 231s,
    64g -> 413s. Small heaps GC-thrash; big heaps let 32 tasks grow
    ~GB-sized aggregation state that G1 re-scans instead of spilling
    early to page-cache-backed disk. 16g is the measured optimum and is
    FIXED across parallelism levels — mirroring a real cluster, where
    per-executor memory does not change with executor count.
    """
    n = cpus or spark_cpus()
    sp = shuffle_partitions or n
    default_mem = "16g"
    b = (
        SparkSession.builder.appName(app)
        .master(f"local[{n}]")
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("KGF_DRIVER_MEM", default_mem))
        .config("spark.ui.enabled", "false")
        # fine scan splits: local bench corpora are a few hundred MB, and
        # UDF stages need more splits than 128MB chunks would give; on a
        # real cluster this is raised back via spark-submit conf
        .config("spark.sql.files.maxPartitionBytes", str(8 * 1024 * 1024))
        # parquet row groups are the split granularity of every
        # checkpointed stage output — the default 128MB block makes each
        # stage file ONE row group, capping the next stage's read
        # parallelism at the file count (measured: the mention stage sat
        # at ~17 tasks on 32 cores). Keep row groups aligned with
        # maxPartitionBytes; raise both together on a real cluster.
        .config("spark.hadoop.parquet.block.size", str(8 * 1024 * 1024))
        # GC threads must scale WITH the task slots: the JVM sizes its
        # GC pool from the machine's 32 cores regardless of local[N],
        # silently granting a local[8] run ~23 GC threads no real 8-core
        # executor would have (measured +48% throughput at local[8]).
        # Pin ParallelGCThreads to what the JVM itself would pick on an
        # N-core machine (N if N<=8, else 8 + (N-8)*5/8) so local[N] is
        # a faithful stand-in for an N-core executor in the N-vs-4N
        # scaling evidence.
        .config(
            "spark.driver.extraJavaOptions",
            f"-XX:ParallelGCThreads={n if n <= 8 else 8 + (n - 8) * 5 // 8} "
            f"-XX:ConcGCThreads={max(1, n // 4)}",
        )
    )
    ld = _local_dirs()
    if ld:
        b = b.config("spark.local.dir", ld)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
