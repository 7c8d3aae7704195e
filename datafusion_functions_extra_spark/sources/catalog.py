"""Table catalog: parquet sources for the driver's synthetic TPC-H-ish data.

The reference registers in-memory tables in a ``SessionContext``
(``/root/reference/tests/utils/mod.rs:22-68``); our equivalent is temp views
over parquet scans.  Reading through :func:`load_tables` keeps scans lazy so
Catalyst pushes filters/projections into the parquet reader (check
``PushedFilters``/``ReadSchema`` in ``.explain``).
"""

from __future__ import annotations

import os
import stat
from collections.abc import Mapping

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: dimension tables small enough to broadcast at ANY scale factor — only
#: region (5 rows) and nation (25 rows) are constant-size in TPC-H;
#: supplier/customer/part scale with SF and must not be hinted blindly.
BROADCAST_TABLES = frozenset({"region", "nation"})

DEFAULT_SF_DIR = "/root/testdata/sf0.1"


def sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)


#: per-process memo of parquet SCHEMAS keyed by file identity
#: (see ``_file_identity``) — metadata only, never row data.  Schema
#: inference on a bare ``spark.read.parquet(path)`` runs a real Spark
#: job to fetch the footer (measured ~0.1s per call, r11), a fixed
#: driver charge inside EVERY query's timed region; passing the schema
#: explicitly skips that job (measured: 0 jobs).  This is the local
#: stand-in for reading the schema from a catalog/metastore, which is
#: what a 100 TB deployment does — re-inferring per query is pure
#: overhead.  Keyed on file identity so a regenerated dataset at the
#: same path re-infers; every query still computes its rows from the
#: parquet (nothing but the StructType is memoized).
_SCHEMA_CACHE: dict[tuple, object] = {}


def _file_identity(path: str) -> tuple:
    """(path, mtime_ns, size) of a file; for a directory (a Spark-written
    stage), the path and the sorted (name, mtime_ns, size) of its
    entries — rewriting a part file in place need not touch the
    directory's own mtime or size."""
    st = os.stat(path)
    if not stat.S_ISDIR(st.st_mode):
        return (path, st.st_mtime_ns, st.st_size)
    with os.scandir(path) as it:
        entries = [(e.name, e.stat()) for e in it]
    return (path, tuple(sorted((n, s.st_mtime_ns, s.st_size) for n, s in entries)))


def cached_parquet_schema(spark: SparkSession, path: str):
    """Schema of the parquet file or directory at ``path``, inferred once
    per identity per process (see ``_SCHEMA_CACHE``).  A path ``os.stat``
    cannot see (a URI such as ``file://``, ``hdfs://`` or ``s3://``) has
    no identity to key on, so it falls back to plain inference."""
    try:
        key = _file_identity(path)
    except OSError:
        return spark.read.parquet(path).schema
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        schema = spark.read.parquet(path).schema
        _SCHEMA_CACHE[key] = schema
    return schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        # events.parquet carries TIMESTAMP(NANOS), which Spark's reader
        # rejects; nanosAsLong is a *runtime* SQL conf, so set it on whatever
        # session we were handed (the driver passes its own — a builder-only
        # config would silently not apply there).  It must be set before the
        # one-time schema inference below, too.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.schema(cached_parquet_schema(spark, path)).parquet(path)
    if name == "events":
        # Surface a proper session-tz (UTC) microsecond timestamp, matching
        # DuckDB's CAST(ts AS TIMESTAMP), whatever physical type the driver
        # generated the parquet with (it has shipped both TIMESTAMP(NANOS)
        # and timestamp[us] across rounds):
        #   * LongType  — nanosAsLong read of TIMESTAMP(NANOS).  Integer
        #     `div` is required: epoch nanos (~1.7e18) exceed double's 2^53
        #     mantissa, so a float divide lands ~1.6% of timestamps 1us off.
        #   * TimestampNTZType — timestamp[us] with isAdjustedToUTC=false.
        #     Cast reinterprets the wall-clock in the session tz (UTC), so
        #     epoch values are unchanged; unix_micros/window ops then work.
        #   * TimestampType — already what we want.
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(ts_type, T.TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    # NOTE (r10): documents/embeddings were briefly widened HERE on every
    # load; reverted after a dedicated A/B showed the unconditional
    # repartition exchange taxed every LIGHT consumer of those tables
    # (~150 queries at +0.2-0.8s each: dedup_exact_stats 1.66->0.81s,
    # docs_snapshot_diff 2.14->0.74s, lang_source_chi2 1.12->0.40s with
    # load-widen off) while the HEAVY paths never needed it — the
    # signature/simhash/shingle operators and the Arrow decode helpers
    # call widen_for_compute at their own entry points, where the
    # per-row compute that justifies the exchange actually lives.
    return df


def widen_for_compute(df: DataFrame) -> DataFrame:
    """Round-robin repartition a NARROW scan up to the session's default
    parallelism before per-row-heavy compute (signature hashing, HOF
    folds, Arrow decode).

    The bench-scale tables are single parquet files with one row group,
    so the scan yields ONE partition and every downstream projection in
    that stage runs on one core of ``local[n]`` (guide §2.2: partition
    count mismatched to the compute).  Widening is conditional on the
    observed partition count, so it is scale-adaptive, not a tuned
    constant: at production scale (or lower bench core counts) inputs
    that already match the parallelism pass through untouched, and
    ``defaultParallelism`` follows the cluster/core count.  Only apply to
    raw scans feeding expensive projections — the repartition exchange
    moves the raw rows once, which only pays when the per-row compute
    dominates the row bytes.
    """
    sc = df.sparkSession.sparkContext
    n = sc.defaultParallelism
    # Short-circuit WITHOUT touching df.rdd when the plan is already a
    # round-robin/hash repartition (e.g. load_table widened this scan):
    # under AQE, df.rdd on a plan containing an exchange EXECUTES the
    # upstream query stages to finalize the plan — a measured ~2s job
    # per probe that regressed every signature-pipeline consumer by
    # 2-5x before this guard.  The .rdd probe below is only safe (and
    # only reached) for exchange-free inputs such as raw scans.
    root = df._jdf.queryExecution().analyzed()
    cls = root.getClass().getSimpleName()
    if cls == "RepartitionByExpression" or (
        cls == "Repartition" and root.shuffle()  # coalesce() is Repartition(shuffle=false)
    ):
        return df
    if df.rdd.getNumPartitions() < n:
        return df.repartition(n)
    return df


def load_dim(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a constant-size dimension with an explicit broadcast hint, so
    joins against it never shuffle the fact side regardless of stats."""
    from pyspark.sql import functions as F

    if name not in BROADCAST_TABLES:
        raise KeyError(f"{name!r} is not a constant-size dim ({sorted(BROADCAST_TABLES)})")
    return F.broadcast(load_table(spark, sf_dir, name))


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Create temp views for every table so ``spark.sql`` text works."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)


def _session_defaults(
    env: Mapping[str, str], n_cpus: int, phys_bytes: int
) -> tuple[int, str]:
    """(task slots, driver heap) of a local session on a host with
    ``n_cpus`` usable cores and ``phys_bytes`` of RAM: every usable core,
    and a quarter of RAM as heap, at least 1 GiB and at most 16 GiB.
    ``SPARK_GRAFT_CPUS`` / ``SPARK_GRAFT_DRIVER_MEM`` in ``env`` override
    either (deployment settings)."""
    heap_mb = min(16 * 1024, max(1024, phys_bytes // 4 // 2**20))
    return (
        int(env.get("SPARK_GRAFT_CPUS", n_cpus)),
        env.get("SPARK_GRAFT_DRIVER_MEM", f"{heap_mb}m"),
    )


def get_spark(app_name: str = "datafusion-functions-extra-spark", cpus: int | None = None) -> SparkSession:
    """Session tuned for the local test harness; the same knobs (AQE,
    shuffle partitions sized to parallelism, UTC, Arrow) are what we'd set
    cluster-side at 100 TB — only the numbers change.  Cores and heap
    default to what this host has (:func:`_session_defaults`).
    """
    default_cpus, driver_mem = _session_defaults(
        os.environ,
        len(os.sched_getaffinity(0)),
        os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES"),
    )
    if cpus is None:
        cpus = default_cpus
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet carries TIMESTAMP(NANOS); Spark has no nanos type —
        # read as long and derive microsecond timestamps in load_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # local-mode driver == the whole cluster: every task thread and
        # every broadcast/codegen/listener allocation share this one heap.
        # 8g survives any single query but ages badly over a ~113-query
        # bench session on 32 cores (old-gen fills -> full-GC storms add
        # 10-15s to whichever heavy LSH query runs late); the 16g cap is
        # what keeps that suite at steady state on a 128 GiB host.
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        # keep stdout parseable: the console progress bar interleaves
        # with bench.py's one-line-JSON contract (and any tool that
        # json.load's a captured log)
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
