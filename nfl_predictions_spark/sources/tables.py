"""Table sources over the driver TESTDATA parquet (TESTDATA.md).

Parquet is the canonical columnar format (the reference's only columnar
data is its saved-model parquet; its fact table is a headerless CSV it
loads fully into driver memory — reference ``assets/app_nfl.py:42-65``).
Here every table is a lazily-scanned parquet DataFrame so Catalyst can
push filters into row-group pruning and prune columns at the scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLE_NAMES = [
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
]


# Runtime scale tuning -------------------------------------------------------
#
# The engine cannot assume its own session factory: the round driver (and
# any host application embedding the query registry) builds a PLAIN
# SparkSession — 200 shuffle partitions, AQE off. Every conf the engine
# depends on must therefore be applied at runtime, and the single choke
# point every query passes through is ``table()``.

_TARGET_SHUFFLE_BYTES = 64 << 20  # post-shuffle partition target
_PARQUET_EXPANSION = 4  # columnar-compressed -> in-memory row estimate
_TUNED: set[tuple[str, str]] = set()


def _input_bytes(sf_dir: str) -> int:
    total = 0
    try:
        for f in os.listdir(sf_dir):
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(sf_dir, f))
    except OSError:
        pass
    return total


def tune_for_input(spark: SparkSession, sf_dir: str) -> None:
    """Size runtime shuffle behavior to the ACTUAL input scale, once per
    (session, input dir).

    - AQE on (runtime settable): coalesces post-shuffle partitions,
      splits skew — under the host's plain session this is the engine's
      only runtime re-planning hook.
    - ``spark.sql.shuffle.partitions`` from measured input bytes: a
      fixed 200 means 200 near-empty state/shuffle tasks at sf0.01 and
      far too few at 100 TB. Estimate in-memory size as bytes x4
      (parquet compression), target ~64 MB per post-shuffle partition,
      clamp to [2 x cores, SPARK_GRAFT_MAX_SHUFFLE (default 8192)] —
      at 100 TB the cap plus AQE's advisory coalescing governs, not the
      static count.
    - Broadcast threshold 64 MB: the engine broadcast()-hints its known
      dim joins; the raised threshold catches un-hinted ones.
    """
    key = (spark.sparkContext.applicationId, os.path.normpath(sf_dir))
    if key in _TUNED:
        return
    _TUNED.add(key)
    from nfl_predictions_spark.session import default_parallelism

    cpus = default_parallelism()
    cap = int(os.environ.get("SPARK_GRAFT_MAX_SHUFFLE", "8192"))
    est = _input_bytes(sf_dir) * _PARQUET_EXPANSION
    parts = max(2 * cpus, min(cap, est // _TARGET_SHUFFLE_BYTES + 1))
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 << 20))


#: session-scoped plan-handle memo: (appId, sf_dir, table) -> (fingerprint,
#: DataFrame). A DataFrame is an immutable lazy scan PLAN; reusing the
#: handle skips the ~80-140 ms DataFrameReader construction (file listing
#: + footer schema read over py4j) every query paid per table() call —
#: ~25 s across a full bench (optimization round 11). The data is still
#: read from the parquet bytes at every execution; nothing is precomputed.
#: The fingerprint is the source parquet's (st_size, st_mtime_ns) — the
#: state.fingerprint discipline (ADVICE r11 #1): a fixture regenerated at the
#: same path mid-session mints a NEW handle instead of serving the stale
#: file listing the first handle pinned; the superseded entry (and its
#: spread() decisions) is evicted.
_TABLE_HANDLES: dict = {}

#: spread() decisions for memoized table handles: (id(df), min_factor,
#: target) -> result DataFrame (again a lazy plan). Keyed on the CURRENT
#: parallelism target so a mid-session parallelism change naturally
#: misses (ADVICE r11 #5); entries for an evicted table handle are
#: dropped with it. See spread().
_SPREAD_MEMO: dict = {}


def _source_fingerprint(path: str) -> tuple:
    try:
        st = os.stat(path)
        return (st.st_size, st.st_mtime_ns)
    except OSError:
        return (-1, -1)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one TESTDATA table. Plain ``spark.read.parquet`` — no schema
    argument so the parquet footer schema is authoritative, no eager
    action, so downstream filters/projections push into the scan.

    Nanosecond-timestamp columns (Spark has no ns type) are read as long
    (``spark.sql.legacy.parquet.nanosAsLong``) and converted here to
    microsecond TIMESTAMP_NTZ by truncation — the same downcast DuckDB
    and Arrow apply, so oracles agree.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    tune_for_input(spark, sf_dir)
    src = os.path.join(sf_dir, f"{name}.parquet")
    key = (spark.sparkContext.applicationId, os.path.normpath(sf_dir), name)
    fp = _source_fingerprint(src)
    hit = _TABLE_HANDLES.get(key)
    if hit is not None and hit[0] == fp:
        return hit[1]
    if hit is not None:  # superseded: drop its spread() decisions too
        stale_id = id(hit[1])
        for k in [k for k in _SPREAD_MEMO if k[0] == stale_id]:
            del _SPREAD_MEMO[k]
    df = spark.read.parquet(src)
    if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
        df = df.withColumn(
            "ts",
            F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"),
        )
    _TABLE_HANDLES[key] = (fp, df)
    return df


def register_views(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> None:
    """Register the TESTDATA tables as temp views for ``spark.sql`` use."""
    for name in names or TABLE_NAMES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)


def spread(df: DataFrame, min_factor: int = 2) -> DataFrame:
    """Round-robin repartition a DataFrame to cluster parallelism — but
    ONLY when its current partitioning is deficient (fewer than
    cores/``min_factor`` partitions).

    Why: a parquet file is splittable only at row-group boundaries, so a
    single-row-group file scans as ONE task no matter what
    ``maxPartitionBytes`` says — and everything pipelined onto that scan
    (filters, partial aggregates, CPU-heavy expressions) serializes. At
    real scale inputs have many files/row groups and this helper is a
    no-op (the guard keeps the plan shuffle-free exactly when scan
    parallelism already matches the cluster); on few-row-group inputs it
    trades one small shuffle for full-width execution.

    The ``df.rdd.getNumPartitions()`` probe forces a physical-planning
    pass the first time it runs on a DataFrame (~60-120 ms); ``df.rdd``
    is then cached on the object, so on a memoized ``table()`` handle
    repeat probes cost only ~4 ms of py4j chatter. 49 of the 58 call
    sites pass such a handle, so the decision — a pure function of
    that handle and ``min_factor`` — is memoized alongside it (keyed
    on object identity; the handle itself is held by
    ``_TABLE_HANDLES``, so ids cannot be recycled). Derived frames
    still pay the probe: their partitioning genuinely varies."""
    from nfl_predictions_spark.session import default_parallelism

    target = default_parallelism()
    key = None
    if any(df is v[1] for v in _TABLE_HANDLES.values()):
        key = (id(df), min_factor, target)
        hit = _SPREAD_MEMO.get(key)
        if hit is not None:
            return hit
    out = df if df.rdd.getNumPartitions() * min_factor >= target else df.repartition(target)
    if key is not None:
        _SPREAD_MEMO[key] = out
    return out
