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


#: session-scoped plan-handle memo: (appId, sf_dir, table) -> (fingerprint,
#: DataFrame). A DataFrame is an immutable lazy scan PLAN; reusing the
#: handle skips the ~80-140 ms DataFrameReader construction (file listing
#: + footer schema read over py4j) every query paid per table() call —
#: ~25 s across a full bench (optimization round 11). The data is still
#: read from the parquet bytes at every execution; nothing is precomputed.
#: The fingerprint is the source parquet's (st_size, st_mtime_ns) — the
#: state.fingerprint discipline (ADVICE r11 #1): a fixture regenerated at the
#: same path mid-session mints a NEW handle instead of serving the stale
#: file listing the first handle pinned; the superseded entry is evicted.
_TABLE_HANDLES: dict = {}


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
    (``spark.sql.legacy.parquet.nanosAsLong``, set by ``session.get_spark``)
    and converted here to microsecond TIMESTAMP_NTZ by truncation — the
    same downcast DuckDB and Arrow apply, so oracles agree.
    """
    src = os.path.join(sf_dir, f"{name}.parquet")
    key = (spark.sparkContext.applicationId, os.path.normpath(sf_dir), name)
    fp = _source_fingerprint(src)
    hit = _TABLE_HANDLES.get(key)
    if hit is not None and hit[0] == fp:
        return hit[1]
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
    repeat probes cost only ~4 ms of py4j chatter."""
    from nfl_predictions_spark.session import default_parallelism

    target = default_parallelism()
    return df if df.rdd.getNumPartitions() * min_factor >= target else df.repartition(target)
