"""Concurrency-safe staging of fingerprint-tagged catalog tables.

The engine keeps derived tables (bucketed joins, CBO-stats tables, the
q81 round-trip table) in a warehouse shared by every process on the
host, but the catalog itself is in-memory and per-session. The old
protocol — ``rmtree(location); saveAsTable(...)`` whenever the table
was missing from the CURRENT session's catalog — destroyed on-disk
bytes a concurrent session was still scanning: every fresh process
rebuilt every table, and pytest racing an oracle sweep produced the
q52/q81/CBO flake trio four rounds running (VERDICT r09 #6).

New protocol, ``state.atomic_stage`` extended to catalog tables:

1. ADOPT — if the shared location already holds a complete copy
   (_SUCCESS present), register an EXTERNAL table pointing at it.
   Registration is metadata-only; no bytes move, no reader breaks.
2. BUILD PRIVATELY — otherwise ``state.atomic_stage`` writes through a
   session-private external table at its private build dir (bucketed
   writes must go through saveAsTable, so the temp table exists just
   long enough to write; dropping an external table keeps its files)
   and renames the result onto the shared location. The loser of a
   concurrent build keeps the winner's bytes; an incomplete leftover
   at the location is cleared first.
3. REGISTER — the external table now points at immutable bytes.

Nothing in this path ever deletes a complete generation, so any number
of concurrent sessions converge on one copy and all stay green.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from nfl_predictions_spark.state import atomic_stage


def _ddl(df: DataFrame) -> str:
    return ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
    )


def _register(
    spark: SparkSession,
    qualified: str,
    loc: str,
    ddl: str,
    bucket: tuple[int, str, str | None] | None,
) -> None:
    clustered = ""
    if bucket is not None:
        n, key, sort = bucket
        sorted_by = f" SORTED BY (`{sort}`)" if sort else ""
        clustered = f" CLUSTERED BY (`{key}`){sorted_by} INTO {n} BUCKETS"
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {qualified} ({ddl}) USING parquet"
        f"{clustered} LOCATION '{loc}'"
    )


def ensure_catalog_table(
    spark: SparkSession,
    qualified: str,
    loc: str,
    build_df,
    bucket: tuple[int, str, str | None] | None = None,
) -> None:
    """Make ``qualified`` exist in this session's catalog, backed by a
    complete shared copy at ``loc`` — adopting the on-disk copy when
    present, else building and installing it with ``atomic_stage``.

    ``build_df`` is a zero-arg callable returning the DataFrame to
    persist (called lazily: adoption never runs the build plan).
    ``bucket`` = (n_buckets, key, sort_key_or_None) for bucketed
    tables; the registered spec must match the writer's so bucket
    pruning and exchange-free joins survive adoption."""
    if spark.catalog.tableExists(qualified):
        return
    if os.path.exists(os.path.join(loc, "_SUCCESS")):
        ddl = _ddl(spark.read.parquet(loc))
    else:
        df = build_df()
        ddl = _ddl(df)
        tmp_name = f"{qualified}_build_{os.getpid()}"

        def write(tgt: str) -> None:
            spark.sql(f"DROP TABLE IF EXISTS {tmp_name}")
            writer = df.write.mode("overwrite").option("path", tgt).format("parquet")
            if bucket is not None:
                n, key, sort = bucket
                writer = writer.bucketBy(n, key)
                if sort:
                    writer = writer.sortBy(sort)
            writer.saveAsTable(tmp_name)
            spark.sql(f"DROP TABLE IF EXISTS {tmp_name}")  # external: files stay

        atomic_stage(write, loc)
    _register(spark, qualified, loc, ddl, bucket)
