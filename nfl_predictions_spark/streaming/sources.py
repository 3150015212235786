"""Streaming sources (SURVEY.md §2A#23-24 re-expressed).

The reference's stream is a NiFi GenerateFlowFile ticking every 5 s
into a random Jython record simulator. The engine replaces that with
deterministic Structured Streaming sources:

- ``events_file_stream``: the TESTDATA events table re-materialized as
  N time-ordered parquet chunk files and read as a file stream with
  ``maxFilesPerTrigger=1`` — a replayable, deterministic multi-batch
  stream (each chunk = one micro-batch, arriving in event-time order,
  with a deterministic subset of rows duplicated into the next chunk to
  exercise stateful dedup).
- ``play_request_stream``: synthetic play-scoring requests as a file
  stream (SURVEY §7 risk 4: seeded columns instead of wall-clock
  randomness).
"""

from __future__ import annotations

import glob
import os
import shutil
from typing import Callable, Iterable, Iterator

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nfl_predictions_spark import state
from nfl_predictions_spark.sources.tables import table

#: Events whose id hits this modulus are re-sent in the following chunk
#: (late duplicate arrivals for the dedup query).
DUP_MODULUS = 97


def _events_ltz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events with an LTZ ts — Spark watermarks require TIMESTAMP, not
    TIMESTAMP_NTZ; session tz is UTC so wall-clock values are unchanged."""
    return table(spark, sf_dir, "events").withColumn("ts", F.col("ts").cast("timestamp"))


def _ranked(df: DataFrame, n_chunks: int, *order: str) -> DataFrame:
    """``df`` with a ``chunk`` column in [0, n_chunks): exact contiguous
    ranges of the ``order`` rank, so the split is deterministic."""
    n = df.count()
    w = Window.orderBy(*order)
    return df.withColumn(
        "chunk", ((F.row_number().over(w) - 1) * n_chunks / n).cast("long")
    )


def _split(ranked: DataFrame, n_chunks: int) -> Iterator[DataFrame]:
    for i in range(n_chunks):
        yield ranked.filter(F.col("chunk") == i).drop("chunk")


def _stage_chunks(
    sf_dir: str, kind: str, sources: tuple, parts: Callable[[], Iterable[DataFrame]]
) -> str:
    """Stage the frames ``parts()`` yields as ``in/chunkNNN.parquet``, one
    file each, and return the ``in`` dir. The file source reads files in
    (mtime, path) order, so each chunk gets an increasing mtime: arrival
    order is chunk order. Keyed on the sources' fingerprint and installed
    by ``state.atomic_stage``, so a reader sees every chunk or none, and
    ``parts`` runs only when the chunks are not staged yet."""
    out = state.staged_path(sf_dir, os.path.join("stream", kind), sources)

    def write(tgt: str) -> None:
        in_dir = os.path.join(tgt, "in")
        tmpout = os.path.join(tgt, "tmpout")
        os.makedirs(in_dir)
        for i, part in enumerate(parts()):
            part.coalesce(1).write.mode("overwrite").parquet(tmpout)
            dst = os.path.join(in_dir, f"chunk{i:03d}.parquet")
            shutil.move(glob.glob(os.path.join(tmpout, "part-*.parquet"))[0], dst)
            os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
        shutil.rmtree(tmpout, ignore_errors=True)
        open(os.path.join(tgt, "_SUCCESS"), "w").close()

    state.atomic_stage(write, out)
    return os.path.join(out, "in")


def stage_event_chunks(
    spark: SparkSession, sf_dir: str, n_chunks: int = 4, with_dups: bool = True
) -> str:
    """Write events as n time-ordered chunk files (ties broken by id);
    returns the input dir. With ``with_dups``, events whose id hits
    ``DUP_MODULUS`` are re-sent in the following chunk."""

    def parts():
        ranked = _ranked(_events_ltz(spark, sf_dir), n_chunks, "ts", "event_id")
        for i, part in enumerate(_split(ranked, n_chunks)):
            if with_dups and i > 0:
                prev = ranked.filter(
                    (F.col("chunk") == i - 1) & (F.col("event_id") % DUP_MODULUS == 0)
                ).drop("chunk")
                part = part.unionByName(prev)
            yield part

    return _stage_chunks(
        sf_dir, f"events_c{n_chunks}_d{int(with_dups)}", ("events",), parts
    )


def events_file_stream(
    spark: SparkSession,
    sf_dir: str,
    n_chunks: int = 4,
    with_dups: bool = True,
    files_per_trigger: int = 1,
) -> DataFrame:
    """``files_per_trigger`` sets the replay epoch size (how many chunk
    files land in one micro-batch). The staged chunks and their arrival
    order are unchanged; a coarser epoch only cuts the replay harness's
    fixed per-micro-batch cost (planning + state-store checkpoint round
    trip). Callers whose declared semantics NEED one-chunk epochs (late
    duplicates arriving in a LATER batch, per-batch watermark advance)
    keep the default 1."""
    in_dir = stage_event_chunks(spark, sf_dir, n_chunks, with_dups)
    schema = _events_ltz(spark, sf_dir).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(files_per_trigger))
        .parquet(in_dir)
    )


def stage_document_chunks(spark: SparkSession, sf_dir: str, n_chunks: int = 4) -> str:
    """Documents as n doc_id-ordered chunk files — the corpus-ingest
    stream: arrival order == doc_id order, so "first seen wins" dedup
    equals "lowest doc_id wins"."""

    def parts():
        docs = table(spark, sf_dir, "documents")
        return _split(_ranked(docs, n_chunks, "doc_id"), n_chunks)

    return _stage_chunks(sf_dir, f"docs_c{n_chunks}", ("documents",), parts)


def stage_recrawl_chunks(
    spark: SparkSession, sf_dir: str, n_chunks: int = 4
) -> str:
    """The q327/q332 derived re-crawl batch as n batch_id-ordered chunk
    files, each row carrying its chunk index — the incremental-dedup
    ingest stream. The chunk split formula matches the q332 oracle's
    chunkmap CTE exactly."""
    from nfl_predictions_spark.operators.dedup import recrawl_batch

    def parts():
        batch = recrawl_batch(table(spark, sf_dir, "documents"))
        ranked = _ranked(batch, n_chunks, "batch_id")
        return (ranked.filter(F.col("chunk") == i) for i in range(n_chunks))

    return _stage_chunks(sf_dir, f"recrawl_c{n_chunks}", ("documents",), parts)


def recrawl_file_stream(
    spark: SparkSession,
    sf_dir: str,
    n_chunks: int = 4,
    files_per_trigger: int = 1,
) -> DataFrame:
    in_dir = stage_recrawl_chunks(spark, sf_dir, n_chunks)
    schema = "batch_id long, text string, chunk long"
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(files_per_trigger))
        .parquet(in_dir)
    )


def documents_file_stream(
    spark: SparkSession, sf_dir: str, n_chunks: int = 4
) -> DataFrame:
    in_dir = stage_document_chunks(spark, sf_dir, n_chunks)
    schema = table(spark, sf_dir, "documents").schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir)
    )


def stage_vector_chunks(
    spark: SparkSession, sf_dir: str, n_chunks: int = 4
) -> str:
    """The q337 absorbed vector batch (element-reversed embeddings in
    the disjoint +_ANN_OFF id space) as n vec_id-ordered chunk files —
    the vector-DB ingest stream."""
    from nfl_predictions_spark.operators.similarity import _ANN_OFF
    from nfl_predictions_spark.sources.tables import spread

    def parts():
        df = spread(table(spark, sf_dir, "embeddings")).select(
            (F.col("vec_id") + _ANN_OFF).alias("vec_id"),
            F.reverse(F.col("embedding").cast("array<double>")).alias("emb"),
        )
        return _split(_ranked(df, n_chunks, "vec_id"), n_chunks)

    return _stage_chunks(sf_dir, f"vecingest_c{n_chunks}", ("embeddings",), parts)


def vector_file_stream(
    spark: SparkSession,
    sf_dir: str,
    n_chunks: int = 4,
    files_per_trigger: int = 1,
) -> DataFrame:
    in_dir = stage_vector_chunks(spark, sf_dir, n_chunks)
    schema = "vec_id long, emb array<double>"
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(files_per_trigger))
        .parquet(in_dir)
    )
