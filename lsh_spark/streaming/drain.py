"""The AvailableNow drain every Structured Streaming query in lsh_spark
runs through.

Two sink shapes:

  * a memory sink (``run_available_now``) for plans the incremental
    engine runs natively — stateless maps, watermarked windows,
    stateful operators;
  * ``foreachBatch`` for plans whose per-batch step is a full batch
    operator (similarity join, persisted-index probe, partial
    aggregates).  ``drain`` is the gate form: it owns the sink and
    checkpoint directories and reads the micro-batch outputs back.

Scratch (sinks, checkpoints, staged inputs) lives under one root per
process, ``tempfile.mkdtemp(prefix="lsh_spark_stream_")`` under
``tempfile.gettempdir()`` (so ``TMPDIR`` moves it), made on first use
and removed at interpreter exit: two sessions running the same query
never share a directory, and nothing is left behind.
"""

from __future__ import annotations

import atexit
import glob
import os
import shutil
import tempfile
from contextlib import contextmanager
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

_ROOT: "str | None" = None


def scratch_root() -> str:
    """This process's streaming scratch directory (made on first use,
    removed at interpreter exit)."""
    global _ROOT
    if _ROOT is None:
        _ROOT = tempfile.mkdtemp(prefix="lsh_spark_stream_")
        atexit.register(shutil.rmtree, _ROOT, ignore_errors=True)
    return _ROOT


def scratch_dir(name: str) -> str:
    """``name`` under the scratch root, emptied (rmtree'd) before use."""
    path = os.path.join(scratch_root(), name)
    shutil.rmtree(path, ignore_errors=True)
    return path


def file_stream(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """File-source stream over ``<sf_dir>/<table>.parquet``.  The schema is
    the parquet schema ``load_table`` cached, so building the stream runs
    no job; every input is one file, so ``maxFilesPerTrigger=1`` drains
    it as one micro-batch."""
    from ..sources.io import _SCHEMA_CACHE, load_table

    load_table(spark, sf_dir, table)  # session confs + the cached schema
    return (
        spark.readStream
        .schema(_SCHEMA_CACHE[os.path.join(sf_dir, f"{table}.parquet")])
        .option("pathGlobFilter", f"{table}.parquet")
        .option("maxFilesPerTrigger", "1")
        .parquet(sf_dir)
    )


@contextmanager
def scoped_state_partitions(spark: SparkSession, n: int = 8):
    """Scoped ``spark.sql.shuffle.partitions`` override for a streaming
    drain (see ``run_available_now`` for the measurement); also used by
    the gate ``drain``, where 32 → 8 cut wall ~25-35% at sf0.1 (the
    per-micro-batch join input is a fraction of the corpus, so
    fewer-but-fuller partitions win).  Always restored — the override
    must never leak into the session's batch queries."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def run_available_now(stream_df: DataFrame, query_name: str,
                      output_mode: str = "complete",
                      state_partitions: int = 8):
    """Drain every available input with AvailableNow into a memory sink;
    returns the already-TERMINATED StreamingQuery (a further
    ``awaitTermination()`` is a no-op; read ``SELECT * FROM
    <query_name>``).  Use ``complete`` for windowed aggs (finite corpus
    → last windows never pass the watermark in append mode), ``update``
    for stateful operators.

    The drain runs under a scoped ``spark.sql.shuffle.partitions``
    override (restored afterwards): every stateful operator pays a
    state-store commit PER SHUFFLE PARTITION per micro-batch, which is
    pure fixed overhead at gate-corpus state sizes — measured at
    sf0.1/local[32], 32 → 8 partitions halves the streaming queries'
    wall (events_error_click_pairs 5.7 → 3.0 s, events_hourly 1.7 →
    1.0 s) with identical results (hash-pinned by the oracles; state
    partitioning never affects WHAT is emitted).  At real scale size
    ``state_partitions`` to state volume instead — the override is
    per-drain, not a session default.

    A leftover sink table from an earlier run in the same session is
    dropped first — append-mode memory sinks would otherwise accumulate
    across reruns."""
    spark = stream_df.sparkSession
    try:
        spark.catalog.dropTempView(query_name)
    except Exception:
        pass
    with scoped_state_partitions(spark, state_partitions):
        q = (
            stream_df.writeStream.format("memory")
            .queryName(query_name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return q


def _write_batch_idempotent(matches: DataFrame, out_dir: str,
                            batch_id: int) -> None:
    """foreachBatch provides at-least-once delivery: after a mid-run
    failure the restarted query REPLAYS the last uncommitted micro-batch,
    so a bare ``mode("append")`` would duplicate its rows.  Keying the
    write on ``batch_id`` (one overwritten partition directory per batch)
    makes the replay rewrite the same files instead — the standard
    idempotent-sink recipe.  Readers see ``batch_id`` as a discovered
    partition column; every consumer selects named columns."""
    matches.write.mode("overwrite").parquet(
        f"{out_dir}/batch_id={batch_id}")


def _start_batches(stream: DataFrame, step: Callable, write: Callable,
                   checkpoint: str, name: "str | None" = None):
    """Start ``stream`` as an AvailableNow ``foreachBatch`` query: every
    non-empty micro-batch goes through ``step`` and its result to
    ``write(result, batch_id)``.  Returns the started StreamingQuery."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        write(step(batch_df), batch_id)

    writer = (stream.writeStream.foreachBatch(process)
              .trigger(availableNow=True)
              .option("checkpointLocation", checkpoint))
    if name is not None:
        writer = writer.queryName(name)
    return writer.start()


def _read_back(spark: SparkSession, name: str, out_dir: str,
               schema: str) -> DataFrame:
    """The ``batch_id=`` partitions under ``out_dir`` with ``schema``'s
    columns; when no batch wrote, an empty frame of ``schema`` built as
    a literal projection (no Python-local relation)."""
    fields = StructType.fromDDL(schema).fields
    if not glob.glob(os.path.join(out_dir, "batch_id=*")):
        return spark.range(0).select(
            *[F.lit(None).cast(f.dataType).alias(f.name) for f in fields])
    out = spark.read.parquet(out_dir).select(*[f.name for f in fields])
    want = [(f.name, f.dataType.simpleString()) for f in fields]
    if out.dtypes != want:
        raise TypeError(
            f"drain {name}: the step wrote {out.dtypes}, declared {want}")
    return out


def drain(spark: SparkSession, name: str, sf_dir: str, stream: DataFrame,
          step: Callable, schema: "str | tuple[str, ...]"):
    """Run ``step`` over every micro-batch of ``stream`` as the
    AvailableNow query ``name`` and return what it wrote, read back.

    ``schema`` is the DDL of ``step``'s result; a step that returns a
    tuple of frames passes a tuple of DDLs and gets a tuple back, one
    sink directory per frame, the stream read once.  Sinks and the
    checkpoint live in a fresh ``<name>_<sf tag>`` directory under the
    scratch root; the drain runs under ``scoped_state_partitions``."""
    schemas = schema if isinstance(schema, tuple) else (schema,)
    base = scratch_dir(f"{name}_{os.path.basename(sf_dir.rstrip('/'))}")
    outs = [os.path.join(base, f"out{i}") for i in range(len(schemas))]

    def write(result, batch_id: int) -> None:
        frames = result if isinstance(result, tuple) else (result,)
        for frame, out in zip(frames, outs):
            _write_batch_idempotent(frame, out, batch_id)

    with scoped_state_partitions(spark):
        _start_batches(stream, step, write, os.path.join(base, "ckpt"),
                       name).awaitTermination()
    got = tuple(_read_back(spark, name, out, s)
                for out, s in zip(outs, schemas))
    return got if isinstance(schema, tuple) else got[0]
