"""Bronze → silver streaming pipeline, Spark-first.

Reference semantics (``fire_risk_processor.py``): Kafka JSON →
from_json(schema) → flatten → processed_at → append to silver with
checkpointing (T1-T3). The reference *claims* watermark-based
deduplication (README.MD:70) but implements none (SURVEY.md §4.3 —
replays re-append); this module closes T4/T5 with
``withWatermark + dropDuplicates`` so replayed events are dropped
and silver is effectively exactly-once.

Tests drive these with file sources + ``availableNow`` triggers (no
Kafka needed); the Kafka wiring lives in sources/kafka_io.py and is
the same DataFrame in, DataFrame out.

Drain mechanics live here once: :func:`drain` is the single
availableNow start + await, :func:`land_partials` owns the
epoch-keyed ``batch=<id>`` partial layout every incremental twin
lands, and :func:`scratch` hands out temp dirs under one per-process
root that is removed at interpreter exit.

Scale notes: stateful dedup keeps one state row per key inside the
watermark horizon — key the dedup on a compact natural key and keep
the watermark tight (10 min here). Windowed aggs emit finalized
windows on watermark advance (append mode) — no unbounded state.
"""

from __future__ import annotations

import atexit
import contextlib
import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery
from pyspark.sql.types import StructType


def read_file_stream(
    spark: SparkSession,
    path: str,
    schema: str | StructType,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-based streaming source (the hermetic stand-in for Kafka
    S1 — same unbounded-append semantics, one file ≈ one batch).
    ``max_files_per_trigger`` throttles ingestion so an availableNow
    drain runs MULTIPLE micro-batches — the back-pressure knob, and
    the hermetic way to exercise cross-batch state."""
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def parse_json_envelope(raw: DataFrame, value_col: str, schema: str) -> DataFrame:
    """S2 — cast value to string, from_json with explicit schema,
    flatten (fire_risk_processor.py:56-57). Malformed rows become
    all-NULL structs (PERMISSIVE), preserved as-built."""
    return raw.withColumn(
        "data", F.from_json(F.col(value_col).cast("string"), schema)
    ).select("data.*")


def to_silver(
    events: DataFrame,
    ts_col: str,
    dedup_keys: list[str],
    watermark: str = "10 minutes",
    with_processed_at: bool = True,
) -> DataFrame:
    """Cleansed silver stream: event-time watermark + keyed dedup
    (T4+T5, the gap the reference claims but doesn't implement) +
    processing-time audit column (fire_risk_processor.py:65-66)."""
    out = events.withWatermark(ts_col, watermark).dropDuplicates(dedup_keys)
    if with_processed_at:
        out = out.withColumn("processed_at", F.current_timestamp())
    return out


def windowed_counts(
    events: DataFrame,
    ts_col: str,
    window: str = "1 hour",
    group_cols: list[str] | None = None,
    watermark: str | None = "10 minutes",
    slide: str | None = None,
) -> DataFrame:
    """T6 — tumbling (or, with ``slide``, overlapping sliding)
    event-time window aggregation. A sliding window assigns each
    event to window/slide windows — state and shuffle grow by that
    factor, which is why the slide should not be much finer than the
    window at scale."""
    src = events.withWatermark(ts_col, watermark) if watermark else events
    win = (
        F.window(F.col(ts_col), window, slide)
        if slide
        else F.window(F.col(ts_col), window)
    )
    keys = [win.alias("win")] + [F.col(c) for c in (group_cols or [])]
    return src.groupBy(*keys).agg(F.count(F.lit(1)).alias("n"))


_SCRATCH_ROOT: tuple[int, str] | None = None  # (owning pid, root dir)


def _remove_scratch_root() -> None:
    if _SCRATCH_ROOT is not None and _SCRATCH_ROOT[0] == os.getpid():
        shutil.rmtree(_SCRATCH_ROOT[1], ignore_errors=True)


def scratch(tag: str = "scratch") -> str:
    """A fresh, empty directory for sinks, checkpoints and staged
    inputs. All of them live under ONE root per process
    (``<tmp>/eco_pulse_<random>``), created on first use and removed
    by an ``atexit`` hook, so a long test run or bench session leaves
    nothing behind. A forked child never removes its parent's root."""
    global _SCRATCH_ROOT
    if _SCRATCH_ROOT is None or _SCRATCH_ROOT[0] != os.getpid():
        _SCRATCH_ROOT = (os.getpid(), tempfile.mkdtemp(prefix="eco_pulse_"))
        atexit.register(_remove_scratch_root)
    return tempfile.mkdtemp(prefix=f"{tag}_", dir=_SCRATCH_ROOT[1])


def drain(
    writer: DataStreamWriter | DataFrame,
    each_batch: Callable[[DataFrame, int], None] | None = None,
    checkpoint: str | None = None,
) -> StreamingQuery:
    """Run a streaming write to completion: one ``availableNow``
    start, then await. ``writer`` is a configured DataStreamWriter,
    or a streaming DataFrame whose micro-batches go to
    ``each_batch(batch_df, batch_id)`` via foreachBatch, checkpointed
    under ``checkpoint`` (a fresh scratch dir by default). Returns
    the finished query, so callers can read ``recentProgress`` /
    ``lastProgress``."""
    if each_batch is not None:
        writer = writer.writeStream.foreachBatch(each_batch).option(
            "checkpointLocation", checkpoint or scratch("ckpt")
        )
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()
    return q


def land_partials(
    stream: DataFrame,
    partial: Callable[[DataFrame], DataFrame | dict[str, DataFrame] | None],
    root: str | None = None,
) -> DataFrame | dict[str, DataFrame]:
    """Drain ``stream`` landing one partial per micro-batch — the
    per-batch amortised index maintenance every incremental twin
    shares. ``partial(batch_df)`` returns a DataFrame, written to
    ``root/batch=<id>``, or a dict name → DataFrame, written in dict
    order to ``root/<name>/batch=<id>`` (None lands nothing). Writes
    overwrite, so a replayed epoch rewrites its own directory instead
    of duplicating it; the checkpoint lives at ``root/_checkpoint``,
    so re-draining the same source into the same root is a no-op.
    Returns the ``batch=*`` reader, or a dict of readers by name."""
    root = root or scratch("partials")

    def land(batch_df: DataFrame, batch_id: int) -> None:
        out = partial(batch_df)
        if isinstance(out, DataFrame):
            out = {"": out}
        for name, df in (out or {}).items():
            df.write.mode("overwrite").parquet(
                os.path.join(root, name, f"batch={batch_id}")
            )

    drain(stream, land, os.path.join(root, "_checkpoint"))
    read = stream.sparkSession.read.parquet
    names = sorted(
        d for d in os.listdir(root)
        if d != "_checkpoint" and not d.startswith("batch=")
    )
    if not names:
        return read(os.path.join(root, "batch=*"))
    return {n: read(os.path.join(root, n, "batch=*")) for n in names}


@contextlib.contextmanager
def _scoped_state_partitions(spark, n: int | None):
    """Pin ``spark.sql.shuffle.partitions`` while a streaming query
    STARTS (the stateful-operator partition count is captured into
    the checkpoint at first start and kept for the query's life).

    Streaming state partitioning is a first-class sizing decision,
    separate from the batch shuffle default: every state partition
    pays fixed per-batch costs (state store open, delta-file commit,
    snapshot maintenance, one sink file), so a small-state stream
    under the 32-partition batch default spends more time committing
    32 near-empty stores than deduplicating (profiled: the t5 drain
    at sf0.1 drops 2.5 s → 1.2 s at 8 partitions — the round-2
    bench-regression root cause). Size it like a production job: aim
    for state partitions that hold ~10⁵-10⁶ state rows each, scaling
    UP for 100 TB streams, not inheriting whatever batch used."""
    if n is None:
        yield
        return
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def run_to_memory(
    df: DataFrame,
    query_name: str,
    output_mode: str = "complete",
    state_partitions: int | None = None,
) -> DataFrame:
    """Drain a streaming frame synchronously into the memory sink and
    return the result table (hermetic test harness; the guide's
    processAllAvailable pattern)."""
    with _scoped_state_partitions(df.sparkSession, state_partitions):
        drain(
            df.writeStream.format("memory")
            .queryName(query_name)
            .outputMode(output_mode)
        )
    return df.sparkSession.table(query_name)


def run_to_parquet(
    df: DataFrame,
    path: str,
    checkpoint: str | None = None,
    output_mode: str = "append",
    state_partitions: int | None = None,
) -> StreamingQuery:
    """S3 analogue — checkpointed append file sink (Delta in the
    reference, parquet in this image; sources/delta_io.py upgrades
    when delta-spark is importable). Re-running with the same
    checkpoint is a no-op for already-committed source files —
    exactly-once to the sink (T2). ``state_partitions`` sizes the
    stateful-operator partitioning (see _scoped_state_partitions).
    Without ``checkpoint`` the query checkpoints to a fresh scratch
    dir. Returns the finished query."""
    with _scoped_state_partitions(df.sparkSession, state_partitions):
        return drain(
            df.writeStream.format("parquet")
            .option("path", path)
            .option("checkpointLocation", checkpoint or scratch("ckpt"))
            .outputMode(output_mode)
        )


def chained_window_rollup(
    events: DataFrame,
    ts_col: str,
    small: str = "10 minutes",
    large: str = "1 hour",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Two CHAINED stateful window aggregations in one streaming
    query: fine-grained tumbling counts, re-aggregated into coarse
    windows (``window(window_col, large)`` over the first window
    struct) — the Spark-4 multiple-stateful-operators surface
    (watermark propagates through the first aggregation).

    The pre-aggregation is the scale lever: the second stage's state
    holds one row per SMALL window, not per event, so a 100 TB
    stream rolls up through a few-KB second stage. Append-only
    emission: a window row is final once the watermark passes its
    end — the downstream sink never sees retractions.
    """
    fine = (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), small).alias("w_small"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        fine.groupBy(F.window(F.col("w_small"), large).alias("w_large"))
        .agg(F.sum("n").alias("n"))
    )
