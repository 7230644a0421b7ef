"""Deterministic streaming replay harness (SURVEY §5.2 item 3).

Structured Streaming's file source processes files in modification-time
order, so we materialize the ``events`` fixture as N chunk files with
explicitly increasing mtimes and read them back with
``maxFilesPerTrigger=1`` + ``Trigger.AvailableNow`` — every run yields the
identical microbatch sequence (never wall-clock-dependent, per SURVEY §7
"deterministic replay via foreachBatch, never wall-clock").

Variants plant scenario-specific rows:

* ``ordered`` — events sorted by (ts, event_id), chunked contiguously: the
  normal in-order arrival stream.
* ``dups``    — every 10th event_id is duplicated inside its chunk
  (arrives twice within any reasonable watermark) — exercises T5.
* ``late``    — events with event_id % 97 == 0 are withheld from their
  ts-ordered chunk and appended to the final chunk, so they arrive days
  late — exercises T4 watermark drops.
* ``bad``     — props of event_id % 101 == 0 corrupted to ``'{bad'`` —
  exercises the T8 dead-letter split.

Chunking is distributed: rows get an exact global position via
range-repartitioning on (ts, event_id) + a per-range prefix-sum of the
(tiny) range counts — the same two-level offset-stitch as
``pipeline_pack_sequences`` — and are tagged with their position-quartile
chunk.  One Spark job then writes every chunk, partitioned by that tag, and
each chunk's single file is renamed into the flat directory the
mtime-ordered file source reads.  Only per-range COUNTS ever reach the
driver.  Production streams read Kafka/files directly; every operator in
``ops.py`` is plain Structured Streaming and never touches this module's
internals.
"""

from __future__ import annotations

import functools
import glob
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load

N_CHUNKS = 4

# ranges for the distributed global rank; sized to the fixture — a production
# replay of a big topic raises this to its shuffle width
RANK_PARTS = 8

EVENTS_SCHEMA = (
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
    "event_type STRING, value DOUBLE, props STRING"
)

_SCRATCH = os.path.join(os.path.dirname(__file__), "..", "..", ".scratch")


def scratch_dir(kind: str) -> str:
    d = os.path.abspath(os.path.join(_SCRATCH, kind, uuid.uuid4().hex))
    os.makedirs(d, exist_ok=True)
    return d


def sweep_scratch() -> None:
    """Delete everything under ``.scratch`` — called by the HARNESSES
    (bench startup, the pytest session fixture) at the start of a run,
    never by query builders.  Scratch is strictly per-process state
    (uuid-keyed dirs; the in-process caches that point into it are empty
    at process start), but one bench run leaves hundreds of drained
    streaming checkpoints and replay fixtures behind (~300-500 MB
    measured), so without a start-of-run sweep a multi-run round grows
    scratch monotonically.  Assumes no CONCURRENT harness run is using
    scratch (the driver and this repo's protocols run them
    sequentially).

    ``pb_vendor`` is exempt: the provisioned protobuf runtime zip
    (pb_runtime._scratch_zip_path) is durable cross-run state that the
    transformWithState gate may have already handed to the JVM's worker
    PYTHONPATH by the time a harness sweeps — deleting it mid-session
    crashes the streaming Python runner (observed: XXKST worker crash)."""
    import shutil

    if os.path.isdir(_SCRATCH):
        for entry in os.listdir(_SCRATCH):
            if entry == "pb_vendor":
                continue
            shutil.rmtree(os.path.join(_SCRATCH, entry), ignore_errors=True)


_REPLAY_CACHE: dict[tuple[str, str], str] = {}


def _with_global_pos(ev: DataFrame) -> tuple[DataFrame, int, DataFrame]:
    """Exact 0-based global position under the (ts, event_id) total order,
    computed distributed: range-repartition so range i's keys all precede
    range i+1's, count each range (the only rows that reach the driver —
    RANK_PARTS integers), prefix-sum the counts into per-range offsets, and
    add a range-local row_number.  One narrow metadata collect; the event
    rows themselves never leave executors.  Also returns the persisted
    partitioned frame so the caller can unpersist it once the durable chunk
    files are written (the cache backs the count pass and the one chunk
    write, and has no use afterwards)."""
    part = ev.repartitionByRange(RANK_PARTS, "ts", "event_id").withColumn(
        "__pid", F.spark_partition_id()
    )
    part = part.persist()
    counts = {
        r["__pid"]: r["n"]
        for r in part.groupBy("__pid").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    offsets, acc = [], 0
    for pid in range(RANK_PARTS):
        offsets.append((pid, acc))
        acc += counts.get(pid, 0)
    off = F.broadcast(
        ev.sparkSession.createDataFrame(offsets, "__pid INT, __off BIGINT")
    )
    w = Window.partitionBy("__pid").orderBy("ts", "event_id")
    ranked = part.join(off, "__pid").withColumn(
        "__pos", F.row_number().over(w) - 1 + F.col("__off")
    )
    return ranked, acc, part


_BASE_MTIME = 1_600_000_000


def _write_chunks(df: DataFrame, directory: str) -> None:
    """Write every chunk of a replay in ONE job: ``df`` carries the events
    columns plus ``__chunk`` in [0, N_CHUNKS), and chunk i lands as the
    single sorted file ``chunk_00i.parquet`` (the mtime-ordered stream
    source reads files, not directories) with mtime ``_BASE_MTIME + i``.

    The explicit partition count is never coalesced by AQE, and hashing on
    ``__chunk`` sends all of a chunk's rows to one task, so each chunk is one
    part file even when two chunks share a task (the sort keeps each task's
    chunks contiguous).  ``maxRecordsPerFile`` is pinned to 0 so a session
    setting cannot split a chunk.  A chunk with no rows gets an empty file
    with the events schema."""
    tmp = os.path.join(directory, "__tmp")
    df.repartition(N_CHUNKS, "__chunk").sortWithinPartitions(
        "__chunk", "ts", "event_id"
    ).write.option("maxRecordsPerFile", 0).partitionBy("__chunk").parquet(tmp)
    for i in range(N_CHUNKS):
        parts = glob.glob(os.path.join(tmp, f"__chunk={i}", "part-*.parquet"))
        if not parts:
            # no row landed in chunk i: write its schema alone
            empty = os.path.join(tmp, f"empty_{i}")
            df.drop("__chunk").limit(0).coalesce(1).write.parquet(empty)
            parts = glob.glob(os.path.join(empty, "part-*.parquet"))
        (part_file,) = parts
        path = os.path.join(directory, f"chunk_{i:03d}.parquet")
        os.rename(part_file, path)
        os.utime(path, (_BASE_MTIME + i, _BASE_MTIME + i))
    shutil.rmtree(tmp)


def build_replay(spark: SparkSession, sf_dir: str, variant: str = "ordered") -> str:
    """Materialize the events fixture as N_CHUNKS mtime-ordered parquet files;
    returns the directory to point ``readStream`` at.  Cached per
    (sf_dir, variant) within the process — the chunk content is a pure
    function of both (chunk i = rows at global positions
    [round(i*n/4), round((i+1)*n/4)) of the (ts, event_id) order).

    Only "ordered" pays the global-rank pipeline; the scenario variants are
    DERIVED from the ordered chunk files, so a variant's consumer query never
    re-runs the rank over the events table.  The derivations commute with
    the rank because none of them touches the (ts, event_id) sort keys:
    "bad" rewrites props in place, "dups" duplicates rows inside their own
    chunk, "late" moves whole rows between chunks."""
    cached = _REPLAY_CACHE.get((sf_dir, variant))
    if cached is not None and os.path.isdir(cached):
        return cached
    if variant not in ("ordered", "dups", "late", "bad"):
        raise ValueError(f"unknown replay variant {variant!r}")

    if variant != "ordered":
        out = _derive_variant(spark, build_replay(spark, sf_dir, "ordered"), variant)
        _REPLAY_CACHE[(sf_dir, variant)] = out
        return out

    ev = load(spark, sf_dir, "events")
    cols = ev.columns
    ranked, n, cached_part = _with_global_pos(ev)
    bounds = [round(i * n / N_CHUNKS) for i in range(N_CHUNKS + 1)]
    chunk = None
    for i in range(N_CHUNKS):
        cond = F.col("__pos") < bounds[i + 1]
        chunk = F.when(cond, i) if chunk is None else chunk.when(cond, i)
    ranked = ranked.select(*cols, chunk.otherwise(N_CHUNKS - 1).alias("__chunk"))

    out = scratch_dir("replay-ordered")
    _write_chunks(ranked, out)
    cached_part.unpersist()  # chunk files are the durable artifact
    _REPLAY_CACHE[(sf_dir, "ordered")] = out
    return out


def _derive_variant(spark: SparkSession, ordered_dir: str, variant: str) -> str:
    """Rewrite the ordered chunk files into a scenario variant: read each
    chunk tagged with its index, apply the variant as column expressions,
    and write all chunks in one job — no rank, no events-table scan."""
    out = scratch_dir(f"replay-{variant}")
    df = functools.reduce(
        DataFrame.union,
        [
            spark.read.parquet(
                os.path.join(ordered_dir, f"chunk_{i:03d}.parquet")
            ).withColumn("__chunk", F.lit(i))
            for i in range(N_CHUNKS)
        ],
    )
    eid = F.col("event_id")
    if variant == "bad":
        df = df.withColumn(
            "props", F.when(eid % 101 == 0, F.lit("{bad")).otherwise(F.col("props"))
        )
    elif variant == "dups":
        # every 10th event arrives twice within its own chunk
        df = df.union(df.filter(eid % 10 == 0))
    elif variant == "late":
        # withheld from their ts-ordered chunk and appended to the final
        # chunk, days late
        df = df.withColumn(
            "__chunk", F.when(eid % 97 == 0, N_CHUNKS - 1).otherwise(F.col("__chunk"))
        )
    _write_chunks(df, out)
    return out


def read_events_stream(
    spark: SparkSession, replay_path: str, files_per_trigger: int | None = 1
) -> DataFrame:
    """``files_per_trigger=1`` (default) forces one microbatch per replay
    chunk — required wherever results depend on batch boundaries (watermark
    advancement, dropDuplicatesWithinWatermark eviction, stateful updates,
    per-batch dead-letter writes).  Batch-count-insensitive ops (complete-mode
    window aggs, stateless stream-static joins) pass ``None`` to let
    Trigger.AvailableNow drain all files in one batch — the scale posture:
    size microbatches to amortize per-batch overhead, don't fix them at one
    file."""
    # oracle-parity for date_format output is timezone-sensitive; pin UTC
    # even when the host session (e.g. the driver's) is configured otherwise
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    r = spark.readStream.schema(EVENTS_SCHEMA)
    if files_per_trigger is not None:
        r = r.option("maxFilesPerTrigger", files_per_trigger)
    return r.parquet(replay_path)


STREAM_SHUFFLE_PARTITIONS = 8


class stream_shuffle:
    """Scope ``spark.sql.shuffle.partitions`` down for a streaming drain.

    The shuffle-partition conf IS the streaming state sizing knob: it fixes
    the number of state-store instances at checkpoint creation, and every
    microbatch pays per-store open/commit overhead.  The fixture's
    microbatches are small, so 8 stores halve drain time vs 32 (measured:
    stream-stream join 13.6s -> 5.1s); a production job sizes this to its
    per-batch volume before first start — the same knob, a bigger number.
    Batch queries are unaffected (conf restored on exit; AQE coalesces
    batch shuffles anyway).

    ``parts`` overrides the default for queries whose state keyspace is
    tiny (e.g. ~180 hourly windows in the watermark drop): every microbatch
    pays per-store open/commit, so 4 stores beat 8 when state rows number
    in the hundreds (measured ~15% drain time)."""

    def __init__(self, spark: SparkSession, parts: int = STREAM_SHUFFLE_PARTITIONS):
        self.spark = spark
        self.parts = parts

    def __enter__(self):
        self.old = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set("spark.sql.shuffle.partitions", str(self.parts))

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self.old)
        return False


def run_to_table(
    sdf: DataFrame,
    name: str,
    output_mode: str,
    shuffle_partitions: int = STREAM_SHUFFLE_PARTITIONS,
) -> DataFrame:
    """Drain the stream with Trigger.AvailableNow into a memory sink and
    return the sink table (driver collects it — test-scale only; production
    sinks are parquet/Kafka via the same writeStream call)."""
    spark = sdf.sparkSession
    with stream_shuffle(spark, shuffle_partitions):
        q = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", scratch_dir("ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)
