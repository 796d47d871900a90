"""Bounded-replay streaming harness (SURVEY.md §2.10 oracle protocol).

The reference is a Spark Streaming application: an unbounded keyed
event stream driven through windowed/stateful operators.  To make
those operators *testable against a batch oracle*, every streaming
query here replays a bounded file source (the events fixture) with
``Trigger.AvailableNow`` and collects a memory sink — a full replay
emits exactly the batch answer, so tumbling/sliding/session windows
and dedup hash-check against plain SQL.

Scale note: the memory sink is the *test* sink only.  The production
path for 100 TB streams is ``writeStream.foreachBatch`` into
partitioned parquet (see ``stream_foreachbatch_sink``) — state stays
bounded via watermarks, and the same transformation graph is reused
unchanged because everything below the sink is a plain DataFrame
lineage.

State-partition rule: every stream starts through ``run_available_now``,
which starts the query with ``spark.sql.shuffle.partitions`` =
min(session value, ``defaultParallelism``) and restores the caller's
value once ``start()`` returns or raises.  A stateful query runs one
state-store instance per shuffle partition for its whole checkpoint
lifetime (the count is written into the offset log at the first batch),
and streaming gets no AQE coalescing, so the batch default of 32
partitions on a 4-slot ``local[4]`` meant 32 instances per micro-batch,
each paying its own HDFS-backed delta commit.  The pin never raises the
count and never exceeds the task slots: tests (8 on ``local[4]``) run 4,
the benchmark's ``local[4]`` at 32 runs 4, a vanilla session (200) on
``local[8]`` runs 8, a cluster runs min(200, total cores).  Batch paths
keep their partition count and AQE coalescing.

Measured with perfbench's ``telemetry_stream`` workload (4 vCPUs; two
10k-event slices through the watermarked tumbling, session and dedup
replays plus a stateless stream-static join; ten seeds per side,
alternated): reference CPU seconds per pass, median 54.0 -> 22.0 s
(-59 %, lower on 10 of 10 pairs).  One traced run per side: 32 -> 4
state-store instances, state commit 7956 -> 538.5 ms, addBatch
3691 -> 529 ms, p50 micro-batch 4194.5 -> 834.5 ms.  The built-in
RocksDB provider with changelog checkpointing, tried on top of the
pin, was no faster (21.9 and 22.6 s per pass) and is not used.

Checkpoint-manager rule: when the default FS is ``file`` (every
checkpoint in the package is Spark's temp dir or a ``scratch_dir``
path, both unqualified, so it resolves there) and the caller has not
set ``spark.sql.streaming.checkpointFileManagerClass``,
``run_available_now`` also starts the query with Spark's
``FileSystemBasedCheckpointFileManager``, and unsets the key again
once ``start()`` returns or raises.  Without the native Hadoop
library, Hadoop's local file system forks a shell command for every
permission and link check; the default FileContext manager's checks
around each checkpoint rename run ``readlink`` and ``ls``, so every
offset, commit, source-log and state-delta write cost several process
spawns.  The FileSystem manager is Spark's own fallback: on ``file:``
it renames with ``FileSystem.rename``, an atomic ``rename(2)``, and it
keeps ChecksumFileSystem's ``.crc`` sidecars; Spark's checkpoint file
checksums stay at their default.  ``fs.file.impl`` stays the
checksummed local FS: ``RawLocalFileSystem`` would drop the ``.crc``
check.

Measured with the same workload (4 vCPUs, ten seeds per side,
alternated): reference CPU seconds per pass, median 21.8 -> 17.5 s
(-20 %, lower on 10 of 10 pairs), set-up 28.2 -> 26.5 s.  One traced
run per side: state commit 470.5 -> 38.5 ms, WAL commit 45 -> 13 ms,
offset commit 44.5 -> 15 ms, source latestOffset 44 -> 12.5 ms, p50
micro-batch 673.5 -> 520.5 ms.  An 8-batch tumbling replay of the
sf0.01 events forks about 3,200 processes with the FileContext manager
and about 700 with this one.  The rest is mostly one ``chmod`` per
created file and one per ``.crc``; only the native ``libhadoop``
removes those.
"""

from __future__ import annotations

import itertools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter

from powertrainstreaming_spark.scratch import scratch_dir
from powertrainstreaming_spark.session import ensure_session_confs
from powertrainstreaming_spark.sources.loaders import (
    events_ddl,
    shim_events_ts,
    table_path,
)

_MEMORY_SINK_COUNTER = itertools.count()

_CHECKPOINT_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"
_FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events fixture as a *streaming* DataFrame (file source).

    Same schema assertion and footer-probed ts shim as the batch loader,
    so streaming and batch twins see identical rows.
    """
    ensure_session_confs(spark)
    path = table_path(sf_dir, "events")
    # The file stream source needs a *directory*; pathGlobFilter picks
    # out the events file from the shared fixture dir.
    sdf = (
        spark.readStream.schema(events_ddl(path))
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return shim_events_ts(sdf, path)


def stage_events_nway(sf_dir: str, n_files: int, copies: int = 1) -> str:
    """Stage the events fixture as ``n_files`` row-slices in a scratch
    dir, for an N-micro-batch replay (``maxFilesPerTrigger=1``).

    Slices preserve fixture row order (the fixture is ts-sorted
    [MEASURED], so a row-order split models an in-order arrival stream
    and no row is ever behind the watermark).  The file stream source
    orders by (modification time, path); both are forced here — mtimes
    strictly increasing per slice, zero-padded names as tiebreak — so
    batch k is exactly slice k and the replay is deterministic.
    ``copies`` > 1 duplicates each slice in place: copy c of slice k
    arrives in the micro-batch immediately after copy c-1 of slice k
    (so a duplicate always lands one batch later, NOT a whole pass
    later) — the adjacent-batch duplicate stream for dedup tests.
    Staged dirs come from scratch_dir and are reaped at process exit.
    """
    import pyarrow.parquet as pq

    stage = scratch_dir(prefix=f"pts_nway{n_files}_")
    table = pq.read_table(table_path(sf_dir, "events"))
    base = 1_600_000_000  # any fixed epoch; only the ordering matters
    seq = 0
    for k in range(n_files):
        lo = k * table.num_rows // n_files
        hi = (k + 1) * table.num_rows // n_files
        for c in range(copies):
            path = f"{stage}/part-{k:04d}-copy{c}.parquet"
            pq.write_table(table.slice(lo, hi - lo), path)
            os.utime(path, (base + seq, base + seq))
            seq += 10
    return stage


def staged_events_stream(spark: SparkSession, stage_dir: str) -> DataFrame:
    """Streaming DF over a staged scratch dir, one file per micro-batch,
    with the same footer-probed schema + ts shim as events_stream."""
    ensure_session_confs(spark)
    sdf = (
        spark.readStream.schema(events_ddl(stage_dir))
        .option("maxFilesPerTrigger", "1")
        .parquet(stage_dir)
    )
    return shim_events_ts(sdf, stage_dir)


def _checkpoints_are_local(spark: SparkSession) -> bool:
    """Whether an unqualified checkpoint path (Spark's temp dir, a
    ``scratch_dir``) resolves to the local file system: the default FS
    of the Hadoop conf a stream resolves its checkpoint with."""
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    uri = spark._jvm.org.apache.hadoop.fs.FileSystem.getDefaultUri(conf)
    return uri.getScheme() == "file"


def run_available_now(spark: SparkSession, writer: DataStreamWriter) -> None:
    """Start ``writer`` with ``Trigger.AvailableNow`` and block until it
    has processed everything in its source; the one start path of every
    stream in the package.

    The query starts with at most one shuffle (= state) partition per
    task slot and, on a local checkpoint the caller has not given a
    manager class for, with the FileSystem-based checkpoint manager
    (module doc).  The stream clones the session conf inside
    ``start()``, so the caller's values (or their absence) are restored
    as soon as it returns, and also when it raises.

    The manager pin assumes the checkpoint path is unqualified, as every
    checkpoint in the package is: it reads the default FS, not a
    ``checkpointLocation`` option or session setting, so a qualified
    non-local checkpoint (``hdfs://``, ``s3a://``) under a ``file``
    default FS would still get the FileSystem-based manager.  Such a
    caller sets the manager class themselves.
    """
    shuffle_key = "spark.sql.shuffle.partitions"
    # the explicitly set values, None where the session never set the
    # key (``get`` with a default does not fall back to Spark's own)
    callers = {
        key: spark.conf.get(key, None)
        for key in (shuffle_key, _CHECKPOINT_MANAGER_KEY)
    }
    slots = spark.sparkContext.defaultParallelism
    pins = {shuffle_key: str(min(int(spark.conf.get(shuffle_key)), slots))}
    if callers[_CHECKPOINT_MANAGER_KEY] is None and _checkpoints_are_local(spark):
        pins[_CHECKPOINT_MANAGER_KEY] = _FS_CHECKPOINT_MANAGER
    try:
        for key, value in pins.items():
            spark.conf.set(key, value)
        query = writer.trigger(availableNow=True).start()
    finally:
        for key in pins:
            if callers[key] is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, callers[key])
    query.awaitTermination()


def run_bounded(
    transformed: DataFrame,
    output_mode: str = "complete",
) -> DataFrame:
    """Execute a streaming transformation to completion, return result.

    ``Trigger.AvailableNow`` processes everything currently in the
    source then stops; the memory sink table holds the final answer.
    """
    spark = transformed.sparkSession
    name = f"pts_mem_{next(_MEMORY_SINK_COUNTER)}"
    writer = transformed.writeStream.format("memory").queryName(name)
    run_available_now(spark, writer.outputMode(output_mode))
    return spark.table(name)
