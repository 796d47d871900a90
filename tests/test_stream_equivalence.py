"""Streaming ↔ batch equivalence (SURVEY.md §5.4 layer 4).

Each §2.10 operator's bounded-stream output must equal its plain-batch
twin BEFORE the oracle ever sees it — this is the test that catches
watermark/emit-semantics drift independently of the DuckDB gate.
"""

from __future__ import annotations

from powertrainstreaming_spark.operators.streaming import (
    sessionize_batch,
    stream_session_window,
    stream_tumbling_agg,
    tumbling_batch,
)
from powertrainstreaming_spark.testing import canonical_hash

SF = "/root/testdata/sf0.001"


def _hash_df(df):
    return canonical_hash([tuple(r) for r in df.collect()], list(df.columns))


def test_tumbling_stream_equals_batch(spark):
    s = stream_tumbling_agg(spark, SF)
    b = tumbling_batch(spark, SF)
    assert sorted(s.columns) == sorted(b.columns)
    assert _hash_df(s) == _hash_df(b)


def test_session_stream_equals_batch(spark):
    s = stream_session_window(spark, SF)
    b = sessionize_batch(spark, SF)
    # Batch twin computes the same 5 columns; align the order.
    b = b.select(*s.columns)
    assert _hash_df(s) == _hash_df(b)


import contextlib
import json
import os
import threading

import pytest
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from powertrainstreaming_spark.operators.streaming import (
    collapse_running_sink,
    dedup_transform,
    session_transform,
    sliding_transform,
    stateful_running_transform,
    stateful_timeout_transform,
    tumbling_transform,
    watermark_late_transform,
)
from powertrainstreaming_spark.sources.loaders import (
    events_ddl,
    shim_events_ts,
    table_path,
)
from powertrainstreaming_spark.streaming.harness import (
    _backlog_partitions,
    _checkpoints_are_local,
    _file_backlog_bytes,
    events_stream,
    run_available_now,
    run_bounded,
    stage_events_nway,
    staged_events_stream,
)

# (transform, output_mode, copies, sink-collapse) — every stateful §2.10
# shape.  copies=2 for dedup so later micro-batches really carry
# duplicates of earlier ones.
_NWAY_CASES = {
    "tumbling": (tumbling_transform, "complete", 1, None),
    "sliding": (sliding_transform, "complete", 1, None),
    "session": (session_transform, "complete", 1, None),
    "watermark_late": (watermark_late_transform, "append", 1, None),
    "dedup": (dedup_transform, "append", 2, None),
    "stateful_running": (
        stateful_running_transform,
        "update",
        1,
        collapse_running_sink,
    ),
    "stateful_timeout": (stateful_timeout_transform, "append", 1, None),
}


_NWAY_EXPECTED: dict[str, str] = {}


def _nway_reference(spark, case: str) -> str:
    """n_files=1 replay of the case — the reference hash.  Computed on
    demand (not from whichever parametrization runs first), so any test
    subset still checks against the true reference.  NOTE: for the
    dedup case copies=2 stages TWO files, so its "reference" is itself
    a 2-micro-batch replay (duplicate pass in batch 2) — the batch-twin
    link for dedup is its DuckDB oracle, not this hash."""
    if case not in _NWAY_EXPECTED:
        transform, mode, copies, collapse = _NWAY_CASES[case]
        stage = stage_events_nway(SF, 1, copies=copies)
        out = run_bounded(transform(staged_events_stream(spark, stage)), mode)
        if collapse is not None:
            out = collapse(out)
        _NWAY_EXPECTED[case] = _hash_df(out)
    return _NWAY_EXPECTED[case]


@pytest.mark.parametrize("case", sorted(_NWAY_CASES))
@pytest.mark.parametrize("n_files", [4, 16])
def test_nway_split_is_batch_equivalent(spark, case, n_files):
    """Micro-batch semantics under adversarial batching: the SAME data
    replayed as 1, 4, or 16 micro-batches (one file per trigger, arrival
    order forced) must produce the SAME final answer for every stateful
    shape — windows spanning a split are updated across batches, dedup
    state carries over, running state persists, and append-mode
    emissions accumulate to the identical set.  The N=1 run doubles as
    the link to the batch twins (covered by the tests above and the
    DuckDB gate), so agreement across N pins full batch-equivalence.

    This holds because the fixture is ts-sorted, so an in-order split
    never strands a row behind the watermark; it is a semantics test of
    the ENGINE's state handoff between batches, not of late-data drops
    (stream_watermark_late's oracle covers the drop rule)."""
    transform, mode, copies, collapse = _NWAY_CASES[case]
    stage = stage_events_nway(SF, n_files, copies=copies)
    out = run_bounded(transform(staged_events_stream(spark, stage)), mode)
    if collapse is not None:
        out = collapse(out)
    assert _hash_df(out) == _nway_reference(spark, case)


class _StateProgress(StreamingQueryListener):
    """Progress events of a query and its termination (listener events
    arrive asynchronously, after ``run_bounded`` returns)."""

    def __init__(self):
        self.progress: list[dict] = []
        self.terminated = threading.Event()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        self.progress.append(json.loads(event.progress.json))

    def onQueryTerminated(self, event):
        self.terminated.set()


_SHUFFLE_KEY = "spark.sql.shuffle.partitions"
_ADVISORY_KEY = "spark.sql.adaptive.advisoryPartitionSizeInBytes"


@contextlib.contextmanager
def _advisory_size(spark, value: str):
    """The AQE advisory partition size set to ``value`` for the block;
    the session's own setting, or its absence, afterwards."""
    caller = spark.conf.get(_ADVISORY_KEY, None)
    spark.conf.set(_ADVISORY_KEY, value)
    try:
        yield
    finally:
        if caller is None:
            spark.conf.unset(_ADVISORY_KEY)
        else:
            spark.conf.set(_ADVISORY_KEY, caller)


def _state_instances(spark, run):
    """Call ``run()``, which runs one stateful stream, and return what it
    returned and the state-partition count of its state operators.
    Every state operator of every micro-batch must report that count as
    its shuffle partitions and, where it reports any (the session-window
    operator reports 0), as its state-store instances."""
    listener = _StateProgress()
    spark.streams.addListener(listener)
    try:
        out = run()
        assert listener.terminated.wait(60)
    finally:
        spark.streams.removeListener(listener)
    ops = [op for p in listener.progress for op in p.get("stateOperators", [])]
    assert ops, "the stream reported no state operator"
    counts = {op["numShufflePartitions"] for op in ops}
    assert len(counts) == 1, ops
    n = counts.pop()
    assert {op["numStateStoreInstances"] for op in ops} <= {0, n}, ops
    return out, n


def _slots(spark) -> int:
    return min(int(spark.conf.get(_SHUFFLE_KEY)), spark.sparkContext.defaultParallelism)


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path)
        for f in files
    )


def _tumbling_instances(spark, sf_dir: str) -> int:
    """State instances of the tumbling replay of ``sf_dir``, whose rows
    must still equal the batch twin."""
    s, n = _state_instances(spark, lambda: stream_tumbling_agg(spark, sf_dir))
    assert _hash_df(s) == _hash_df(tumbling_batch(spark, sf_dir))
    return n


@pytest.mark.parametrize("case", sorted(_NWAY_CASES))
def test_nway_split_over_state_partitions_is_batch_equivalent(spark, case):
    """The 4-way replay of every stateful shape, with a one-byte
    advisory size splitting its backlog over the task slots, equals the
    single-batch reference (which runs one state partition).  The
    default rule gives the test fixtures one partition, so this is the
    stream-equals-batch check of state spread over several instances."""
    transform, mode, copies, collapse = _NWAY_CASES[case]
    want = _nway_reference(spark, case)
    stage = stage_events_nway(SF, 4, copies=copies)
    with _advisory_size(spark, "1b"):
        out, n = _state_instances(
            spark,
            lambda: run_bounded(transform(staged_events_stream(spark, stage)), mode),
        )
    assert n == _slots(spark) >= 2
    if collapse is not None:
        out = collapse(out)
    assert _hash_df(out) == want


def test_small_backlog_replay_runs_one_state_instance(spark, sf_mid):
    """A bounded replay sizes its state partitions to its file backlog:
    the sf0.01 events (about 2 MB) fit one 64 MB advisory partition, so
    the tumbling replay runs one state-store instance, and the session's
    shuffle-partition setting reads the same afterwards."""
    before = spark.conf.get(_SHUFFLE_KEY)
    assert _dir_bytes(sf_mid) < 64 * 1024 * 1024
    assert _tumbling_instances(spark, sf_mid) == 1
    assert spark.conf.get(_SHUFFLE_KEY) == before


def test_small_advisory_size_splits_the_backlog(spark):
    """With the advisory size at a third of the backlog the replay runs
    ceil(backlog / advisory) = 3 instances, capped at min(session
    shuffle partitions, task slots); a one-byte advisory size runs that
    cap.  The session's settings read the same afterwards."""
    before = spark.conf.get(_SHUFFLE_KEY)
    backlog = _dir_bytes(SF)
    third = -(-backlog // 3)
    for advisory, want in ((third, 3), (1, backlog)):
        with _advisory_size(spark, f"{advisory}b"):
            assert _tumbling_instances(spark, SF) == min(want, _slots(spark))
        assert spark.conf.get(_SHUFFLE_KEY) == before


def test_state_pin_on_a_session_without_shuffle_partitions(spark):
    """A session that never set the shuffle partitions (a vanilla
    session) caps the backlog rule at Spark's default of 200 and the
    task slots, and the key is unset again afterwards."""
    fixture = spark.conf.get(_SHUFFLE_KEY)
    spark.conf.unset(_SHUFFLE_KEY)
    try:
        assert spark.conf.get(_SHUFFLE_KEY, None) is None
        default = int(spark.conf.get(_SHUFFLE_KEY))
        assert default == 200
        assert _tumbling_instances(spark, SF) == 1
        with _advisory_size(spark, "1b"):
            assert _tumbling_instances(spark, SF) == _slots(spark)
        assert spark.conf.get(_SHUFFLE_KEY, None) is None
    finally:
        spark.conf.set(_SHUFFLE_KEY, fixture)


def test_checkpointed_start_keeps_the_slot_rule(spark, tmp_path):
    """A checkpoint that outlives the run keeps min(session shuffle
    partitions, task slots) state partitions whatever the backlog: a
    ``checkpointLocation`` the caller passes, and a session-wide
    checkpoint root under a memory sink."""
    rows = []

    def collect(batch_df, batch_id: int) -> None:
        rows.extend(batch_df.collect())

    writer = (
        tumbling_transform(events_stream(spark, SF))
        .writeStream.outputMode("complete")
        .foreachBatch(collect)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
    )
    _, n = _state_instances(spark, lambda: run_available_now(spark, writer))
    assert n == _slots(spark) > 1
    assert rows

    root = "spark.sql.streaming.checkpointLocation"
    spark.conf.set(root, str(tmp_path / "root"))
    try:
        _, n = _state_instances(
            spark,
            lambda: run_bounded(tumbling_transform(events_stream(spark, SF))),
        )
    finally:
        spark.conf.unset(root)
    assert n == _slots(spark)


def test_non_file_source_keeps_the_slot_rule(spark):
    """A source whose backlog is not a set of files (the rate source)
    leaves the count at min(session shuffle partitions, task slots)."""
    rate = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 30)
        .load()
    )
    agg = rate.groupBy((F.col("value") % 3).alias("k")).count()
    out, n = _state_instances(spark, lambda: run_bounded(agg, "complete"))
    assert n == _slots(spark)
    assert sorted(tuple(r) for r in out.collect()) == [(0, 10), (1, 10), (2, 10)]


def test_empty_backlog_replay_starts_one_partition(spark, tmp_path):
    """A replay of an empty directory (0 bytes of backlog) starts with
    one state partition and returns an empty table with the transform's
    schema; the session's shuffle partitions read the same afterwards."""
    events = table_path(SF, "events")
    empty = str(tmp_path / "empty")
    os.makedirs(empty)
    sdf = spark.readStream.schema(events_ddl(events)).parquet(empty)
    transformed = tumbling_transform(shim_events_ts(sdf, events))
    before = spark.conf.get(_SHUFFLE_KEY)
    assert _file_backlog_bytes(transformed) == 0
    assert _backlog_partitions(transformed) == 1
    out = run_bounded(transformed)
    assert out.schema == transformed.schema
    assert out.count() == 0
    assert spark.conf.get(_SHUFFLE_KEY) == before


_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"
_MANAGERS = "org.apache.spark.sql.execution.streaming.checkpointing."
_FS_MANAGER = _MANAGERS + "FileSystemBasedCheckpointFileManager"
_FC_MANAGER = _MANAGERS + "FileContextBasedCheckpointFileManager"


def _stream_checkpoint_manager(spark, ckpt: str) -> set:
    """The checkpoint manager class a ``run_available_now`` start on
    ``ckpt`` ran with, read inside each micro-batch from the stream's
    own session conf: the stream clones the session at ``start()`` and
    builds its checkpoint manager from that clone's conf."""
    seen = []

    def record(batch_df, batch_id: int) -> None:
        seen.append(batch_df.sparkSession.conf.get(_MANAGER_KEY, None))

    sdf = events_stream(spark, SF).select("event_id")
    run_available_now(
        spark,
        sdf.writeStream.foreachBatch(record).option("checkpointLocation", ckpt),
    )
    assert seen, "the stream ran no micro-batch"
    return set(seen)


def test_local_checkpoint_start_uses_filesystem_manager(spark, tmp_path):
    """A start on a local checkpoint runs with Spark's FileSystem-based
    checkpoint manager, and the session, which never set the key, still
    has it unset afterwards."""
    assert spark.conf.get(_MANAGER_KEY, None) is None
    assert _stream_checkpoint_manager(spark, str(tmp_path / "ckpt")) == {
        _FS_MANAGER
    }
    assert spark.conf.get(_MANAGER_KEY, None) is None


def test_caller_checkpoint_manager_is_kept(spark, tmp_path):
    """A manager class the caller set is neither overridden for the
    stream nor lost from the session."""
    spark.conf.set(_MANAGER_KEY, _FC_MANAGER)
    try:
        assert _stream_checkpoint_manager(spark, str(tmp_path / "ckpt")) == {
            _FC_MANAGER
        }
        assert spark.conf.get(_MANAGER_KEY, None) == _FC_MANAGER
    finally:
        spark.conf.unset(_MANAGER_KEY)


def test_checkpoint_manager_pin_needs_a_local_default_fs(spark):
    """Unqualified checkpoint paths count as local only while the
    default FS is ``file``; on any other default FS the pin is off."""
    assert _checkpoints_are_local(spark)
    spark.conf.set("fs.defaultFS", "hdfs://localhost:9000")
    try:
        assert not _checkpoints_are_local(spark)
    finally:
        spark.conf.unset("fs.defaultFS")
    assert _checkpoints_are_local(spark)


def test_failed_start_restores_shuffle_partitions(spark):
    """The pins are undone even when the writer fails to start: append
    mode on an aggregation without a watermark is rejected inside
    start().  The shuffle partitions read the same, an unset checkpoint
    manager stays unset, and a caller's manager class stays set."""
    from pyspark.errors import AnalysisException

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    agg = events_stream(spark, SF).groupBy("event_type").count()
    try:
        for caller in (None, _FC_MANAGER):
            if caller is not None:
                spark.conf.set(_MANAGER_KEY, caller)
            with pytest.raises(AnalysisException):
                run_bounded(agg, "append")
            assert spark.conf.get(key) == before
            assert spark.conf.get(_MANAGER_KEY, None) == caller
    finally:
        spark.conf.unset(_MANAGER_KEY)


def test_foreachbatch_checkpoint_restart_exactly_once(spark, tmp_path):
    """Operational semantics of the production sink: two AvailableNow
    runs sharing one checkpoint behave like a stopped-and-restarted
    stream.  The restarted run must process ONLY files that arrived
    after the first run (incremental source offsets), and the final
    sink must equal the batch answer over all files with zero
    duplicates (event_id is unique in the fixture) — i.e. end-to-end
    exactly-once across a restart."""
    import os

    import pyarrow.parquet as pq

    from powertrainstreaming_spark.session import ensure_session_confs
    from powertrainstreaming_spark.sources.loaders import (
        events_ddl,
        shim_events_ts,
        table_path,
    )

    ensure_session_confs(spark)
    table = pq.read_table(table_path(SF, "events"))
    third = table.num_rows // 3
    stage = str(tmp_path / "in")
    os.makedirs(stage)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run_stream() -> None:
        sdf = shim_events_ts(
            spark.readStream.schema(events_ddl(stage)).parquet(stage), stage
        ).select("event_id", "user_id", "event_type", "value")

        def write_batch(batch_df, batch_id: int) -> None:
            batch_df.write.mode("append").parquet(out)

        run_available_now(
            spark,
            sdf.writeStream.foreachBatch(write_batch).option(
                "checkpointLocation", ckpt
            ),
        )

    pq.write_table(table.slice(0, third), os.path.join(stage, "a.parquet"))
    pq.write_table(table.slice(third, third), os.path.join(stage, "b.parquet"))
    run_stream()
    assert spark.read.parquet(out).count() == 2 * third

    # "Late" file lands while the stream is down; restart from the
    # same checkpoint.
    pq.write_table(table.slice(2 * third), os.path.join(stage, "c.parquet"))
    run_stream()
    final = spark.read.parquet(out)
    assert final.count() == table.num_rows
    assert final.select("event_id").distinct().count() == table.num_rows


def test_stateful_timeout_exact_boundary(spark, tmp_path):
    """Pin the watermark-boundary comparison of stream_stateful_timeout
    (round-5 ADVICE): a final session whose timeout (last_ts + gap)
    lands EXACTLY on the final watermark (max ts − delay) must be
    treated identically by the engine and the DuckDB oracle.  The
    oracle's emission criterion is strict (`last_ts + gap < m − delay`),
    so at exact equality the session is WITHHELD — this test stages a
    corpus where that equality holds at millisecond granularity and
    asserts both engines agree, so any engine-version drift in the
    eviction comparison (< vs <=) fails loudly instead of latently.
    """
    import os

    import duckdb
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from powertrainstreaming_spark.operators.streaming import (
        _TIMEOUT_ORACLE,
        stateful_timeout_transform,
    )
    from powertrainstreaming_spark.streaming.harness import (
        run_bounded,
        staged_events_stream,
    )

    t0 = pd.Timestamp("2025-01-01 12:00:00")
    mn = pd.Timedelta(minutes=1)
    rows = [
        # user 1 — THE boundary session: last_ts + 30min == max(ts) − 10min
        (1, t0, 1, "click", 5.0),
        (2, t0 + 5 * mn, 1, "click", 9.0),  # last_ts = t0+5min → timeout t0+35min
        # user 2 — carries max(ts) = t0+45min → final watermark t0+35min
        (3, t0 + 45 * mn, 2, "view", 1.0),
        # user 3 — clearly-expired control: timeout t0−90min ≪ watermark
        (4, t0 - 120 * mn, 3, "click", 2.0),
    ]
    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    stage = str(tmp_path / "boundary")
    os.makedirs(stage)
    path = os.path.join(stage, "events.parquet")
    pq.write_table(table, path)

    out = run_bounded(
        stateful_timeout_transform(staged_events_stream(spark, stage)), "append"
    )
    engine = sorted(
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in out.collect()
    )

    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}')")
    oracle = sorted(
        (r[0], r[1], r[2], r[3])
        for r in con.execute(
            f"SELECT user_id, session_start, session_end, n_events"
            f" FROM ({_TIMEOUT_ORACLE})"
        ).fetchall()
    )

    # Strict <: user 1 (exact boundary) and user 2 (own session open)
    # withheld; only the expired control emits.
    assert [e[0] for e in engine] == [3], engine
    assert engine == oracle


def test_scd2_state_survives_checkpoint_restart(spark, tmp_path):
    """applyInPandasWithState state recovery across a query RESTART —
    the property no other test covers (the n-way tests prove state
    hands off between MICRO-BATCHES of one run; this proves the state
    STORE itself is restored from the checkpoint when the stream is
    stopped and resumed).  Two AvailableNow runs share one checkpoint:
    the first processes two time-ordered slices, a third lands while
    the stream is down, the restarted run processes only it.  If the
    per-user last_type state were lost at the restart, every user
    whose first slice-c event CONTINUES their prior type would emit a
    spurious change row (and the fixture guarantees such users exist,
    asserted below) — so exact equality with the batch lag-oracle over
    all three slices proves the state came back."""
    import os

    import pyarrow.parquet as pq

    from powertrainstreaming_spark.operators.joins import (
        merge_scd2_intervals,
    )
    from powertrainstreaming_spark.operators.streaming import (
        scd2_changes_transform,
    )
    from powertrainstreaming_spark.session import ensure_session_confs
    from powertrainstreaming_spark.sources.loaders import (
        events_ddl,
        shim_events_ts,
        table_path,
    )

    ensure_session_confs(spark)
    table = pq.read_table(table_path(SF, "events"))
    third = table.num_rows // 3
    stage = str(tmp_path / "in")
    os.makedirs(stage)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run_stream() -> None:
        sdf = shim_events_ts(
            spark.readStream.schema(events_ddl(stage)).parquet(stage), stage
        )
        changes = scd2_changes_transform(sdf)

        def write_batch(batch_df, batch_id: int) -> None:
            batch_df.write.mode("append").parquet(out)

        run_available_now(
            spark,
            changes.writeStream.foreachBatch(write_batch).option(
                "checkpointLocation", ckpt
            ),
        )

    pq.write_table(table.slice(0, third), os.path.join(stage, "a.parquet"))
    pq.write_table(table.slice(third, third), os.path.join(stage, "b.parquet"))
    run_stream()
    n_first = spark.read.parquet(out).count()

    # Precondition for the test to have teeth: at least one user's
    # first slice-c event continues their slice-b type (state loss
    # would emit a spurious change for exactly these users).
    rows = table.to_pylist()
    rows.sort(key=lambda r: (r["ts"], r["event_id"]))
    last_before = {}
    for r in rows[: 2 * third]:
        last_before[r["user_id"]] = r["event_type"]
    first_after = {}
    for r in rows[2 * third :]:
        first_after.setdefault(r["user_id"], r["event_type"])
    continuing = [
        u for u, t in first_after.items() if last_before.get(u) == t
    ]
    assert continuing, "fixture has no boundary-continuing user"

    pq.write_table(table.slice(2 * third), os.path.join(stage, "c.parquet"))
    run_stream()
    streamed = spark.read.parquet(out)
    assert streamed.count() > n_first  # the restart did process slice c
    batch = merge_scd2_intervals(spark, SF).select(
        "user_id", "event_type", "valid_from"
    )
    s = {tuple(r) for r in streamed.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert s == b
    assert streamed.count() == len(s)  # no duplicate emissions either


def test_stream_quality_gate_equals_batch_threshold_gate(spark):
    """The stateless streaming gate must emit exactly the batch
    threshold gate's rows (same thresholds, same map-side filter —
    value-for-value, not just count)."""
    from powertrainstreaming_spark.plans.registry import all_defs

    defs = all_defs()
    streamed = defs["stream_quality_gate"].fn(spark, SF)
    batch = defs["corpus_quality_gate_threshold"].fn(spark, SF)
    s = {tuple(r) for r in streamed.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert s == b
    assert streamed.count() == len(s)  # no duplicate emissions


def test_stream_span_dedup_equals_batch_span_dedup(spark):
    """The ingest-time substring cleaner must emit exactly the batch
    dedup_span_repeated rows (same offline span index, shared
    _span_clean core, per-doc work contained in its micro-batch —
    value-for-value across the real 2-batch replay)."""
    from powertrainstreaming_spark.plans.registry import all_defs

    defs = all_defs()
    streamed = defs["stream_span_dedup"].fn(spark, SF)
    batch = defs["dedup_span_repeated"].fn(spark, SF)
    s = {tuple(r) for r in streamed.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert s == b
    assert streamed.count() == len(s)  # no duplicate emissions
