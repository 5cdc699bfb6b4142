"""Streaming integration: the same pipelines executed as REAL streams
(readStream → availableNow → memory sink) must equal their batch twins.
SURVEY.md §2.K."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQueryListener

from hive_release_spark.catalog import app_scoped_dir, load_table
from hive_release_spark.functions.temporal import ts_valid
from hive_release_spark.streaming import pipelines as P
from tests.conftest import SF_ORACLE, SF_SMOKE, _jobs


def _batch_events(spark):
    return load_table(spark, SF_SMOKE, "events")


def _collect_set(df, cols):
    return {tuple(r[c] for c in cols) for r in df.collect()}


def test_tumbling_stream_equals_batch(spark):
    batch = P.tumbling_agg(_batch_events(spark))
    stream = P.run_available_now(
        P.tumbling_agg(P.load_events_stream(spark, SF_SMOKE)), "t_tumbling_test"
    )
    cols = ["window_start", "event_type", "n", "sum_value"]
    assert _collect_set(batch, cols) == _collect_set(stream, cols)


def test_session_stream_equals_batch(spark):
    batch = P.session_agg(_batch_events(spark))
    stream = P.run_available_now(
        P.session_agg(P.load_events_stream(spark, SF_SMOKE)), "t_session_test"
    )
    cols = ["session_start", "session_end", "user_id", "n_events", "sum_value"]
    assert _collect_set(batch, cols) == _collect_set(stream, cols)


def test_stream_static_join_equals_batch(spark):
    cust = load_table(spark, SF_SMOKE, "customer")
    batch = P.stream_static_join(_batch_events(spark), cust)
    stream = P.run_available_now(
        P.stream_static_join(P.load_events_stream(spark, SF_SMOKE), cust),
        "t_join_test",
    )
    cols = ["c_mktsegment", "event_type", "n", "sum_value"]
    assert _collect_set(batch, cols) == _collect_set(stream, cols)


def test_streaming_dedup_within_watermark(spark):
    """dropDuplicatesWithinWatermark keeps one row per key (append mode)."""
    stream = P.dedup_stream(P.load_events_stream(spark, SF_SMOKE), "1 hour")
    out = P.run_available_now(stream, "t_dedup_test", output_mode="append")
    batch_keys = _batch_events(spark).select("user_id", "event_type").distinct().count()
    got = out.select("user_id", "event_type").distinct().count()
    assert out.count() == got  # no duplicate keys in output
    assert got == batch_keys  # every key survived


def test_stream_stream_join_equals_batch(spark):
    """Stream-stream interval join (both sides watermarked, append mode)
    produces the identical click→purchase pair set as the batch twin."""
    batch = P.interval_join(_batch_events(spark))
    stream = P.run_available_now(
        P.interval_join(P.load_events_stream(spark, SF_SMOKE)),
        "t_ss_join_test",
        output_mode="append",
    )
    cols = ["user_id", "click_id", "purchase_id", "purchase_value"]
    assert batch.count() > 0
    assert _collect_set(batch, cols) == _collect_set(stream, cols)


def test_dynamic_gap_sessions_merge_intervals_not_chains(spark):
    """Dynamic-gap sessions are interval MERGES: a long-gap purchase can
    bridge past a short-gap view's own window. purchase@0h (12h gap),
    view@7h (6h gap): the view starts inside [0,12h) so they fuse with
    end = 13h (max of ends); view@14h starts after 13h -> new session.
    Per-event chaining (each event vs its predecessor only) would give
    the same grouping here but the WRONG end (13h vs a chain's 20h is
    the distinction the assertion pins)."""
    from datetime import datetime

    t = lambda h: datetime(2024, 1, 1, h)  # noqa: E731
    df = spark.createDataFrame(
        [
            (1, t(0), "purchase", 10.0),
            (1, t(7), "view", 1.0),
            (1, t(14), "view", 2.0),
        ],
        "user_id LONG, ts TIMESTAMP, event_type STRING, value DOUBLE",
    )
    rows = sorted(
        (r.session_start.hour, r.session_end.hour, r.n_events)
        for r in P.session_agg_dynamic(df).collect()
    )
    assert rows == [
        (0, 13, 2),   # purchase window [0,12) fused with view [7,13) -> end 13
        (14, 20, 1),  # view@14h alone, 6h gap
    ]


def test_file_stream_processes_incrementally_with_foreach_batch(spark, tmp_path):
    """The file source is an INCREMENTAL reader, not a disguised batch:
    with maxFilesPerTrigger=1 an availableNow run must deliver one
    micro-batch per file through foreachBatch, and the union of batches
    must equal the full dataset (no loss, no duplication)."""
    src = str(tmp_path / "src")
    for i in range(3):
        spark.range(i * 10, (i + 1) * 10).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    seen: list[tuple[int, int]] = []  # (batch_id, row_count)
    ids: list[int] = []

    def sink(batch_df, batch_id):
        rows = batch_df.collect()
        seen.append((batch_id, len(rows)))
        ids.extend(r.id for r in rows)

    q = (
        spark.readStream.schema("id LONG")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()

    assert len(seen) == 3, seen  # one micro-batch per file
    assert all(n == 10 for _, n in seen)
    assert sorted(ids) == list(range(30))


def test_stream_stream_left_join_closed_region_parity(spark):
    """LEFT OUTER interval join: within the watermark-CLOSED region
    (purchases older than max_ts - horizon - watermark) the streaming
    result must match the batch twin exactly, INCLUDING the null-padded
    unattributed purchases; inside the open tail Spark legitimately
    withholds null results (a matching click could still arrive)."""
    from pyspark.sql import functions as F

    batch_events = _batch_events(spark)
    hi = batch_events.agg(F.max("ts").alias("m")).first().m
    # 1h horizon + 2h watermark, plus a margin: null emission requires the
    # final watermark STRICTLY past the join bound, so the exact hi-3h
    # boundary row is legitimately withheld
    cutoff = hi - __import__("datetime").timedelta(hours=3, minutes=5)

    batch = P.interval_join_left(batch_events)
    stream = P.run_available_now(
        P.interval_join_left(P.load_events_stream(spark, SF_SMOKE)),
        "t_ss_left_join_test",
        output_mode="append",
    )
    cols = ["user_id", "purchase_id", "click_id"]

    def closed(df):
        return df.filter(F.col("purchase_ts") <= F.lit(cutoff))

    b = _collect_set(closed(batch), cols)
    s = _collect_set(closed(stream), cols)
    # Guarantees Spark actually makes for streaming outer joins:
    #  * no spurious rows (stream ⊆ batch);
    #  * MATCHED pairs are exact (inner-join semantics are immediate);
    #  * only NULL-padded results may be withheld, and only a few —
    #    outer-null emission rides state eviction, which is
    #    batch-boundary dependent even past the watermark (documented
    #    "generated with a delay").
    assert b and s <= b
    matched = lambda rows: {r for r in rows if r[2] is not None}  # noqa: E731
    assert matched(b) == matched(s)
    withheld = b - s
    assert len(withheld) <= 5, withheld
    assert all(r[2] is None for r in withheld), withheld
    # outer semantics really exercised: nulls present in the STREAM output
    assert any(r[2] is None for r in s)


def test_distinct_sketch_stream_equals_batch(spark):
    """The per-day distinct-users SKETCH plan must run as a REAL stream
    and produce bit-equal estimates to its batch twin (deterministic
    sketches). Streaming rejects exact COUNT(DISTINCT) outright — that
    rejection is itself pinned here, since it is the entry's claim."""
    import pytest
    from pyspark.errors.exceptions.captured import AnalysisException

    from hive_release_spark.queries.streaming_batch import _distinct_users_window

    batch = _distinct_users_window(_batch_events(spark), with_exact=False)
    stream = P.run_available_now(
        _distinct_users_window(
            P.load_events_stream(spark, SF_SMOKE), with_exact=False
        ),
        "t_distinct_sketch_test",
    )
    cols = ["window_start", "est"]
    assert _collect_set(batch, cols) == _collect_set(stream, cols)
    with pytest.raises(AnalysisException, match="[Dd]istinct"):
        P.run_available_now(
            _distinct_users_window(
                P.load_events_stream(spark, SF_SMOKE), with_exact=True
            ),
            "t_distinct_exact_must_fail",
        )


def test_stream_stream_full_join_closed_region_parity(spark):
    """FULL OUTER interval join (r5): same closed-region guarantees as
    the left arm, extended to BOTH orphan populations — matched pairs
    exact, stream ⊆ batch, only null-padded rows (on either side)
    withheld near the tail, and both orphan kinds actually present in
    the stream output."""
    from pyspark.sql import functions as F

    batch_events = _batch_events(spark)
    hi = batch_events.agg(F.max("ts").alias("m")).first().m
    cutoff = hi - __import__("datetime").timedelta(hours=3, minutes=5)

    batch = P.interval_join_full(batch_events)
    stream = P.run_available_now(
        P.interval_join_full(P.load_events_stream(spark, SF_SMOKE)),
        "t_ss_full_join_test",
        output_mode="append",
    )
    cols = ["user_id", "purchase_id", "click_id"]

    def closed(df):
        # a row's emission bound is its own side's event time; restrict
        # to rows whose BOTH timestamps (where present) are closed
        return df.filter(
            (F.col("purchase_ts").isNull() | (F.col("purchase_ts") <= F.lit(cutoff)))
            & (F.col("click_ts").isNull() | (F.col("click_ts") <= F.lit(cutoff)))
        )

    b = _collect_set(closed(batch), cols)
    s = _collect_set(closed(stream), cols)
    assert b and s <= b
    matched = lambda rows: {  # noqa: E731
        r for r in rows if r[1] is not None and r[2] is not None
    }
    assert matched(b) == matched(s)
    withheld = b - s
    assert all(r[1] is None or r[2] is None for r in withheld), withheld
    assert len(withheld) <= 10, withheld
    # both orphan populations really exercised in the STREAM output
    assert any(r[2] is None for r in s)  # unattributed purchases
    assert any(r[1] is None for r in s)  # clicks that never converted


def _replay_files(spark, sf_dir):
    base = app_scoped_dir(spark, "latedrop", sf_dir)
    return {
        name: os.path.join(base, "data", f"{name}.parquet")
        for name in ("1-ontime", "2-tick", "3-late")
    }


def _replay_events(spark, sf_dir):
    return (
        load_table(spark, sf_dir, "events")
        .filter(ts_valid("ts"))
        .select(F.col("ts").cast(T.TimestampType()).alias("ts"), "value")
    )


def test_late_drop_replay_drops_every_late_row_by_watermark(spark):
    """The 3-batch replay must witness an ACTUAL watermark drop: the
    state operator's numRowsDroppedByWatermark across the run equals
    the late file's DISTINCT-WINDOW count (the drop runs after the
    map-side partial aggregation, so it sees one row per closed
    window, not per raw event — itself worth pinning), and the
    emitted windows stop at the filter watermark — no week-one window
    leaks into the append output."""
    # build (and validate) the replay files, then re-run the stream
    # manually because run_available_now stops the query before its
    # progress metrics can be read
    P.late_drop_replay(spark, SF_SMOKE)
    late_file = _replay_files(spark, SF_SMOKE)["3-late"]
    data_dir = os.path.dirname(late_file)
    n_late_windows = (
        spark.read.parquet(late_file)
        .select(F.date_trunc("day", "ts").alias("d"))
        .distinct()
        .count()
    )
    schema = spark.read.parquet(data_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(data_dir)
    )
    agg = (
        stream.withWatermark("ts", "72 hours")
        .groupBy(F.window("ts", "1 day"))
        .agg(F.count("*").alias("n"))
        .select(F.col("window.start").alias("ws"), "n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("late_drop_metrics")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    dropped = sum(
        so.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for so in (p["stateOperators"] or [])
    )
    q.stop()
    assert dropped == n_late_windows and dropped > 0, (
        dropped,
        n_late_windows,
    )
    out = spark.table("late_drop_metrics")
    import datetime

    min_ws = min(r["ws"] for r in out.collect())
    assert min_ws >= datetime.datetime(2024, 1, 8), min_ws


def test_run_available_now_raises_on_timeout(spark):
    """A query still running at the timeout raises, naming the query,
    instead of returning a partial memory-sink table; it is stopped."""
    stream = P.tumbling_agg(P.load_events_stream(spark, SF_SMOKE))
    with pytest.raises(TimeoutError, match="t_timeout_test"):
        P.run_available_now(stream, "t_timeout_test", timeout_s=0.001)
    assert all(q.name != "t_timeout_test" for q in spark.streams.active)


@pytest.mark.parametrize("sf_dir", [SF_SMOKE, SF_ORACLE])
def test_late_drop_replay_stages_each_batch_row_for_row(spark, sf_dir):
    """The one tagged write stages exactly the rows of each batch's own
    filter, with the events schema (no tag column)."""
    split, tick = "2024-01-08 00:00:00", "2024-01-28 00:00:00"
    P.late_drop_replay(spark, sf_dir, split=split)
    events = _replay_events(spark, sf_dir)
    want = {
        "1-ontime": events.filter(F.col("ts") >= F.lit(split)),
        "2-tick": events.filter(F.col("ts") >= F.lit(tick)),
        "3-late": events.filter(F.col("ts") < F.lit(split)),
    }
    for name, path in _replay_files(spark, sf_dir).items():
        got = spark.read.parquet(path)
        assert got.schema == events.schema, (name, got.schema)
        assert got.count() == want[name].count() > 0, name
        assert got.exceptAll(want[name]).count() == 0, name
        assert want[name].exceptAll(got).count() == 0, name


def test_late_drop_replay_writes_empty_late_batch(spark):
    """A split before every event leaves the late batch empty: the
    partitioned write makes no directory for it, yet its file exists
    with 0 rows and the replay still runs."""
    out = P.late_drop_replay(spark, SF_SMOKE, split="2000-01-01 00:00:00")
    assert out.count() > 0
    files, events = _replay_files(spark, SF_SMOKE), _replay_events(spark, SF_SMOKE)
    late = spark.read.parquet(files["3-late"])
    assert late.count() == 0
    assert late.schema == events.schema
    assert spark.read.parquet(files["1-ontime"]).count() == events.count()


def test_late_drop_replay_leaves_other_processes_files_alone(spark):
    """The replay stages under its own application's scratch directory,
    never under a shared fixed path: a ``latedrop_<sf>`` directory that
    another process is reading keeps its files."""
    other = os.path.join(
        "spark-warehouse", f"latedrop_{os.path.basename(SF_SMOKE)}", "data"
    )
    os.makedirs(other, exist_ok=True)
    marker = os.path.join(other, "1-ontime.parquet")
    with open(marker, "w") as fh:
        fh.write("another process's batch")
    try:
        P.late_drop_replay(spark, SF_SMOKE)
        with open(marker) as fh:
            assert fh.read() == "another process's batch"
        assert spark.sparkContext.applicationId.replace("_", "-") in (
            _replay_files(spark, SF_SMOKE)["1-ontime"]
        )
    finally:
        import shutil

        shutil.rmtree(os.path.dirname(other), ignore_errors=True)


class _BatchCounter(StreamingQueryListener):
    def __init__(self, name):
        self.name, self.batches = name, 0

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        self.batches += event.progress.name == self.name

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def test_late_drop_replay_stages_in_one_job(spark):
    """Staging the three batch files is one Spark job on the caller's
    job group; the stream's micro-batch jobs run under the query's own
    job group, so they are pinned as micro-batches: one per file."""
    load_table(spark, SF_SMOKE, "events")  # schema recorded: no job below
    counter = _BatchCounter("stream_watermark_late_drop")
    spark.streams.addListener(counter)
    try:
        _, jobs = _jobs(spark, lambda: P.late_drop_replay(spark, SF_SMOKE))
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    finally:
        spark.streams.removeListener(counter)
    assert jobs == 1
    assert counter.batches == 3


class _StatePartitions(_BatchCounter):
    """Records, per progress of the named query, each stateful
    operator's ``numShufflePartitions``."""

    def __init__(self, name):
        super().__init__(name)
        self.seen = []

    def onQueryProgress(self, event):
        if event.progress.name == self.name:
            self.seen.append(
                [so.numShufflePartitions for so in event.progress.stateOperators]
            )


def test_late_drop_replay_keeps_state_on_one_partition(spark):
    """The replay's window-only aggregate keeps its state on one
    partition in every micro-batch, not the session's shuffle partition
    count, and the caller's count is unchanged afterwards."""
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    assert before != "1"
    listener = _StatePartitions("stream_watermark_late_drop")
    spark.streams.addListener(listener)
    try:
        P.late_drop_replay(spark, SF_SMOKE)
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    finally:
        spark.streams.removeListener(listener)
    assert listener.seen == [[1]] * 3
    assert spark.conf.get(key) == before


def test_run_available_now_restores_shuffle_partitions_on_error(spark):
    """A query that times out, or that fails in ``start()``, leaves the
    caller's ``spark.sql.shuffle.partitions`` as it was."""
    from pyspark.errors import AnalysisException

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    stream = P.tumbling_agg(P.load_events_stream(spark, SF_SMOKE))
    with pytest.raises(TimeoutError):
        P.run_available_now(
            stream, "t_timeout_partitions", timeout_s=0.001, state_partitions=1
        )
    assert spark.conf.get(key) == before
    # complete mode needs an aggregate: ``start()`` itself raises
    with pytest.raises(AnalysisException):
        P.run_available_now(
            P.load_events_stream(spark, SF_SMOKE), "t_start_fails", state_partitions=1
        )
    assert spark.conf.get(key) == before
