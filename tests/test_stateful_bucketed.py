"""Stateful streaming dedup (applyInPandasWithState) + bucketed-join layout.

Streaming twin of operators/dedup.dedup_exact: state must carry "already
seen" across micro-batches AND across a full stop/restart from checkpoint
(the state-store edition of the north rule's snapshot resume).
Bucketed join: proves the one-time bucketBy shuffle buys Exchange-free
sort-merge joins afterwards (SURVEY.md §3 E3 — the index IS the layout).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (LongType, StringType, StructField, StructType)

IMG_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("phash", LongType()),
    StructField("caption", StringType()),
])


def _write_batch(spark, path: str, rows) -> None:
    spark.createDataFrame(rows, IMG_SCHEMA).coalesce(1) \
        .write.mode("append").parquet(path)


def test_first_seen_dedup_across_batches_and_restart(spark, tmp_path):
    from p3_osm_transformer_spark.streaming.stateful import run_dedup_stream

    indir = str(tmp_path / "in")
    outdir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(indir, exist_ok=True)

    # run 1: keys 1 and 2; key 1 appears twice -> smallest image_id wins
    _write_batch(spark, indir, [("img-b", 1, "dup of 1"),
                                ("img-a", 1, "first of 1"),
                                ("img-c", 2, "first of 2")])
    run_dedup_stream(spark, indir, IMG_SCHEMA, key_col="phash",
                     order_col="image_id", output_dir=outdir,
                     checkpoint_dir=ckpt)
    got1 = {(r.phash, r.image_id)
            for r in spark.read.parquet(outdir).collect()}
    assert got1 == {(1, "img-a"), (2, "img-c")}

    # run 2 (fresh query, same checkpoint): key 2 repeats -> suppressed by
    # RESTORED state; only the new key 3 comes through.
    _write_batch(spark, indir, [("img-d", 2, "dup of 2 after restart"),
                                ("img-e", 3, "first of 3")])
    run_dedup_stream(spark, indir, IMG_SCHEMA, key_col="phash",
                     order_col="image_id", output_dir=outdir,
                     checkpoint_dir=ckpt)
    got2 = {(r.phash, r.image_id)
            for r in spark.read.parquet(outdir).collect()}
    assert got2 == {(1, "img-a"), (2, "img-c"), (3, "img-e")}


def test_streaming_dedup_matches_batch_twin(spark, tmp_path):
    """Same input, one batch: stream output == the batch groupBy-min twin
    (the same first-wins rule dedup_exact applies to content hashes)."""
    from p3_osm_transformer_spark.streaming.stateful import run_dedup_stream

    rows = [(f"img-{i:03d}", i % 7, f"cap {i}") for i in range(40)]
    indir, outdir, ckpt = (str(tmp_path / d) for d in ("in2", "out2", "ck2"))
    _write_batch(spark, indir, rows)
    run_dedup_stream(spark, indir, IMG_SCHEMA, key_col="phash",
                     order_col="image_id", output_dir=outdir,
                     checkpoint_dir=ckpt)
    stream_ids = {r.image_id for r in spark.read.parquet(outdir).collect()}

    batch = (spark.createDataFrame(rows, IMG_SCHEMA)
             .groupBy("phash").agg(F.min("image_id").alias("image_id")))
    batch_ids = {r.image_id for r in batch.collect()}
    assert stream_ids == batch_ids and len(stream_ids) == 7


def test_bucketed_join_has_no_exchange(spark):
    from p3_osm_transformer_spark.sources.bucketed import (
        assert_no_shuffle_join, bucketed_equi_join, plan_has_shuffle,
        write_bucketed)

    pts = spark.range(0, 5000).select(
        F.col("id").alias("cell"), (F.col("id") * 3).alias("payload"))
    addrs = spark.range(0, 1000).select(
        F.col("id").alias("cell"), (F.col("id") * 7).alias("addr_val"))
    write_bucketed(pts, "t_pts_bkt", key="cell", buckets=8)
    write_bucketed(addrs, "t_addr_bkt", key="cell", buckets=8)

    joined = bucketed_equi_join(spark, "t_pts_bkt", "t_addr_bkt", "cell")
    assert_no_shuffle_join(joined)          # zero Exchange in the plan
    assert joined.count() == 1000           # and it's still correct

    # control: the same join over plain (unbucketed) parquet DOES shuffle —
    # proves the assertion helper can tell the difference.
    plain = pts.hint("merge").join(addrs, "cell")
    assert plan_has_shuffle(plain)


def test_bucketed_join_groupby_reuses_layout(spark):
    """groupBy on the bucket key after the join: still no Exchange — the
    bucketed layout carries through join AND aggregation (one data layout,
    two shuffle-free operators; the 100 TB win compounds)."""
    from p3_osm_transformer_spark.sources.bucketed import (
        bucketed_equi_join, plan_has_shuffle)

    joined = bucketed_equi_join(spark, "t_pts_bkt", "t_addr_bkt", "cell")
    agg = joined.groupBy("cell").agg(F.sum("payload").alias("s"))
    assert not plan_has_shuffle(agg)
    assert agg.count() == 1000


def test_first_seen_dedup_key_split_across_arrow_chunks(spark, tmp_path):
    """Regression: when one key's micro-batch exceeds
    arrow.maxRecordsPerBatch, applyInPandasWithState hands the key's rows
    to the state fn as MULTIPLE pandas chunks — the min-order candidate
    may live in any chunk, so gating candidate selection on the running
    seen-count (instead of seen-before-this-batch) drops it."""
    from p3_osm_transformer_spark.streaming.stateful import run_dedup_stream

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "8")
    try:
        # 30 rows, one key, DESCENDING image ids → the min-order row
        # ("img-000") arrives in the LAST arrow chunk
        rows = [(f"img-{i:03d}", 1, f"cap {i}") for i in range(29, -1, -1)]
        indir, outdir, ckpt = (str(tmp_path / d) for d in ("in3", "out3", "ck3"))
        _write_batch(spark, indir, rows)
        run_dedup_stream(spark, indir, IMG_SCHEMA, key_col="phash",
                         order_col="image_id", output_dir=outdir,
                         checkpoint_dir=ckpt)
        got = [r.image_id for r in spark.read.parquet(outdir).collect()]
        assert got == ["img-000"]
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)


from pyspark.sql.types import TimestampType

EV_SCHEMA = StructType([
    StructField("user_id", LongType()),
    StructField("event_id", LongType()),
    StructField("ts", TimestampType()),
])


def test_sessionize_stream_matches_batch_twin_across_batches(spark, tmp_path):
    """Cross-batch sessionization: a session spanning a micro-batch
    boundary must not split, and a >gap hole spanning the boundary must
    open a new session — state carries (last_ts, n_sessions) per user.
    Ground truth = the batch lag-window rule (the q23 oracle shape)."""
    import datetime as dt

    from p3_osm_transformer_spark.streaming.sessionize import (
        run_sessionize_stream)

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)

    def ev(uid, eid, minutes):
        return (uid, eid, t0 + dt.timedelta(minutes=minutes))

    # user 1: session across the batch boundary (gap 10min < 30min)
    # user 2: new session opens across the boundary (gap 90min)
    batch1 = [ev(1, 1, 0), ev(1, 2, 5), ev(2, 10, 0)]
    batch2 = [ev(1, 3, 15), ev(2, 11, 90), ev(2, 12, 95)]
    indir, outdir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ck"))

    for batch in (batch1, batch2):
        spark.createDataFrame(batch, EV_SCHEMA).coalesce(1) \
            .write.mode("append").parquet(indir)
        run_sessionize_stream(spark, indir, EV_SCHEMA, outdir, ckpt,
                              gap_s=1800)

    got = {(r.user_id, r.event_id): r.session_idx
           for r in spark.read.parquet(outdir).collect()}
    assert got == {(1, 1): 1, (1, 2): 1, (1, 3): 1,
                   (2, 10): 1, (2, 11): 2, (2, 12): 2}

    # batch twin agreement: n_sessions per user == max session_idx
    allrows = spark.createDataFrame(batch1 + batch2, EV_SCHEMA)
    from pyspark.sql.window import Window
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    new_s = F.when(prev.isNull() |
                   ((F.unix_timestamp("ts") - F.unix_timestamp(prev)) > 1800),
                   1).otherwise(0)
    twin = {r.user_id: r.n for r in
            allrows.withColumn("s", new_s).groupBy("user_id")
                   .agg(F.sum("s").alias("n")).collect()}
    stream_n = {}
    for (uid, _), sidx in got.items():
        stream_n[uid] = max(stream_n.get(uid, 0), sidx)
    assert stream_n == twin


def test_state_timeout_retires_and_readmits_key(spark, tmp_path):
    """Bounded state (VERDICT r2 #5): with state_timeout_s set, a key idle
    past the window is RETIRED (its state removed) — proven by the key
    being re-admitted (emitted again) when it reappears, which the
    unbounded op would suppress forever.

    Timer-expiry sequencing is POLLED on the state-store metrics
    (cumulative numRowsRemoved), not on a fixed wall-clock sleep: the r4
    verdict caught the sleep version racing a slow micro-batch under
    co-tenant load.  Cleanup batches are driven with fresh unrelated keys
    (a run with data for an expired group would suppress its expiry —
    Spark invokes groups that have data with hasTimedOut=False; and an
    availableNow run with no new files may execute zero batches).  Expired
    timers fire per batch for ALL due keys, and keys 1/2 become due
    strictly before any cleanup key, so cumulative removed ≥ 2 proves
    both were retired regardless of WHICH batch fired them."""
    import time

    from p3_osm_transformer_spark.streaming.stateful import run_dedup_stream

    indir, outdir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ck"))
    run = lambda: run_dedup_stream(  # noqa: E731
        spark, indir, IMG_SCHEMA, key_col="phash", order_col="image_id",
        output_dir=outdir, checkpoint_dir=ckpt, state_timeout_s=1)

    def removed(progress) -> int:
        return sum(int(getattr(so, "numRowsRemoved", 0) or 0)
                   for p in progress
                   for so in (getattr(p, "stateOperators", None) or []))

    # run 1: keys 1 and 2 first seen (a slow run may already expire them
    # in its own trailing cleanup batch — count those removals too)
    _write_batch(spark, indir, [("img-a1", 1, "c"), ("img-b1", 2, "c")])
    total_removed = removed(run())
    time.sleep(1.5)            # both keys idle past the 1s window

    extra_key, deadline = 100, time.time() + 120
    while total_removed < 2:
        assert time.time() < deadline, \
            f"state timers never fired; cumulative removed={total_removed}"
        _write_batch(spark, indir, [(f"img-x{extra_key}", extra_key, "c")])
        total_removed += removed(run())
        extra_key += 1
        if total_removed < 2:
            time.sleep(1.0)

    # keys 1 and 2 reappear after their retirement → both are re-admitted
    # (the unbounded op — see the checkpoint-resume tests — would suppress
    # them forever)
    _write_batch(spark, indir, [("img-a2", 1, "c"), ("img-b3", 2, "c")])
    run()

    got = sorted(r.image_id for r in spark.read.parquet(outdir).collect()
                 if not r.image_id.startswith("img-x"))
    assert got == ["img-a1", "img-a2", "img-b1", "img-b3"]


class _ReplayQuery:
    """Stand-in for a StreamingQuery whose ``recentProgress`` grows by one
    committed batch per poll, replaying ``batches`` (numInputRows each)."""

    def __init__(self, batches, shown: int):
        from types import SimpleNamespace
        self.progress = [SimpleNamespace(batchId=i, numInputRows=n)
                         for i, n in enumerate(batches)]
        self.shown, self.isActive, self.stops = shown, True, 0

    @property
    def recentProgress(self):
        out = self.progress[:self.shown]
        self.shown = min(self.shown + 1, len(self.progress))
        return out

    def stop(self):
        self.stops += 1
        self.isActive = False

    def awaitTermination(self, timeout=None):
        return True


def test_await_drained_waits_for_zero_batch_after_late_data():
    """zero, zero, data: a data batch committed after two zero-input
    batches is not drained — the query must run on until a zero-input
    batch follows it (regression: "two zero-input batches anywhere"
    stopped the query right after the data batch)."""
    from p3_osm_transformer_spark.streaming.stateful import await_drained
    q = _ReplayQuery([0, 0, 5, 0], shown=3)
    prog = await_drained(q, timeout_s=30, state_timeout_set=True)
    assert [p.batchId for p in prog] == [0, 1, 2, 3]
    assert q.stops == 1


def test_await_drained_stops_on_two_trailing_zero_batches():
    """A restart with no new data (only zero-input batches) stops once
    the two highest committed batchIds are both zero-input."""
    from p3_osm_transformer_spark.streaming.stateful import await_drained
    q = _ReplayQuery([0, 0, 0], shown=1)
    prog = await_drained(q, timeout_s=30, state_timeout_set=True)
    assert [p.batchId for p in prog] == [0, 1]
    assert q.stops == 1


def test_sessionize_late_event_flagged_and_repaired_to_batch_twin(spark, tmp_path):
    """Late-data mechanism (VERDICT r2 #6): an out-of-order cross-batch
    event is (a) flagged late_arrival in the streaming output and (b)
    repaired by the batch twin so the final assignment equals the q23
    rule over the full ordered history."""
    import datetime as dt

    from p3_osm_transformer_spark.streaming.sessionize import (
        run_sessionize_stream,
        sessionize_batch,
        sessionize_repair,
    )

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)

    def ev(uid, eid, minutes):
        return (uid, eid, t0 + dt.timedelta(minutes=minutes))

    # user 1: batch2 delivers an event BEFORE the batch1 events (late) —
    # in true ts order it BRIDGES the 40-min gap between eid 1 and eid 2
    # (20+25 min hops < 30 min) so the batch twin yields ONE session;
    # arrival order had opened two.  user 2 is fully in order.
    batch1 = [ev(1, 1, 0), ev(1, 2, 40), ev(2, 10, 0)]
    batch2 = [ev(1, 3, 20), ev(2, 11, 10)]
    indir, outdir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ck"))
    for batch in (batch1, batch2):
        spark.createDataFrame(batch, EV_SCHEMA).coalesce(1) \
            .write.mode("append").parquet(indir)
        run_sessionize_stream(spark, indir, EV_SCHEMA, outdir, ckpt,
                              gap_s=1800)

    stream_out = spark.read.parquet(outdir)
    flagged = {(r.user_id, r.event_id)
               for r in stream_out.filter("late_arrival").collect()}
    assert flagged == {(1, 3)}

    all_events = spark.createDataFrame(batch1 + batch2, EV_SCHEMA)
    fixed = sessionize_repair(all_events, stream_out)
    got = {(r.user_id, r.event_id): r.session_idx for r in fixed.collect()}
    want = {(r.user_id, r.event_id): r.session_idx
            for r in sessionize_batch(all_events).collect()}
    assert got == want
    assert got[(1, 1)] == got[(1, 3)] == got[(1, 2)] == 1   # bridged
    # untouched user kept the streaming rows
    assert got[(2, 10)] == 1 and got[(2, 11)] == 1
