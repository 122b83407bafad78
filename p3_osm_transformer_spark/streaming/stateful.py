"""Custom stateful streaming operator — first-seen dedup via
``applyInPandasWithState`` (Arrow-batched per-key state).

The reference has no streaming at all (isLongRunning() == false,
OsmRdfTransformer.java:368-372); this is the engine-extension surface the
training-data pipeline needs: exact dedup of an unbounded image/document
stream by key (``phash`` or ``image_id``), where "already seen" must
survive micro-batch boundaries AND checkpoint restarts.  The batch twin is
``operators.dedup.dedup_exact`` (its oracle); at 10^12-row scale the state
store shards by key hash across executors exactly like the batch
hash-aggregate shards its groups, so the plan scales with executor count.

Why applyInPandasWithState and not dropDuplicates: streaming
``dropDuplicates`` keeps state forever with no hook; the explicit state op
(a) carries a per-key occurrence count (lineage metric the north rule
wants), (b) lets a production deployment set a GroupStateTimeout to bound
state for keys whose dedup window has passed.
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import LongType, StructField, StructType


def first_seen_dedup(stream_df: DataFrame, key_col: str,
                     order_col: str,
                     state_timeout_s: int | None = None) -> DataFrame:
    """Emit exactly the first-seen row per ``key_col`` across the whole
    stream; within one micro-batch, the smallest ``order_col`` wins
    (deterministic tie-break, same rule as the batch ``dedup_exact``).

    Output schema = input schema + ``first_batch_rank`` (always 1, the
    batch twin's column) so batch and stream results union cleanly.

    ``state_timeout_s`` bounds state (VERDICT r2 #5): a key idle for that
    long is RETIRED (ProcessingTimeTimeout → state.remove()), so unbounded
    key cardinality costs bounded state — the production retention trade.
    A retired key that reappears is re-admitted (emitted again): dedup
    becomes windowed-by-idleness.  None (default) keeps exact
    whole-stream semantics.
    """
    out_fields = list(stream_df.schema.fields) + [
        StructField("first_batch_rank", LongType())]
    out_schema = StructType(out_fields)
    state_schema = StructType([StructField("n_seen", LongType())])
    in_cols = [f.name for f in stream_df.schema.fields]
    timeout_conf = (GroupStateTimeout.ProcessingTimeTimeout
                    if state_timeout_s else GroupStateTimeout.NoTimeout)

    def fn(key: Any, pdfs: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # idle past the retention window → retire the key's state
            state.remove()
            return
        n_seen = state.get[0] if state.exists else 0
        # Gate on whether the key was seen in a PREVIOUS micro-batch,
        # captured before the chunk loop: one key's micro-batch arrives as
        # multiple Arrow chunks when it exceeds arrow.maxRecordsPerBatch,
        # and the min-order candidate may live in any chunk — gating on the
        # running count would consider only the first chunk.
        seen_before = n_seen > 0
        first: pd.DataFrame | None = None
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            if not seen_before:
                cand = pdf.sort_values(order_col, kind="stable").head(1)
                first = cand if first is None else (
                    pd.concat([first, cand])
                    .sort_values(order_col, kind="stable").head(1))
            n_seen += len(pdf)
        state.update((n_seen,))
        if state_timeout_s:
            state.setTimeoutDuration(state_timeout_s * 1000)
        if first is not None:
            first = first[in_cols].copy()
            first["first_batch_rank"] = 1
            yield first

    return (stream_df.groupBy(key_col)
            .applyInPandasWithState(fn, out_schema, state_schema,
                                    "append", timeout_conf))


def await_drained(query, timeout_s: int, state_timeout_set: bool) -> list:
    """Wait for an availableNow stateful query to finish its work; return
    the committed batches' ``StreamingQueryProgress`` list so callers can
    read state-store metrics (numRowsRemoved/numRowsTotal) instead of
    sequencing timer expiry by wall-clock sleeps.

    Without a state timeout the query self-terminates when the data is
    drained — plain awaitTermination.  WITH ProcessingTimeTimeout, Spark
    keeps scheduling no-data "cleaning up state" batches forever (it
    never checks whether timers remain — measured: 29 empty batches in
    30s with numRowsTotal already 0), so availableNow never terminates on
    its own; instead, stop once the data is drained AND at least one
    zero-input batch has run AFTER the last data batch (expired timers
    fire in every batch, so by then every due retirement has been
    processed).

    The AFTER matters (r5 bug, caught deterministically by
    test_state_timeout_retires_and_readmits_key under load): on a
    checkpoint restart the engine can commit a zero-input cleanup batch
    BEFORE the batch that drains the newly-arrived file, and the old
    "any zero-input batch exists" rule stopped the query right there —
    the pending file was never processed and the run's output was
    silently incomplete.  A run started with NO new data pending is the
    same shape (only zero-input batches) — for that case, the two highest
    committed batchIds being zero-input suffices (the first could have
    raced a concurrent file landing mid-listing; the second sees a stable
    listing).  Two zero-input batches followed by a data batch are NOT
    drained: that data batch still needs a zero-input batch after it."""
    if not state_timeout_set:
        if not query.awaitTermination(timeout_s):
            query.stop()
            raise TimeoutError(
                f"stream did not finish within {timeout_s}s; output is "
                "incomplete")
        return list(query.recentProgress)
    import time as _time
    deadline = _time.time() + timeout_s
    while _time.time() < deadline:
        if not query.isActive:
            return list(query.recentProgress)
        prog = list(query.recentProgress)
        data_ids = [p.batchId for p in prog
                    if (getattr(p, "numInputRows", 0) or 0) > 0]
        zero_ids = [p.batchId for p in prog
                    if getattr(p, "numInputRows", None) == 0]
        last_two = sorted({p.batchId for p in prog})[-2:]
        drained = ((zero_ids and data_ids and max(zero_ids) > max(data_ids))
                   or (len(last_two) == 2 and set(last_two) <= set(zero_ids)))
        if drained:
            query.stop()
            query.awaitTermination(30)
            return prog
        _time.sleep(0.3)
    query.stop()
    raise TimeoutError(
        f"stream did not drain within {timeout_s}s; output is incomplete")


def run_dedup_stream(spark, input_dir: str, schema, key_col: str,
                     order_col: str, output_dir: str,
                     checkpoint_dir: str,
                     state_timeout_s: int | None = None) -> list:
    """File-source driver: dedup everything currently available, append
    survivors to ``output_dir`` parquet, then stop; returns the run's
    committed ``StreamingQueryProgress`` list (state-store metrics per
    batch).  Re-running with the same checkpoint resumes the state store —
    keys seen in an earlier run stay deduped (the snapshot-resume
    semantic, state-store edition)."""
    stream = spark.readStream.schema(schema).parquet(input_dir)
    deduped = first_seen_dedup(stream, key_col, order_col,
                               state_timeout_s=state_timeout_s)
    query = (deduped.writeStream
             .outputMode("append")
             .format("parquet")
             .option("path", output_dir)
             .option("checkpointLocation", checkpoint_dir)
             .trigger(availableNow=True)
             .start())
    return await_drained(query, 300, state_timeout_s is not None)
