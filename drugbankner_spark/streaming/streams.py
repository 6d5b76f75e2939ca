"""Structured Streaming wrappers (E6): readStream → watermark → the same
batch kernels from ``windows`` → sink.

Late data beyond the watermark is dropped from windowed state;
``dropDuplicatesWithinWatermark`` gives bounded-state streaming dedup
(the streaming face of E1). Tests drive these with a file source and
``trigger(availableNow=True)`` into a memory sink, asserting equality
with the batch kernels — the strongest property a streaming wrapper can
promise (batch-stream unification).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from drugbankner_spark.streaming.windows import (
    session_windows,
    sliding_counts,
    tumbling_counts,
)

EVENTS_STREAM_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("value", T.DoubleType()),
    T.StructField("props", T.StringType()),
])


def read_event_stream(
    spark: SparkSession, path: str, watermark: str = "10 minutes"
) -> DataFrame:
    """File-based event stream (each new file = a micro-batch; swap the
    format for kafka in production — the downstream plan is identical)."""
    stream = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .parquet(path)
    )
    return stream.withWatermark("ts", watermark)


def tumbling_stream(events: DataFrame, width: str = "5 minutes") -> DataFrame:
    return tumbling_counts(events, width)


def sliding_stream(
    events: DataFrame, width: str = "10 minutes", slide: str = "5 minutes"
) -> DataFrame:
    return sliding_counts(events, width, slide)


def session_stream(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    return session_windows(events, gap)


def closed_sessions_stream(
    events: DataFrame, gap: str = "30 minutes"
) -> DataFrame:
    """The PRODUCTION sessionization face (VERDICT r04 next #3): the same
    ``session_window`` kernel, intended to run in **append** output mode
    on a watermarked stream — each micro-batch emits only sessions whose
    end has passed the watermark (closed forever), and their state is
    immediately evicted. State is O(open sessions), bounded by the
    watermark horizon — unlike complete mode, which retains and re-emits
    the FULL session table every epoch (unbounded at stream scale; fine
    only as a parity demonstration).

    Deterministic contract (tested): over a finite input with final
    watermark ``W = max(ts) - delay``, append output equals the batch
    kernel restricted to ``session_end <= W`` — still-open sessions
    (within ``delay`` of the stream head) emit on a later batch once
    real time produces one.
    """
    return session_windows(events, gap)


def parse_props_stream(events: DataFrame) -> DataFrame:
    """Stateless streaming face of ``windows.parse_props`` — runs in
    append mode (no aggregation state at all): each micro-batch emits
    its parsed rows and the union over batches equals the batch answer."""
    from drugbankner_spark.streaming.windows import parse_props

    return parse_props(events)


def dedup_stream(events: DataFrame) -> DataFrame:
    """Stateful streaming dedup with bounded state: duplicates arriving
    within the watermark horizon are dropped; state for older keys is
    evicted (E1's streaming form)."""
    return events.dropDuplicatesWithinWatermark(["event_id"])


def stateful_user_totals(
    events: DataFrame, idle_gap_ms: int | None = None
) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): per
    user, maintain cumulative (event count, value sum) state across
    micro-batches, emitting the updated totals each batch. The pattern
    for operators Spark's built-ins can't express (running sketches,
    session models with custom logic). State is per-key and partitioned —
    scales with user cardinality, not event volume.

    ``idle_gap_ms`` (ADVICE r06 — the same bound transition_stream
    carries): with it set, an entity whose last event fell
    ``idle_gap_ms`` behind the watermark is evicted, bounding TOTAL
    state on an unbounded entity universe; a returning entity restarts
    its totals from zero (the documented trade — totals are
    per-activity-era, like a session restart). Requires a watermark on
    the input stream. Default None keeps cumulative-forever semantics
    with the unbounded-state caveat."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = "user_id bigint, n_events bigint, sum_value double"
    state_schema = "n bigint, s double"

    def update(key, pdfs, state):
        if idle_gap_ms is not None and state.hasTimedOut:
            state.remove()
            yield pd.DataFrame(
                {"user_id": [], "n_events": [], "sum_value": []}
            )
            return
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].sum())
        state.update((n, s))
        if idle_gap_ms is not None:
            state.setTimeoutTimestamp(
                state.getCurrentWatermarkMs() + idle_gap_ms
            )
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [round(s, 6)]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update",
        GroupStateTimeout.EventTimeTimeout if idle_gap_ms is not None
        else GroupStateTimeout.NoTimeout,
    )


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    lookback: str = "1 hour",
) -> DataFrame:
    """Stream-stream INNER join with a time-range condition: each left
    event joins right events of the same user in ``[l.ts - lookback,
    l.ts]`` — the streaming face of the batch range join
    (operators/temporal.range_join_binned).

    Both inputs must carry watermarks: the range condition + watermark
    bound the join state Spark retains per side (right rows older than
    ``watermark + lookback`` are evicted), so state is O(rate × horizon),
    not O(stream length). This is the canonical enrich-in-flight pattern
    (purchases × recent clicks) at any scale.

    Left columns are kept as-is; right contributes ``r_ts`` and
    ``r_value``. Inner join only — that is what Spark supports without
    extra outer-join watermark constraints, and the batch-equality test
    pins the semantics.
    """
    r = right.select(
        F.col("user_id").alias("r_user"),
        F.col("ts").alias("r_ts"),
        F.col("value").alias("r_value"),
    )
    return left.join(
        r,
        F.expr(
            f"user_id = r_user AND r_ts >= ts - INTERVAL {lookback}"
            " AND r_ts <= ts"
        ),
        "inner",
    ).drop("r_user")


def stream_interval_join_outer(
    left: DataFrame,
    right: DataFrame,
    lookback: str = "1 hour",
) -> DataFrame:
    """LEFT OUTER face of :func:`stream_interval_join` — the production
    enrich-in-flight shape when unmatched events must still flow (a
    purchase with no recent click emits with NULL ``r_ts``/``r_value``
    instead of vanishing). Same join condition and state bound; the
    extra contract is EMISSION TIMING: an unmatched left row is held
    until the watermark proves no matching right row can still arrive
    (wm > l.ts + allowed lateness), then emitted null-padded exactly
    once. Both sides must carry watermarks — Spark rejects outer
    stream-stream joins without them, because unmatched-row emission is
    watermark-driven. Batch DataFrames run the identical plan
    eagerly (the stream==batch-on-closed test pins both faces)."""
    r = right.select(
        F.col("user_id").alias("r_user"),
        F.col("ts").alias("r_ts"),
        F.col("value").alias("r_value"),
    )
    return left.join(
        r,
        F.expr(
            f"user_id = r_user AND r_ts >= ts - INTERVAL {lookback}"
            " AND r_ts <= ts"
        ),
        "left_outer",
    ).drop("r_user")


def run_foreach_batch(
    query_df: DataFrame,
    batch_fn,
    output_mode: str = "update",
    max_files_per_trigger: int | None = None,
) -> None:
    """Drive a streaming DF through a ``foreachBatch`` sink over all
    available input. ``batch_fn(batch_df, epoch_id)`` is the custom-sink
    escape hatch: upserts into a JDBC/Delta table, multi-sink fan-out —
    anything the built-in sinks can't express. Spark re-runs a failed
    epoch with the SAME epoch_id, so idempotency-by-epoch gives
    effectively-exactly-once delivery."""
    w = query_df.writeStream.foreachBatch(batch_fn).outputMode(output_mode)
    if max_files_per_trigger is not None:
        w = w.option("maxFilesPerTrigger", max_files_per_trigger)
    q = w.trigger(availableNow=True).start()
    q.awaitTermination()


def parquet_overwrite_sink(path: str):
    """foreachBatch sink for COMPLETE-mode aggregations: each epoch holds
    the full current result, so overwriting the target with the newest
    epoch is idempotent (a replayed epoch rewrites identical content) and
    the final files equal the batch answer."""
    def write(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(path)

    return write


def run_to_memory(
    query_df: DataFrame, name: str, output_mode: str = "append",
) -> DataFrame:
    """Drive a streaming DF to completion over all available input
    (trigger availableNow) into an in-memory table; returns the result as
    a batch DF of the streaming DF's session. Test/debug harness —
    production sinks are kafka/parquet with checkpointLocation.

    The query plans with its session's ``spark.sql.shuffle.partitions``
    (streaming pins it into the state stores at start); a caller that
    wants another width builds the stream on a session that carries it
    (``spark.newSession()``), never by changing a shared session's
    conf."""
    q = (
        query_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return query_df.sparkSession.table(name)


def enrich_stream(
    events: DataFrame, dim: DataFrame, key: str, how: str = "left"
) -> DataFrame:
    """Stream-static join (round 5): enrich each in-flight event with a
    BATCH dimension — the everywhere-pattern (events × user profile,
    clicks × catalog). The static side is broadcast; Spark re-plans it
    per micro-batch, so a dim refreshed underneath (e.g. an SCD2 table
    rewritten by the batch pipeline) is picked up on the next trigger
    without restarting the query. Stateless — no watermark interplay,
    unlike the stream-stream range join above."""
    return events.join(F.broadcast(dim), key, how)


def funnel_stream(
    events: DataFrame, steps: list[str],
    idle_gap_ms: int | None = None,
) -> DataFrame:
    """Streaming ordered funnel (round 6, applyInPandasWithState): per
    entity, maintain the greedy earliest-match step timestamps across
    micro-batches and emit the updated progress each batch — the
    continuous face of temporal.funnel_analysis.

    Semantics contract: events are processed in (ts, event_id) order
    WITHIN each batch; across batches, progress equals the batch
    operator whenever per-entity arrival is time-ordered (the usual
    per-key-ordered delivery of a partitioned log). An out-of-order
    straggler that would have matched an EARLIER step slot is ignored
    once a later slot is filled — greedy online matching cannot
    retroactively rewrite history without keeping the full event log
    per entity (which is exactly what the batch operator is for).
    State per entity = one epoch-seconds timestamp per matched step,
    bounded by len(steps) — independent of event volume.

    ``idle_gap_ms`` (ADVICE r06 — the same bound transition_stream
    carries): per-entity state is small but the ENTITY UNIVERSE is
    unbounded on a 100 TB clickstream; with it set, an entity idle
    ``idle_gap_ms`` behind the watermark is evicted and a late return
    restarts the funnel from step 0 (equivalent to a session split).
    Requires a watermark on the input stream. Default None keeps
    progress forever with the unbounded-state caveat."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    n_steps = len(steps)
    out_schema = (
        "user_id bigint, n_steps_completed int, completed boolean"
    )
    state_schema = ", ".join(f"t{i} double" for i in range(n_steps))

    def update(key, pdfs, state):
        if idle_gap_ms is not None and state.hasTimedOut:
            state.remove()
            yield pd.DataFrame({
                "user_id": [], "n_steps_completed": [], "completed": [],
            })
            return
        got = list(state.get) if state.exists else [None] * n_steps
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts", "event_id"])
            for ts, tp in zip(pdf["ts"], pdf["event_type"]):
                depth = sum(1 for t in got if t is not None)
                if depth >= n_steps:
                    break
                if tp == steps[depth]:
                    tsec = ts.timestamp()
                    if depth == 0 or tsec > got[depth - 1]:
                        got[depth] = tsec
        state.update(tuple(got))
        if idle_gap_ms is not None:
            state.setTimeoutTimestamp(
                state.getCurrentWatermarkMs() + idle_gap_ms
            )
        depth = sum(1 for t in got if t is not None)
        yield pd.DataFrame({
            "user_id": [key[0]],
            "n_steps_completed": [depth],
            "completed": [depth == n_steps],
        })

    return events.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update",
        GroupStateTimeout.EventTimeTimeout if idle_gap_ms is not None
        else GroupStateTimeout.NoTimeout,
    )


def transition_stream(
    events: DataFrame, idle_gap_ms: int | None = None
) -> DataFrame:
    """Streaming Markov transition pairs (round 6 late,
    applyInPandasWithState): per entity, remember the LAST (state, ts,
    tiebreak) across micro-batches and emit one row per consecutive
    (prev_state, next_state) pair — including the pair that SPANS a
    batch boundary, which a per-batch lag window would drop. Downstream
    aggregation (count + row-normalize) runs on the emitted pairs
    (foreachBatch partials or the memory-sink test harness), so the
    final matrix equals temporal.transition_matrix whenever per-entity
    arrival is time-ordered — the same delivery contract funnel_stream
    documents. State per entity = one (state, ts, event_id) triple,
    independent of event volume.

    ``idle_gap_ms`` bounds TOTAL state at scale: with it set, the
    operator uses EventTimeTimeout and evicts an entity whose last
    event fell ``idle_gap_ms`` behind the watermark — on a 100 TB
    clickstream the entity universe grows without bound, and "one
    small triple per entity, forever" is still an unbounded state
    store. The documented trade: a pair separated by more than the gap
    is NOT stitched (the entity restarts fresh), which mirrors how a
    session gap would split it anyway. Default None keeps the exact
    stitch-everything semantics."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = "user_id bigint, prev_state string, next_state string"
    state_schema = "last_state string, last_ts double, last_id bigint"

    def update(key, pdfs, state):
        if idle_gap_ms is not None and state.hasTimedOut:
            state.remove()
            yield pd.DataFrame(
                {"user_id": [], "prev_state": [], "next_state": []}
            )
            return
        last = state.get if state.exists else (None, None, None)
        last_state = last[0]
        prevs, nexts = [], []
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts", "event_id"])
            for ts, eid, tp in zip(pdf["ts"], pdf["event_id"],
                                   pdf["event_type"]):
                if last_state is not None:
                    prevs.append(last_state)
                    nexts.append(tp)
                last_state = tp
                last = (tp, ts.timestamp(), int(eid))
        state.update(tuple(last))
        if idle_gap_ms is not None:
            state.setTimeoutTimestamp(
                state.getCurrentWatermarkMs() + idle_gap_ms
            )
        yield pd.DataFrame({
            "user_id": [key[0]] * len(prevs),
            "prev_state": prevs,
            "next_state": nexts,
        })

    return events.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "append",
        GroupStateTimeout.EventTimeTimeout if idle_gap_ms is not None
        else GroupStateTimeout.NoTimeout,
    )


def cooccurrence_stream(
    events: DataFrame, idle_gap_ms: int | None = None
) -> DataFrame:
    """Streaming market-basket pairs (round 6 late): per entity, keep
    the DISTINCT item set seen so far (state bounded by item
    vocabulary, not event volume) and emit one canonical (a < b) pair
    row the FIRST time each unordered pair co-occurs in that entity's
    basket — including pairs that span micro-batches, which a
    per-batch groupBy can't see, and never double-emitting when an
    item repeats. Counting the emitted pairs downstream reproduces
    ``temporal.cooccurrence_lift``'s n_ab exactly (stream==batch
    pinned in tests).

    ``idle_gap_ms`` (ADVICE r06 — the same bound transition_stream
    carries): with it set, an entity idle ``idle_gap_ms`` behind the
    watermark is evicted; a returning entity starts a fresh basket, so
    a pair spanning a longer-than-gap silence re-emits (basket-per-era
    semantics — exactly how a session gap would split the basket).
    Requires a watermark on the input stream. Default None keeps the
    exact first-ever-pair semantics with the unbounded-state caveat."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = "user_id bigint, item_a string, item_b string"
    state_schema = "items array<string>"

    def update(key, pdfs, state):
        if idle_gap_ms is not None and state.hasTimedOut:
            state.remove()
            yield pd.DataFrame(
                {"user_id": [], "item_a": [], "item_b": []}
            )
            return
        seen = set(state.get[0]) if state.exists else set()
        a_out, b_out = [], []
        for pdf in pdfs:
            for item in pdf["event_type"]:
                if item is None or item in seen:
                    continue
                for other in seen:
                    lo, hi = sorted((item, other))
                    a_out.append(lo)
                    b_out.append(hi)
                seen.add(item)
        state.update((sorted(seen),))
        if idle_gap_ms is not None:
            state.setTimeoutTimestamp(
                state.getCurrentWatermarkMs() + idle_gap_ms
            )
        yield pd.DataFrame({
            "user_id": [key[0]] * len(a_out),
            "item_a": a_out,
            "item_b": b_out,
        })

    return events.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "append",
        GroupStateTimeout.EventTimeTimeout if idle_gap_ms is not None
        else GroupStateTimeout.NoTimeout,
    )


def cluster_assign_stream(
    vecs: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 10_000,
) -> DataFrame:
    """Streaming k-means ROUTING (round 8): assign each in-flight
    vector to its nearest fitted centroid — the serving face of
    `clustering.kmeans_fit` ("cluster-route every new document as it
    arrives" — topic sharding, SemDeDup cells, cluster-quota
    admission). The centroid table (k×dim grid integers, a dim by
    construction) is COLLECTED once at plan time and baked into one
    per-row expression: quantize the vector, integer squared distance
    to each centroid, argmin via array_min over (dist, cluster_id)
    structs. STATELESS — no aggregation, no watermark, append mode —
    and bit-identical to the batch `_assign_step` because both run the
    same grid-integer arithmetic (the partial sums here fold left-to-
    right per row; integer addition is order-free anyway).

    Output: (id, cluster_id, sq_dist), the batch assignment contract.
    Re-fit centroids land by restarting the query (or blue/green
    queries); Spark re-evaluates STATIC JOIN dims per micro-batch but
    a collected literal is fixed for the query's lifetime — the trade
    for zero per-batch join work."""
    rows = centroids.collect()          # k×dim — bounded by the model
    if not rows:
        raise ValueError("cluster_assign_stream: centroids are empty")
    by_cid: dict = {}
    for r in rows:
        by_cid.setdefault(r["cluster_id"], {})[r["dim"]] = r["c"]
    n_dim = max(max(d) for d in by_cid.values()) + 1
    cents = ", ".join(
        "named_struct('cid', {cid}, 'vals', array({vals}))".format(
            cid=int(cid),
            vals=", ".join(
                f"CAST({int(by_cid[cid].get(j, 0))} AS BIGINT)"
                for j in range(n_dim)
            ),
        )
        for cid in sorted(by_cid)
    )
    best = F.expr(
        f"""array_min(transform(array({cents}), ct -> named_struct(
            'd', aggregate(
                zip_with(
                    transform({vec_col}, x ->
                        CAST(floor(CAST(x AS DOUBLE) * {scale} + 0.5)
                             AS BIGINT)),
                    ct.vals, (a, b) -> (a - b) * (a - b)),
                CAST(0 AS BIGINT), (acc, x) -> acc + x),
            'cid', ct.cid)))"""
    )
    return vecs.select(
        F.col(id_col), best.alias("_best")
    ).select(
        id_col,
        F.col("_best.cid").alias("cluster_id"),
        F.col("_best.d").alias("sq_dist"),
    )
