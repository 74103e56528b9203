"""The stream workload: a pre-written Debezium-JSON log drained through the
``cdclog`` stream source into the IVM consumers.

Drain protocol: a processing-time trigger and ``processAllAvailable()``
(``availableNow`` ends after one micro-batch with this source), then the
query is stopped only once no trigger is in flight.  Rows are counted from
the committed end offsets, not ``numInputRows``, which counts a line again
each time a ``foreachBatch`` consumer re-reads the batch.
"""

from __future__ import annotations

import datetime
import json
import os
import sys
import time

import gen
from common import SETUPS, dir_stats, geomean, median

#: small epochs: fixed per-epoch driver cost dominates
JOIN_EPOCH_LINES = 2_000
JOIN_DIMS = 2_000
#: facts expire once the watermark is one epoch of event time past them,
#: so expiry fires from the third epoch on
JOIN_TTL_MS = JOIN_EPOCH_LINES * 10
#: seconds a timed epoch takes on the 4-core reference host: turns
#: ``--seconds`` into a number of timed epochs
JOIN_EPOCH_EST_S = 7.0
#: the sink folds its loose epochs whenever more than this many are loose
SINK_COMPACT_THRESHOLD = 2
TRIGGER = "100 milliseconds"
#: state-table buckets of every consumer, sized to the few thousand keys a
#: run holds (the constructors' default, 64, suits far larger state)
BUCKETS = 8


def timed_epochs(seconds: int, est_epoch_s: float) -> int:
    """Epochs measured after the set-up epoch: a fixed function of
    ``--seconds``, so every commit does the same work."""
    return max(2, round(seconds / est_epoch_s))


def physical(spec):
    from pyspark.sql import types as T

    types = {"long": T.LongType(), "int": T.IntegerType(), "string": T.StringType()}
    return T.StructType([T.StructField(n, types[t], True) for n, t in spec[1]])


def _iso_s(ts: str) -> float:
    return datetime.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _end_pos(progress: dict) -> int:
    off = progress["sources"][0]["endOffset"]
    if isinstance(off, str):
        off = json.loads(off)
    if off.get("phase") != "log" or off.get("file") not in ("", gen.LOG_FILE):
        raise ValueError(f"unexpected end offset {off}")
    return int(off["pos"])


def drain(ctx, res, log_dir: str, work_dir: str, max_lines: int, consume,
          label: str = "") -> list[dict]:
    """Run ``consume(batch_df, epoch_id)`` over the whole log in ``log_dir``,
    checkpointing under ``work_dir``; return the committed epochs' progress
    records.  ``label`` prefixes the epochs' span contexts."""
    from flink_cdc_log_connectors_spark.sources.datasource import register

    spark = ctx.spark
    register(spark)
    raw = (spark.readStream.format("cdclog")
           .option("path", log_dir)
           .option("maxLinesPerBatch", str(max_lines))
           .load())
    tracer = ctx.tracer

    def on_batch(df, epoch_id):
        if tracer is None:
            consume(df, epoch_id)
        else:
            with tracer.span("epoch", root=f"{label}epoch-{epoch_id}"):
                consume(df, epoch_id)

    query = (raw.writeStream.foreachBatch(on_batch)
             .option("checkpointLocation", os.path.join(work_dir, "checkpoint"))
             .trigger(processingTime=TRIGGER)
             .start())
    error = None
    try:
        query.processAllAvailable()
    except Exception as e:  # noqa: BLE001 — an epoch raised: counted, reported
        error = e
    deadline = time.time() + 60
    while query.isActive and query.status["isTriggerActive"] and time.time() < deadline:
        time.sleep(0.01)
    query.stop()
    done: dict[int, dict] = {}
    for p in query.recentProgress:
        d = json.loads(p.json) if hasattr(p, "json") else p
        if "addBatch" in (d.get("durationMs") or {}):
            done[d["batchId"]] = d
    epochs = [done[k] for k in sorted(done)]
    res.attempted += len(epochs) + (1 if error is not None else 0)
    if error is not None:
        res.failed += 1
        res.notes.append(f"epoch {len(epochs)} raised: {str(error).splitlines()[0][:300]}")
    return epochs


def _first_commit(epochs: list[dict]) -> float:
    """Wall time at which the first epoch committed."""
    return _iso_s(epochs[0]["timestamp"]) + epochs[0]["durationMs"]["triggerExecution"] / 1000.0


def summarize(ctx, res, setups: list[float], epochs: list[dict], n_lines: int,
              state_dirs) -> None:
    """End-to-end metrics of a drain, and the per-layer ones it yields;
    ``setups`` are the run's set-up times."""
    trig = [e["durationMs"]["triggerExecution"] / 1000.0 for e in epochs]
    start = [_iso_s(e["timestamp"]) for e in epochs]
    ends = [_end_pos(e) for e in epochs]
    res.check("drained_whole_log", bool(ends) and ends[-1] == n_lines,
              f"committed {ends[-1] if ends else 0} of {n_lines} lines")
    if len(epochs) < 2:
        raise RuntimeError("the drain committed fewer than two epochs")
    timed = range(1, len(epochs))
    pass_s = start[-1] + trig[-1] - start[1]
    size, files = dir_stats(*state_dirs)
    print("# setup_s " + " ".join(f"{t:.2f}" for t in setups), file=sys.stderr)
    res.end_to_end.update({
        "setup_s": median(setups),
        "pass_s": pass_s,
        "step_p50_s": median([trig[i] for i in timed]),
        "step_geomean_s": geomean([trig[i] for i in timed]),
        "state_mb": size / 1e6,
    })
    res.layer("driver.peak_rss_mb", ctx.peak_rss_mb(), "MB")
    lines = ends[-1] - ends[0]
    print(f"# rows_per_s {lines / pass_s:.1f} rows/s ({lines} lines in {len(timed)} epochs)",
          file=sys.stderr)
    res.layer("stream.rows_per_s", lines / pass_s, "rows/s")
    res.layer("stream.epoch_max_s", max(trig[i] for i in timed), "s")
    res.layer("streaming.statetable.files", files, "count")

    def per_epoch(*keys):
        return sum(epochs[i]["durationMs"].get(k, 0) for i in timed for k in keys) / 1000.0 / len(timed)

    res.layer("engine.source_read_s", per_epoch("latestOffset", "getBatch"), "s")
    res.layer("engine.offset_log_s", per_epoch("walCommit", "commitOffsets"), "s")
    res.layer("engine.query_planning_s", per_epoch("queryPlanning"), "s")
    res.layer("engine.add_batch_s", per_epoch("addBatch"), "s")
    print("# epoch_s " + " ".join(f"{t:.2f}" for t in trig), file=sys.stderr)
    ctx.timed_units = len(timed)
    ctx.timed_windows = [(f"epoch-{epochs[i]['batchId']}", start[i], start[i] + trig[i])
                         for i in timed]


def run_join(ctx, res) -> None:
    """``join_small_epochs``: 2,000-line epochs of a facts + dims log.  One
    foreachBatch drives the facts ⋈ dims view with fact TTL, a GROUP BY view
    over the facts, and the exactly-once append sink of the parsed fact
    change log.

    Set-up (a fresh session, fresh consumers, the first committed epoch) is
    done ``SETUPS`` times: the earlier set-ups drain a log of the first
    epoch only and stop their session; the last one goes on into the timed
    epochs.  ``setup_s`` is the median."""
    n_epochs = 1 + timed_epochs(ctx.seconds, JOIN_EPOCH_EST_S)
    log = gen.join_log(ctx.seed, n_epochs * JOIN_EPOCH_LINES, JOIN_DIMS)
    log.write(ctx.path("log"))
    log.write(ctx.path("setup-log"), JOIN_EPOCH_LINES)

    setups = []
    for k in range(SETUPS - 1):
        t0 = time.time()
        ctx.start_spark()
        consumers = _join_consumers(ctx.path(f"setup{k}"))
        epochs = drain(ctx, res, ctx.path("setup-log"), ctx.path(f"setup{k}"),
                       JOIN_EPOCH_LINES, consumers[-1], label=f"setup{k}-")
        ends = [_end_pos(e) for e in epochs]
        res.check(f"setup{k}_drained", ends == [JOIN_EPOCH_LINES],
                  f"committed epochs ending at {ends}")
        if epochs:
            setups.append(_first_commit(epochs) - t0)
        ctx.stop_spark()

    t0 = time.time()
    spark = ctx.start_spark()
    join, agg, sink, consume = _join_consumers(ctx.work)
    epochs = drain(ctx, res, ctx.path("log"), ctx.work, JOIN_EPOCH_LINES, consume)
    if epochs:
        setups.append(_first_commit(epochs) - t0)
    summarize(ctx, res, setups, epochs, len(log.lines), [ctx.path("state")])
    res.layer("streaming.ttl.expired_rows", join.expired_applied, "count")

    view = join.read_view(spark)
    got = {tuple(r) for r in view.collect()} if view is not None else set()
    want = gen.join_view_model(log, [_end_pos(e) for e in epochs], JOIN_TTL_MS)
    res.check("join_view", got == want,
              f"{len(got - want)} unexpected, {len(want - got)} missing of {len(want)} rows")
    res.check("ttl_fired", join.expired_applied > 0, "no fact expired during the drain")
    _check_agg_and_sink(ctx, res, log, agg, sink)


def _join_consumers(root: str):
    """The three consumers, with their state under ``root/state``, and the
    ``foreachBatch`` function driving them: the join, ``ChangelogAggregate``
    (per-customer count and sum of ``amount``) and an
    ``ExactlyOnceAppendSink`` of the parsed fact change log."""
    from pyspark.sql import functions as F

    from flink_cdc_log_connectors_spark.sources.debezium import parse_debezium
    from flink_cdc_log_connectors_spark.streaming.aggregates import ChangelogAggregate
    from flink_cdc_log_connectors_spark.streaming.joins import ChangelogJoin, JoinSide
    from flink_cdc_log_connectors_spark.streaming.sink import ExactlyOnceAppendSink

    state = os.path.join(root, "state")
    table, facts = gen.JOIN_FACT[0], physical(gen.JOIN_FACT)
    join = ChangelogJoin(
        JoinSide(table, facts, "o_id", "cust_id"),
        JoinSide(gen.JOIN_DIM[0], physical(gen.JOIN_DIM), "c_id", "c_id"),
        os.path.join(state, "join"),
        n_buckets=BUCKETS,
        left_ttl=JOIN_TTL_MS,
        left_ttl_col="ts",
    )
    agg = ChangelogAggregate(table, facts, "o_id", ["cust_id"], os.path.join(state, "agg"),
                             sum_cols=["amount"], n_buckets=BUCKETS)
    sink = ExactlyOnceAppendSink(os.path.join(state, "sink"),
                                 compact_threshold=SINK_COMPACT_THRESHOLD, keep_recent=1)
    of_table = F.get_json_object(F.col("value"), "$.source.table") == table

    def consume(batch, epoch_id):
        join.process_batch(batch, epoch_id)
        agg.process_batch(batch, epoch_id)
        sink.process_batch(parse_debezium(batch.filter(of_table), facts), epoch_id)

    return join, agg, sink, consume


def _check_agg_and_sink(ctx, res, log, agg, sink) -> None:
    from pyspark.sql import functions as F

    spark = ctx.spark
    folds = sink._load_ledger()["compact_seq"]
    res.layer("streaming.sink.folds", folds, "count")
    if folds < 1:
        res.notes.append("the sink never folded its loose epochs")
    view = agg.read_view(spark)
    got = {tuple(r) for r in view.collect()} if view is not None else set()
    want = gen.agg_view_model(log, agg.table)
    res.check("agg_view", got == want,
              f"{len(got - want)} unexpected, {len(want - got)} missing of {len(want)} groups")

    import pandas as pd

    committed = sink.read_committed(spark).select(
        F.col("_src.pos").alias("pos"), F.col("_src.img_seq").alias("img"), "op")
    expected = spark.createDataFrame(
        pd.DataFrame(gen.sink_rows_model(log, agg.table), columns=["pos", "img", "op"]),
        "pos long, img int, op string")
    extra = committed.exceptAll(expected).count()
    missing = expected.exceptAll(committed).count()
    res.check("sink_exactly_once", extra == 0 and missing == 0,
              f"{extra} duplicated or unexpected, {missing} missing change rows")
