"""Quick self-test of the benchmark's generators, reference models and span
arithmetic; no Spark, a few seconds.

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import os
import shutil
import sys
import time
from collections import Counter
from concurrent.futures import ThreadPoolExecutor

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
from spans import Tracer, union_length, window_jobs  # noqa: E402


def replay_checks(log: gen.ChangeLog, key_of: dict[str, str]) -> None:
    """Every before-image is the row's current image; every create is new."""
    state: dict = {t: {} for t in key_of}
    for table, op, before, after in log.events:
        rows, key = state[table], key_of[table]
        if op in ("c", "r"):
            assert before is None and after[key] not in rows, (table, op, after)
        else:
            assert rows.get(before[key]) == before, (table, op, before)
        gen._apply(rows, key, op, before, after)


def test_join_log() -> None:
    a = gen.join_log(7, 6_000, 300)
    assert a.lines == gen.join_log(7, 6_000, 300).lines, "same seed, same log"
    assert a.lines != gen.join_log(8, 6_000, 300).lines, "other seed, other log"
    replay_checks(a, {"orders": "o_id", "customers": "c_id"})
    mix = Counter((t, op) for t, op, _, _ in a.events)
    n = len(a.events)
    for (t, op), share in {("orders", "c"): 0.65, ("orders", "u"): 0.17,
                           ("orders", "d"): 0.08}.items():
        assert abs(mix[(t, op)] / n - share) < 0.02, (t, op, mix[(t, op)] / n)
    dims = mix[("customers", "c")] + mix[("customers", "u")]
    assert abs(dims / n - 0.10) < 0.02 and mix[("customers", "d")] == 0


def test_agg_and_sink_models() -> None:
    log = gen.join_log(5, 3_000, 100)
    final: dict = {}
    for table, op, before, after in log.events:  # last image per key, in log order
        if table != "orders":
            continue
        final.pop((before or after)["o_id"], None)
        if op != "d":
            final[after["o_id"]] = after
    groups = Counter()
    sums = Counter()
    for r in final.values():
        groups[r["cust_id"]] += 1
        sums[r["cust_id"]] += r["amount"]
    assert gen.agg_view_model(log, "orders") == {(k, groups[k], sums[k]) for k in groups}
    rows = gen.sink_rows_model(log, "orders")
    ops = Counter(op for t, op, _, _ in log.events if t == "orders")
    assert len(rows) == sum(ops.values()) + ops["u"]
    assert len(set(rows)) == len(rows)


def _fact(o_id, cust, ts):
    return {"o_id": o_id, "cust_id": cust, "amount": 1, "ts": ts}


def test_join_ttl_model() -> None:
    """Hand-built log: the TTL rule of ``streaming/ttl.py``, epoch by epoch."""
    log = gen.ChangeLog()
    log.emit("customers", "c", None, {"c_id": 0, "c_name": "a", "c_tier": 1}, 0)
    log.emit("orders", "c", None, _fact(1, 0, 100), 100)
    log.emit("orders", "c", None, _fact(2, 0, 150), 150)      # epoch 0 ends, wm 150
    log.emit("orders", "c", None, _fact(3, 0, 400), 400)      # epoch 1: cutoff 50
    log.emit("orders", "u", _fact(2, 0, 150), _fact(2, 0, 500), 500)  # epoch 1 ends, wm 500
    log.emit("orders", "c", None, _fact(4, 1, 900), 900)      # epoch 2: cutoff 400
    log.emit("orders", "u", _fact(1, 0, 100), _fact(1, 0, 950), 950)  # revives fact 1
    ends = [3, 5, 7]
    view = gen.join_view_model(log, ends, ttl=100)
    # epoch 2 expires facts 1 (ts 100) and 3 (ts 400); fact 1 comes back with
    # its update; fact 4 has no customer; fact 2 (ts 500) survives
    assert {r[0] for r in view} == {1, 2}, view
    assert (1, 0, 1, 950, 0, "a", 1) in view
    # one epoch: no watermark before it, so nothing expires
    assert {r[0] for r in gen.join_view_model(log, [7], ttl=100)} == {1, 2, 3}
    # a TTL longer than the log keeps every matched fact
    assert {r[0] for r in gen.join_view_model(log, ends, ttl=10**9)} == {1, 2, 3}


def test_spans() -> None:
    assert union_length([(0, 2), (1, 3), (5, 6), (6, 6)]) == 4
    tr = Tracer()
    with tr.span("epoch", root="epoch-1"):
        with tr.span("outer"):
            with tr.span("inner"):
                pass
    spans = {s["name"]: s for s in tr.spans}
    assert spans["inner"]["parent"] == spans["outer"]["id"]
    assert spans["outer"]["parent"] == spans["epoch"]["id"]
    assert spans["epoch"]["parent"] is None and spans["inner"]["ctx"] == "epoch-1"
    assert tr.self_time("outer") <= tr.total("outer")
    assert tr.total("outer", {"epoch-2"}) == 0
    assert tr.self_time("epoch") <= tr.total("epoch") - tr.total("outer") + 1e-6
    jobs = [{"start": 1.0, "end": 2.0, "tasks": 3}, {"start": 1.5, "end": 4.0, "tasks": 1},
            {"start": 9.0, "end": 9.5, "tasks": 7}]
    w = window_jobs(jobs, 0.0, 5.0)
    assert (w["jobs"], w["tasks"], w["busy_s"], w["gap_s"]) == (2, 4, 3.0, 2.0)


def test_spans_on_pool_threads() -> None:
    """A span opened on a ``ThreadPoolExecutor`` worker is a child of the
    span that submitted the task, and its time is not the submitter's own."""
    submit = ThreadPoolExecutor.submit
    tr = Tracer()
    tr.patch_pools()
    try:
        with tr.span("epoch", root="epoch-1"):
            with tr.span("join"):
                with ThreadPoolExecutor(max_workers=2) as pool:
                    futs = [pool.submit(_sleep_span, tr, "upsert", 0.05) for _ in range(2)]
                    [f.result() for f in futs]
        with ThreadPoolExecutor(max_workers=1) as pool:
            pool.submit(_sleep_span, tr, "orphan", 0.0).result()
    finally:
        ThreadPoolExecutor.submit = submit
    spans = {s["name"]: s for s in tr.spans}
    assert all(s["parent"] == spans["join"]["id"] for s in tr.named("upsert"))
    assert spans["orphan"]["parent"] is None and spans["orphan"]["ctx"] is None
    assert tr.total("join") >= 0.05
    assert tr.self_time("join") < tr.total("join") - 0.04, (tr.self_time("join"),
                                                            tr.total("join"))


def _sleep_span(tr: Tracer, name: str, seconds: float) -> None:
    with tr.span(name):
        time.sleep(seconds)


def test_tables() -> None:
    import pyarrow.parquet as pq

    out = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".work", "selftest-tables")
    try:
        gen.write_tables(out, 42, scale=0.001)
        want = {
            "lineitem": ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
                         "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
                         "l_linestatus", "l_shipdate"],
            "events": ["event_id", "ts", "user_id", "event_type", "value", "props"],
            "documents": ["doc_id", "text", "lang", "source", "n_chars"],
            "embeddings": ["vec_id", "embedding", "label"],
        }
        for name, cols in want.items():
            assert pq.read_schema(os.path.join(out, f"{name}.parquet")).names == cols, name
        first = pq.read_table(os.path.join(out, "documents.parquet")).to_pylist()
        gen.write_tables(out, 42, scale=0.001)
        assert pq.read_table(os.path.join(out, "documents.parquet")).to_pylist() == first
    finally:
        shutil.rmtree(out, ignore_errors=True)


def main() -> int:
    tests = [v for k, v in globals().items() if k.startswith("test_")]
    for t in tests:
        t()
        print(f"ok {t.__name__}")
    print(f"{len(tests)} passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
