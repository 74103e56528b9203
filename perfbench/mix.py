"""``query_mix``: passes of registry queries over tables pinned by
``io.cache_tables``.

Set-up is a fresh session, ``cache_tables`` and one warm-up pass, done
``SETUPS`` times (``setup_s`` is the median); the timed passes follow in
the last session, each in a seed-permuted order.  Every query runs as
``fn(spark, sf_dir).collect()`` followed by ``release_intermediates()``.
The ``*_replay`` witnesses are left out: their ``fn()`` runs a whole
replay eagerly against memoized fixtures and per-process state
directories, so successive passes would do different work.  Results of
the last timed pass are compared with each query's DuckDB oracle in an
untimed step, with the comparison ``scripts/selfcheck.py`` uses.
"""

from __future__ import annotations

import contextlib
import os
import random
import sys
import time

import gen
from common import MIX_QUERIES, ROOT, SETUPS, geomean, median

#: the tables do not depend on the run's seed; the seed orders the queries
TABLE_SEED = 42
#: turns ``--seconds`` into a number of timed passes
PASS_EST_S = 2.5


def timed_passes(seconds: int) -> int:
    return max(2, round(seconds / PASS_EST_S))


def _cached_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


def run(ctx, res) -> None:
    from flink_cdc_log_connectors_spark import io
    from flink_cdc_log_connectors_spark.caching import release_intermediates
    from flink_cdc_log_connectors_spark.registry import all_queries

    sf_dir = ctx.path("tables")
    gen.write_tables(sf_dir, TABLE_SEED)
    tracer = ctx.tracer

    def timed(name: str, fn):
        """``fn()`` with its start and end time, inside a span when tracing."""
        with tracer.span(name) if tracer else contextlib.nullcontext():
            t = time.time()
            out = fn()
            return out, t, time.time()

    results: dict[str, tuple[list, list[str]]] = {}
    times: dict[str, list[float]] = {q: [] for q in MIX_QUERIES}
    build_windows: dict[str, list[tuple[float, float]]] = {q: [] for q in MIX_QUERIES}
    windows, phase = [], {"build": 0.0, "collect": 0.0, "release": 0.0}

    def one_pass(spark, registry, p: int, order: list[str], label: str) -> None:
        for q in order:
            fn = registry[q][0]
            qid = f"{label}pass{p}-{q}"
            res.attempted += 1
            try:
                with (tracer.span("query", root=qid) if tracer else contextlib.nullcontext()):
                    df, t_a, t_b = timed("operators.build", lambda: fn(spark, sf_dir))
                    rows, _, t_c = timed("operators.collect", df.collect)
                    _, _, t_d = timed("caching.release", release_intermediates)
            except Exception as e:  # noqa: BLE001 — a failed query is counted
                res.failed += 1
                res.notes.append(f"{qid} raised: {str(e).splitlines()[0][:300]}")
                continue
            if p:
                times[q].append(t_c - t_a)
                build_windows[q].append((t_a, t_b))
                windows.append((qid, t_a, t_d))
                phase["build"] += t_b - t_a
                phase["collect"] += t_c - t_b
                phase["release"] += t_d - t_c
            results[q] = ([tuple(r) for r in rows], list(df.columns))

    # Set-up (a fresh session, cache_tables, the warm-up pass) is done
    # SETUPS times; the last session goes on into the timed passes.
    setups, cache_s = [], []
    for k in range(SETUPS):
        if k:
            io.clear_table_cache()
            ctx.stop_spark()
        t0 = time.time()
        spark = ctx.start_spark()
        registry = all_queries()
        _, a, b = timed("io.cache_tables", lambda: io.cache_tables(spark, sf_dir))
        cache_s.append(b - a)
        one_pass(spark, registry, 0, list(MIX_QUERIES), f"setup{k}-")
        setups.append(time.time() - t0)

    pass_walls = []
    n_passes = timed_passes(ctx.seconds)
    rng = random.Random(ctx.seed)
    for p in range(1, 1 + n_passes):
        order = list(MIX_QUERIES)
        rng.shuffle(order)
        pass_start = time.time()
        one_pass(spark, registry, p, order, "")
        pass_walls.append(time.time() - pass_start)

    per_query = {q: median(ts) for q, ts in times.items() if ts}
    res.end_to_end.update({
        "setup_s": median(setups),
        "pass_s": median(pass_walls),
        "step_p50_s": median(list(per_query.values())),
        "step_geomean_s": geomean(list(per_query.values())),
        "state_mb": _cached_mb(spark),
    })
    res.layer("driver.peak_rss_mb", ctx.peak_rss_mb(), "MB")
    print("# setup_s " + " ".join(f"{t:.2f}" for t in setups), file=sys.stderr)
    print("# pass_s " + " ".join(f"{t:.2f}" for t in pass_walls), file=sys.stderr)
    for q, t in per_query.items():
        res.layer(f"query.{q}_s", t, "s")
    res.layer("io.cache_tables_s", median(cache_s), "s")
    res.layer("caching.release_s", phase["release"] / n_passes, "s")
    res.layer("operators.build_s", phase["build"] / n_passes, "s")
    res.layer("operators.collect_s", phase["collect"] / n_passes, "s")
    ctx.timed_units = n_passes
    ctx.timed_windows = windows
    ctx.build_windows = build_windows
    check_oracles(res, sf_dir, registry, results)


def check_oracles(res, sf_dir: str, registry, results) -> None:
    """Each query's collected rows against its DuckDB oracle (row count,
    column names, order-insensitive value hash); rows-only queries must
    return rows."""
    import duckdb

    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    from selfcheck import hash_rows, lint_oracle_types

    from flink_cdc_log_connectors_spark.io import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    for q in MIX_QUERIES:
        if q not in results:
            continue  # it raised; already counted as failed
        srows, scols = results[q]
        sql = registry[q][1]
        if sql is None:
            ok, why = len(srows) > 0, "returned no rows"
        else:
            found = con.execute(sql)
            dcols = [d[0] for d in found.description]
            drows = found.fetchall()
            problems = []
            if lint_oracle_types(con, sql):
                problems.append("oracle type lint")
            if sorted(scols) != sorted(dcols):
                problems.append("columns differ")
            elif len(srows) != len(drows):
                problems.append(f"rows spark={len(srows)} duckdb={len(drows)}")
            elif hash_rows(scols, srows) != hash_rows(dcols, drows):
                problems.append("value hash differs")
            ok, why = not problems, "; ".join(problems)
        res.check(f"oracle.{q}", ok, why)
