"""Benchmark for the change-log engine: two closed-loop workloads, each run
by one process on ``local[nproc]``.

    python3 perfbench/run.py --workload join_small_epochs --seed 1 --seconds 10 --trace 0

Workloads (see ``BENCHMARK.json`` for why each was chosen):

- ``join_small_epochs``: drain a pre-written two-table Debezium-JSON log
  through the ``cdclog`` stream source in 2,000-line epochs; one
  ``foreachBatch`` drives ``ChangelogJoin`` (with fact TTL),
  ``ChangelogAggregate`` and an ``ExactlyOnceAppendSink``.
- ``query_mix``: passes of 9 registry queries over cached tables.

Each run sets up several times (a fresh engine session each time) and
reports the median set-up time.  The work done is fixed by the workload and ``--seconds`` (never by the
speed of the host), the inputs by ``--seed``.  Every output is checked
against a reference model or the query's DuckDB oracle.  With
``--trace 0`` the last stdout line carries the end-to-end metrics, with
``--trace 1`` the per-layer ones (spans, Spark jobs from the event log,
streaming progress); human-readable lines go to stderr.  Everything the
run writes lives under ``perfbench/.work/`` and is removed at exit; a
traced run leaves its spans, one JSON object per line, in
``perfbench/.out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

import mix
import streams
from common import (END_TO_END, HERE, LAYERS, ROOT, Context, Result, adopt_orphans, finish_trace,
                    provenance, stop_processes)

WORKLOADS = {
    "join_small_epochs": streams.run_join,
    "query_mix": mix.run,
}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    import flink_cdc_log_connectors_spark  # noqa: F401 — fail fast without the program

    # every process the run starts is stopped and waited for on the way out,
    # also when the run is interrupted or terminated
    adopt_orphans()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    ctx = Context(args.workload, args.seed, args.seconds, bool(args.trace), work)
    res = Result()
    t0 = time.time()
    try:
        WORKLOADS[args.workload](ctx, res)
        ctx.stop_spark()
        if ctx.tracer is not None:
            spans_out = os.path.join(HERE, ".out", f"spans-{args.workload}-{args.seed}.jsonl")
            ctx.tracer.write(spans_out)
            res.notes.append(f"spans written to {os.path.relpath(spans_out, ROOT)}")
            finish_trace(ctx, res)
    finally:
        try:
            ctx.stop_spark()
        finally:
            stop_processes()
            shutil.rmtree(work, ignore_errors=True)

    info = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "wall_s": round(time.time() - t0, 3), **provenance()}
    err = sys.stderr
    print(f"# run {json.dumps(info)}", file=err)
    for note in res.notes:
        print(f"# {note}", file=err)
    print(f"# oracles {json.dumps(res.checks)}", file=err)
    rate = res.failed / res.attempted if res.attempted else 1.0
    print(f"# error_rate {rate:.4f} fraction ({res.failed}/{res.attempted})", file=err)
    if args.trace:
        metrics = {k: {"value": res.layers[k][0], "unit": u} for k, u in LAYERS.items()}
    else:
        metrics = {k: {"value": res.end_to_end[k], "unit": u} for k, u in END_TO_END.items()}
    for k, m in metrics.items():
        print(f"# {k} {m['value']:.6g} {m['unit']}", file=err)
    print(json.dumps({"correct": res.correct, "attempted": max(1, res.attempted),
                      "failed": res.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
