"""Run the benchmark over several seeds and summarize each metric by its
median and quartile spread (the distance between the first and third
quartiles as a share of the median).

    python3 perfbench/repeat.py --workload query_mix --seeds 1-10 [--trace 1] [--out FILE]
    python3 perfbench/repeat.py --workload query_mix --seeds 1-3 --paired [--out FILE]

Each run is a separate ``perfbench/run.py`` process, as the benchmark is
meant to be run.  ``--paired`` runs each seed untraced and then traced,
back to back, and reports the tracing overhead as the median over seeds of
the paired differences (traced minus untraced).  ``--out`` writes the runs
and the summary as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
#: traced metric -> the untraced metric it repeats
TRACE_TWINS = {"trace.pass_s": "pass_s", "trace.step_p50_s": "step_p50_s"}


def parse_seeds(text: str) -> list[int]:
    out: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def summarize(values: list[float]) -> dict:
    med = statistics.median(values)
    out = {"median": med, "n": len(values)}
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
        out.update(q1=q1, q3=q3, spread=(q3 - q1) / med if med else 0.0)
    return out


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
    wall = time.time() - t0
    if result is None or not result["correct"]:
        print(proc.stderr[-4000:], file=sys.stderr)
    metrics = (result or {}).get("metrics", {})
    print(f"seed {seed} trace {trace}: rc={proc.returncode} wall={wall:.1f}s "
          f"correct={(result or {}).get('correct')} "
          + " ".join(f"{k}={m['value']:.4g}" for k, m in metrics.items()), flush=True)
    return {"seed": seed, "trace": trace, "returncode": proc.returncode, "wall_s": wall,
            "result": result}


def values_of(runs: list[dict]) -> dict[str, list[float]]:
    values: dict[str, list[float]] = {}
    for r in runs:
        for k, m in ((r["result"] or {}).get("metrics") or {}).items():
            values.setdefault(k, []).append(m["value"])
    return values


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--paired", action="store_true")
    ap.add_argument("--out")
    args = ap.parse_args()
    seconds = args.seconds
    if seconds is None:
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            seconds = json.load(f)["run_seconds"]

    traces = (0, 1) if args.paired else (args.trace,)
    runs = [run_once(args.workload, seed, seconds, trace)
            for seed in parse_seeds(args.seeds) for trace in traces]
    out = {"workload": args.workload, "seconds": seconds, "runs": runs}
    if args.paired:
        diffs: dict[str, list[float]] = {}
        for plain, traced in zip(runs[::2], runs[1::2]):
            if plain["result"] and traced["result"]:
                pm, tm = plain["result"]["metrics"], traced["result"]["metrics"]
                for t_name, name in TRACE_TWINS.items():
                    diffs.setdefault(name, []).append(tm[t_name]["value"] - pm[name]["value"])
        out["tracing_overhead_s"] = {k: {"median": statistics.median(v), "diffs": v}
                                     for k, v in diffs.items()}
        for k, v in out["tracing_overhead_s"].items():
            print(f"tracing overhead {k}: median {v['median']:+.4g} s of "
                  + " ".join(f"{d:+.3f}" for d in v["diffs"]))
    else:
        out["trace"] = args.trace
        out["summary"] = {k: summarize(v) for k, v in values_of(runs).items()}
        for k, s in out["summary"].items():
            print(f"{k:44s} median={s['median']:.4g} spread={s.get('spread', 0):.3f}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(out, f, indent=1)
    ok = all(r["result"] and r["result"]["correct"] for r in runs)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
