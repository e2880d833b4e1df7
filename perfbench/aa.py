"""A/A record: repeated runs of the benchmark on one commit.

    python3 perfbench/aa.py --workloads serve,batch,ingest --seeds 1-10 \
        --sets 2 [--trace-seeds 1-2] --out perfbench/AA.json

Run from the root of a checkout. For each seed, runs every set of every
workload back to back (so the sets interleave in time), then reports per
workload and metric, for each set: the median, the quartiles (as
``statistics.quantiles(values, n=4)`` gives them) and the spread
(third minus first quartile, as a share of the median), and how far
each later set's median moved from the first set's. ``host_canary_s``
and the wall time of every run are kept beside the metrics.

With ``--trace-seeds``, also makes traced runs of those seeds and
reports the tracing overhead: the traced run's own end-to-end values
minus the untraced median of the same seeds, as a share of the latter.
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


def seeds(spec: str) -> "list[int]":
    if "-" in spec:
        a, b = spec.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(x) for x in spec.split(",")]


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True)
    wall = time.time() - t0
    lines = proc.stdout.strip().splitlines()
    info = next((json.loads(x[len("# info "):]) for x in lines
                 if x.startswith("# info ")), {})
    rec = {"workload": workload, "seed": seed, "trace": trace, "rc": proc.returncode,
           "wall_s": wall, "host_canary_s": info.get("host_canary_s"), "info": info}
    if proc.returncode == 0 and lines:
        res = json.loads(lines[-1])
        rec.update(correct=res["correct"], attempted=res["attempted"],
                   failed=res["failed"],
                   metrics={k: v["value"] for k, v in res["metrics"].items()})
    else:
        rec["stderr_tail"] = proc.stderr[-2000:]
    print(json.dumps({k: rec[k] for k in ("workload", "seed", "trace", "rc", "wall_s")}
                     | {"metrics": rec.get("metrics")}), flush=True)
    return rec


def summary(values: "list[float]") -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"n": len(values), "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else None}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", default="serve,batch,ingest")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--seconds", type=int, default=None,
                    help="default: run_seconds from BENCHMARK.json")
    ap.add_argument("--trace-seeds", default=None)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    workloads = args.workloads.split(",")
    runs = []
    for seed in seeds(args.seeds):
        for s in range(args.sets):
            for w in workloads:
                runs.append(one_run(w, seed, seconds, 0) | {"set": s})
    traced = []
    if args.trace_seeds:
        for seed in seeds(args.trace_seeds):
            for w in workloads:
                traced.append(one_run(w, seed, seconds, 1))

    report: dict = {"seconds": seconds, "workloads": {}}
    for w in workloads:
        mine = [r for r in runs if r["workload"] == w]
        wr: dict = {"runs_failed": sum(1 for r in mine if "metrics" not in r),
                    "incorrect": sum(1 for r in mine if r.get("correct") is False),
                    "wall_s": summary([r["wall_s"] for r in mine]),
                    "host_canary_s": summary([r["host_canary_s"] for r in mine
                                              if r["host_canary_s"]]),
                    "metrics": {}}
        for m in bench["end_to_end"]:
            name = m["name"]
            per_set = []
            for s in range(args.sets):
                vals = [r["metrics"][name] for r in mine
                        if r["set"] == s and "metrics" in r]
                per_set.append(summary(vals) if len(vals) >= 2 else None)
            entry = {"bound": m["bound"], "sets": per_set}
            if per_set[0] and all(per_set[1:]):
                entry["median_moved"] = [p["median"] / per_set[0]["median"] - 1
                                         for p in per_set[1:]]
            wr["metrics"][name] = entry
        tr = [r for r in traced if r["workload"] == w and r.get("info")]
        if tr:
            over = {}
            for name, val in tr[0]["info"].get("end_to_end", {}).items():
                base = [r["metrics"][name] for r in mine if "metrics" in r
                        and r["seed"] in {t["seed"] for t in tr}]
                vals = [t["info"]["end_to_end"][name] for t in tr]
                if base:
                    b = statistics.median(base)
                    over[name] = (statistics.median(vals) - b) / b
            wr["trace_overhead"] = over
            wr["traced_layers"] = [t.get("metrics") for t in tr]
        report["workloads"][w] = wr
    report["runs"] = runs + traced
    with open(args.out, "w") as f:
        json.dump(report, f, indent=1)
    for w, wr in report["workloads"].items():
        print(f"== {w}: wall {wr['wall_s']['median']:.1f}s "
              f"failed {wr['runs_failed']} incorrect {wr['incorrect']}")
        for name, e in wr["metrics"].items():
            cells = " | ".join(
                f"med {p['median']:.4g} spread {p['spread']:.3f}" if p else "-"
                for p in e["sets"])
            moved = e.get("median_moved")
            print(f"  {name:28s} bound {e['bound']:.2f} | {cells}"
                  + (f" | moved {moved[0]:+.3f}" if moved else ""))
        if "trace_overhead" in wr:
            print("  trace overhead: " + ", ".join(
                f"{k} {v:+.3f}" for k, v in wr["trace_overhead"].items()))
    return 0


if __name__ == "__main__":
    sys.exit(main())
