"""Capacity probe: how fast a workload's /search traffic can be sent
before the server saturates. run.py's ``RATES`` are set from its output.

    python3 perfbench/capacity.py --workload hot|cold --seed N [--step-seconds S]

Builds and checks the index as run.py does (build_index, then the
appends), stops Spark, and then for each rate of ``STEPS[workload]``, in
increasing order, starts a fresh server and runs run.py's open loop at
that rate for ``--step-seconds``, with that workload's queries (fresh
cold terms at every step). For each step it records latency from the
due time (p50, p90), service time (send to reply), the generator's
lateness, the rate actually completed and the server's utilisation
(rate x mean service time, which exceeds 1 once requests overlap).
Steps stop after the first rate whose p50 is over ``KNEE`` times the
first step's, or that had a failed request. The last stdout line is one
JSON object.
"""

from __future__ import annotations

import argparse
import json
import shutil
import signal
import statistics
import sys

import run

STEPS = {
    "hot": (25, 50, 100, 200, 400, 800, 1200, 1600, 2400, 3200),
    "cold": (3, 6, 12, 24, 48, 64, 80, 96, 128, 160),
}
KNEE = 3.0


def step(work, index_dir, queries, workload, rate, seconds, k, probe, want):
    from loadgen import post_once, run_open_loop

    reqs = queries.searches(workload, int(rate * seconds))
    proc, port, _elapsed, ok = run.start_server(work, index_dir, k, probe, want, None)
    try:
        if workload == "hot":
            for q in queries.pool:
                post_once("127.0.0.1", port, q)
        results = run_open_loop("127.0.0.1", port, reqs, rate, run.nproc())
    finally:
        run._stop(proc)
    lat = sorted(r["latency_ms"] for r in results)
    service = [r["service_ms"] for r in results]
    done_s = max(r["due_s"] + r["latency_ms"] / 1000 for r in results)
    return {
        "rate_per_s": rate,
        "requests": len(results),
        "failed": sum(r["status"] != 200 for r in results) + (not ok),
        "p50_ms": statistics.median(lat),
        "p90_ms": statistics.quantiles(lat, n=10)[-1],
        "service_p50_ms": statistics.median(service),
        "late_p50_ms": statistics.median(r["late_ms"] for r in results),
        "late_max_ms": max(r["late_ms"] for r in results),
        "completed_per_s": len(results) / done_s,
        "utilisation": rate * statistics.fmean(service) / 1000,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=run.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--step-seconds", type=float, default=4.0)
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = run.make_work_dir(f"capacity-{args.workload}-{args.seed}")
    try:
        built = run.build(args, work, None)
        run.stop_spark(built["spark"])
        if built["problems"]:
            print(json.dumps({"index_problems": built["problems"]}))
            return 1
        queries = run.Queries(built["oracle"], args.seed)
        probe = queries.pool[0]
        want = built["oracle"].search(probe["query"], probe["mode"], run.TOPK, rounded=False)
        steps = []
        for k, rate in enumerate(STEPS[args.workload]):
            s = step(work, built["index_dir"], queries, args.workload, rate,
                     args.step_seconds, k, probe, want)
            steps.append(s)
            run.log(f"{rate}/s: p50 {s['p50_ms']:.1f} ms, p90 {s['p90_ms']:.1f} ms, "
                    f"late p50 {s['late_p50_ms']:.2f} ms, utilisation {s['utilisation']:.2f}")
            if s["failed"] or s["p50_ms"] > KNEE * steps[0]["p50_ms"]:
                break
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "step_seconds": args.step_seconds, "nproc": run.nproc(),
                      "steps": steps}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
