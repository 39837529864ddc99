"""Medians, quartiles, spreads and gate checks of saved benchmark runs.

    python3 perfbench/summarize.py SET_DIR [SET_DIR ...] > summary.json

Each SET_DIR holds one set of runs, one ``*.out`` file per run: the
stdout of ``run.py`` (the detail line, then the result line). Within a
set, runs are grouped by workload and trace flag. For every metric and
every numeric detail figure (``detail.<name>``) the summary gives the
values, their median, the quartiles from ``statistics.quantiles(values,
n=4)`` and the spread, (q3 - q1) / median.

``checks`` applies BENCHMARK.json's gates to the untraced runs: for each
workload and end-to-end metric, every set's spread against the bound
(``setup_s`` is exempt from that gate, its spread is still shown) and
``under_third`` (spread below a third of the bound), and how much worse
each later set's median is than the first set's, against the bound.
``tracing_overhead`` pairs each traced run with the untraced run of the
same workload and seed and gives traced / untraced - 1 per pair and
their median.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NOT_FIGURES = ("seed", "seconds", "trace")
UNGATED_SPREAD = ("setup_s",)
TRACED = {  # traced metric -> the untraced end-to-end metric it repeats
    "traced.search_p50_ms": "search_p50_ms",
    "traced.batch_p50_ms": "batch_p50_ms",
    "traced.build_s": "build_s",
    "traced.append_s": "append_s",
}


def read_run(path: str) -> tuple[dict, dict]:
    with open(path) as f:
        lines = f.read().strip().splitlines()
    return json.loads(lines[-2])["detail"], json.loads(lines[-1])


def stats(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _q2, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med,) * 3
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0, "values": values}


def summarize_set(paths: list[str]) -> dict:
    groups: dict[str, dict[str, list]] = defaultdict(lambda: defaultdict(list))
    meta: dict[str, dict] = defaultdict(lambda: {"seeds": [], "all_correct": True})
    for path in sorted(paths):
        detail, result = read_run(path)
        key = f"{detail['workload']}/trace{detail['trace']}"
        meta[key]["seeds"].append(detail["seed"])
        meta[key]["all_correct"] &= result["correct"]
        for name, m in result["metrics"].items():
            groups[key][name].append(m["value"])
        for name, v in detail.items():
            if name not in NOT_FIGURES and isinstance(v, (int, float)) \
                    and not isinstance(v, bool):
                groups[key][f"detail.{name}"].append(v)
    return {key: {**meta[key], **{name: stats(v) for name, v in metrics.items()}}
            for key, metrics in groups.items()}


def checks(sets: dict[str, dict], spec: dict) -> dict:
    names = list(sets)
    out = {}
    for key in sets[names[0]]:
        if not key.endswith("/trace0"):
            continue
        workload = key.split("/")[0]
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            rows = [sets[s].get(key, {}).get(name) for s in names]
            if any(r is None for r in rows):
                continue
            spreads = {s: r["spread"] for s, r in zip(names, rows)}
            first = rows[0]["median"]
            sign = 1 if m["better"] == "lower" else -1
            worse = {s: sign * (r["median"] - first) / first
                     for s, r in zip(names[1:], rows[1:])}
            gated = name not in UNGATED_SPREAD
            out[f"{workload}/{name}"] = {
                "bound": bound,
                "spread": spreads,
                "spread_gated": gated,
                "spread_ok": all(v <= bound for v in spreads.values()) if gated else None,
                "under_third": all(v < bound / 3 for v in spreads.values()),
                "median": {s: r["median"] for s, r in zip(names, rows)},
                "worse_than_first": worse,
                "median_ok": all(v <= bound for v in worse.values()),
            }
    return out


def tracing_overhead(runs: list[str]) -> dict:
    untraced, traced = {}, []
    for path in runs:
        detail, result = read_run(path)
        if detail["trace"]:
            traced.append((detail, result))
        else:
            untraced[(detail["workload"], detail["seed"])] = result
    pairs: dict[str, dict[str, list]] = defaultdict(lambda: defaultdict(list))
    for detail, result in traced:
        base = untraced.get((detail["workload"], detail["seed"]))
        if base is None:
            continue
        for t_name, name in TRACED.items():
            if t_name in result["metrics"] and name in base["metrics"]:
                ratio = result["metrics"][t_name]["value"] / base["metrics"][name]["value"] - 1
                pairs[detail["workload"]][name].append(ratio)
    return {w: {name: {"median": statistics.median(v), "each": v} for name, v in ms.items()}
            for w, ms in pairs.items()}


def main(set_dirs: list[str]) -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    files = {os.path.basename(os.path.normpath(d)): sorted(glob.glob(os.path.join(d, "*.out")))
             for d in set_dirs}
    sets = {name: summarize_set(paths) for name, paths in files.items()}
    return {
        "sets": sets,
        "checks": checks(sets, spec),
        "tracing_overhead": tracing_overhead([p for ps in files.values() for p in ps]),
    }


if __name__ == "__main__":
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    json.dump(main(sys.argv[1:]), sys.stdout, indent=1)
    print()
