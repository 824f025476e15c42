#!/usr/bin/env python3
"""Repeatability record: run every workload on several seeds, twice,
then once traced, and write the spreads and the layer tables.

    python3 graftbench/steadiness.py

For each of ``SETS`` sets and each workload of ``BENCHMARK.json`` it
runs ``run.py --trace 0`` once per seed of ``SEEDS`` and reports, per end-to-end metric, the median, the quartiles
(``statistics.quantiles(n=4)``) and the spread (Q3 - Q1) / median. The
second set repeats the first set's seeds. Writes
``results/steadiness.json`` and ``results/STEADINESS.md``.
"""

from __future__ import annotations

import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
SEEDS = list(range(100, 110))
SETS = 2


def run(workload: str, seed: int, trace: int) -> dict:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed",
           str(seed), "--seconds", str(SPEC["run_seconds"]), "--trace", str(trace)]
    t0 = time.time()
    out = subprocess.run(cmd, cwd=HERE.parent, capture_output=True, text=True, timeout=900)
    if out.returncode != 0:
        raise SystemExit(f"{workload} seed {seed} failed:\n{out.stderr[-2000:]}")
    res = json.loads(out.stdout.strip().splitlines()[-1])
    res["wall_s"] = time.time() - t0
    record = next(line.split("record written to ", 1)[1]
                  for line in out.stderr.splitlines() if "record written to" in line)
    passes = json.loads(Path(record).read_text())["passes"]
    res["host"] = {"steal_share": [round(p["steal_share"], 4) for p in passes],
                   "cpu_s": [round(p["cpu_s"], 2) for p in passes]}
    return res


def summarize(results: list[dict]) -> dict:
    out = {}
    for m in SPEC["end_to_end"]:
        xs = [r["metrics"][m["name"]]["value"] for r in results]
        q1, q2, q3 = statistics.quantiles(xs, n=4)
        med = statistics.median(xs)
        out[m["name"]] = {"median": med, "q1": q1, "q3": q3,
                          "spread": (q3 - q1) / med, "bound": m["bound"], "values": xs}
    return out


def main() -> None:
    report: dict = {"seeds": SEEDS, "run_seconds": SPEC["run_seconds"], "sets": [],
                    "traced": {}}
    for s in range(SETS):
        per_wl = {}
        for wl in WORKLOADS:
            results = [run(wl, seed, 0) for seed in SEEDS]
            assert all(r["correct"] for r in results), f"{wl}: wrong results"
            per_wl[wl] = {"summary": summarize(results),
                          "wall_s": [round(r["wall_s"], 1) for r in results],
                          "attempted": [r["attempted"] for r in results],
                          "host_per_pass": [r["host"] for r in results]}
            worst = max((v["spread"] / v["bound"], k) for k, v in
                        per_wl[wl]["summary"].items() if k != "setup_s")
            print(f"set {s} {wl}: worst spread/bound {worst[0]:.2f} ({worst[1]}), "
                  f"mean wall {statistics.mean(per_wl[wl]['wall_s']):.1f} s", flush=True)
        report["sets"].append(per_wl)
    for wl in WORKLOADS:
        res = run(wl, SEEDS[0], 1)
        report["traced"][wl] = res["metrics"]
    out = HERE / "results"
    out.mkdir(exist_ok=True)
    (out / "steadiness.json").write_text(json.dumps(report, indent=1) + "\n")
    (out / "STEADINESS.md").write_text(markdown(report))


def markdown(report: dict) -> str:
    lines = ["# Steadiness record", "",
             f"Seeds {report['seeds'][0]}-{report['seeds'][-1]}, "
             f"`--seconds {report['run_seconds']}`, one run at a time. "
             "Spread = (Q3 - Q1) / median over the runs of a set.", ""]
    for i, per_wl in enumerate(report["sets"]):
        lines += [f"## Set {i + 1}", "",
                  "| workload | metric | median | Q1 | Q3 | spread | bound |",
                  "|---|---|---|---|---|---|---|"]
        for wl, d in per_wl.items():
            for k, v in d["summary"].items():
                lines.append(f"| {wl} | {k} | {v['median']:.4f} | {v['q1']:.4f} | "
                             f"{v['q3']:.4f} | {v['spread']:.3f} | {v['bound']} |")
        lines.append("")
    if len(report["sets"]) > 1:
        lines += ["## Second set's median against the first", "",
                  "| workload | metric | change | bound |", "|---|---|---|---|"]
        a, b = report["sets"][0], report["sets"][1]
        for wl in a:
            for k in a[wl]["summary"]:
                m0, m1 = a[wl]["summary"][k]["median"], b[wl]["summary"][k]["median"]
                lines.append(f"| {wl} | {k} | {(m1 - m0) / m0:+.3f} | "
                             f"{a[wl]['summary'][k]['bound']} |")
        lines.append("")
    lines += ["## Traced run, layer by layer (seed "
              f"{report['seeds'][0]})", "", "| metric | unit | "
              + " | ".join(report["traced"]) + " |",
              "|---|---|" + "---|" * len(report["traced"])]
    names = [m["name"] for m in SPEC["per_layer"]]
    for n in names:
        vals = [report["traced"][wl].get(n, {}).get("value", 0.0) for wl in report["traced"]]
        unit = next(iter(report["traced"].values()))[n]["unit"]
        lines.append(f"| {n} | {unit} | " + " | ".join(f"{v:.4g}" for v in vals) + " |")
    return "\n".join(lines) + "\n"


if __name__ == "__main__":
    main()
