#!/usr/bin/env python3
"""Benchmark entry point.

    python3 graftbench/run.py --workload llm_ops --seed 1 --seconds 15 --trace 0

Run from the root of a checkout of the repository. One process, one
client in a closed loop, a fresh JVM:

1. set-up: imports, JVM launch, the engine's session and one warm-up
   job (``setup_s``, timed from process start);
2. the cold pass: each op's first run in this process (``cold_pass_s``);
3. the warm-up: a fixed number of passes, from the measured plateau in
   ``plateau.json``;
4. the measured window: a fixed number of passes, ``--seconds`` divided
   by the workload's nominal pass time (so a faster engine times the
   same ops);
5. verification of every op run, outside the timed region;
6. ending the JVM and every other process the run started, and waiting
   for each, on every way out (SIGTERM included), before the result line.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the
same schedule with per-layer hooks and prints the per-layer metrics.
The last line of standard output is one JSON object. Run records (per
pass host noise, spans) go to ``.bench_build/graftbench/records``.
"""

from __future__ import annotations

import argparse
import json
import math
import signal
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.path.insert(1, str(HERE.parent))

from harness import (  # noqa: E402
    HostProbe, PassLog, RunDir, adopt_orphans, end_processes, jvm_pid,
    latency_summary, metric, peak_rss_mb, per_op_medians, process_age_s,
    run_passes, start_session, write_record,
)

WORKLOADS = ("llm_ops", "stream_ingest")
PLATEAU = json.loads((HERE / "plateau.json").read_text())


def schedule(workload: str, seconds: int, warmup: int | None,
             measured: int | None) -> tuple[int, int]:
    plan = PLATEAU[workload]
    w = plan["warmup_passes"] if warmup is None else warmup
    m = measured if measured is not None else max(
        plan["min_measured_passes"], math.ceil(seconds / plan["nominal_pass_s"]))
    return w, m


def make_workload(name: str, spark, run: RunDir, seed: int, n_passes: int, tiny: bool):
    if name == "llm_ops":
        from inputs import write_llm_tables
        from workload_llm import LlmOps

        write_llm_tables(run.sub("inputs/tables"), seed)
        return LlmOps(spark, str(run.path / "inputs/tables"))
    from workload_stream import StreamIngest

    return StreamIngest(spark, run, seed, n_passes, stream_rows=300 if tiny else None)


def main(argv=None) -> int:
    t_import = process_age_s()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # overrides for the plateau measurement and the self-tests
    ap.add_argument("--warmup-passes", type=int)
    ap.add_argument("--measured-passes", type=int)
    ap.add_argument("--tiny", action="store_true", help="smallest inputs (self-tests)")
    ap.add_argument("--inject-fault", action="store_true",
                    help="corrupt one result after timing (self-tests)")
    args = ap.parse_args(argv)

    warmup, measured = schedule(args.workload, args.seconds, args.warmup_passes,
                                args.measured_passes)
    n_passes = 1 + warmup + measured
    run = RunDir(args.workload, args.seed)
    spark = None
    try:
        spark, jvm_start_s, warmup_s = start_session(
            run, f"graftbench-{args.workload}", event_log=bool(args.trace))
        setup_s = process_age_s()
        layers = None
        if args.trace:
            from layers import Layers

            layers = Layers(spark, plan_sink_writes=args.workload == "stream_ingest")
        wl = make_workload(args.workload, spark, run, args.seed, n_passes, args.tiny)
        result = measure(args, spark, run, wl, layers, warmup, measured)
        record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                  "warmup_passes": warmup, "measured_passes": measured,
                  "python_start_s": t_import, "setup_s": setup_s,
                  "jvm_start_s": jvm_start_s, "warmup_s": warmup_s, **result["record"]}
        spark.stop()
        spark = None
        if args.trace:
            from layers_report import finish_layers

            metrics = finish_layers(args.workload, run, result, record,
                                    jvm_start_s, warmup_s)
        else:
            metrics = end_to_end(setup_s, result, record)
        path = write_record("trace" if args.trace else "run", args.workload,
                            args.seed, record)
        print(f"graftbench: record written to {path}", file=sys.stderr)
    finally:
        end_processes(spark)
        run.remove()
    runs = result["runs"]
    failed = sum(1 for r in runs if not r.ok)
    print(json.dumps({"correct": failed == 0, "attempted": len(runs), "failed": failed,
                      "metrics": metrics}))
    return 0


def measure(args, spark, run, wl, layers, warmup: int, measured: int) -> dict:
    ops = wl.ops()
    log = PassLog()
    probe = HostProbe(jvm_pid(spark))
    around = spans = None
    if layers is not None and args.workload == "stream_ingest":
        from layers_report import StreamSpans

        spans = StreamSpans(layers, wl)
        around = spans.around
    run_passes(ops, 0, 1 + warmup, args.seed, log, probe, around=around)
    first = 1 + warmup
    if layers is not None and args.workload == "llm_ops":
        from layers_report import traced_llm_ops

        ops, around = traced_llm_ops(wl, layers)
    run_passes(ops, first, measured, args.seed, log, probe, around=around)
    extra: dict = {"episode_spans": spans.spans} if spans is not None else {}
    rss = peak_rss_mb(probe.jvm)
    if args.inject_fault:
        wl.inject_fault(log.runs)
    t0 = time.perf_counter()
    check = wl.verify(log.runs)
    verify_s = time.perf_counter() - t0
    if layers is not None:
        extra["lsh_candidates"] = layers_count_candidates(layers)
        extra["ivf_build_s"] = layers.ivf_build_s
        extra["py4j_call_cost_s"] = layers.py4j_call_cost_s
        layers.remove()
    window = [r for r in log.runs if r.pass_no >= first]
    return {"runs": log.runs, "window": window, "log": log, "check": check,
            "extra": extra, "first_measured": first, "peak_rss_mb": rss,
            "record": {"passes": log.passes, "verify_s": verify_s, "check": check,
                       "ops": [(r.op, r.pass_no, r.seconds, r.ok, r.error)
                               for r in log.runs]}}


def layers_count_candidates(layers) -> int:
    """Candidate pairs of the last LSH banding join, counted after timing."""
    cands = layers.last_candidates
    layers.last_candidates = None
    return int(cands.count()) if cands is not None else 0


def end_to_end(setup_s: float, result: dict, record: dict) -> dict:
    runs, window = result["runs"], result["window"]
    cold = sum(r.seconds for r in runs if r.pass_no == 0)
    medians = per_op_medians(window)
    lat = latency_summary(window)
    print(f"graftbench: tail = p{lat['tail_percentile']:.1f} of "
          f"{lat['tail_samples']} warm samples", file=sys.stderr)
    record["latency"] = lat
    return {
        "setup_s": metric(setup_s, "s"),
        "cold_pass_s": metric(cold, "s"),
        "warm_pass_s": metric(sum(medians.values()), "s"),
        "latency_p50_s": metric(lat["latency_p50_s"], "s"),
        "latency_tail_s": metric(lat["latency_tail_s"], "s"),
    }


def _terminated(signum, frame):
    raise SystemExit(128 + signum)


if __name__ == "__main__":
    adopt_orphans()
    signal.signal(signal.SIGTERM, _terminated)
    try:
        code = main()
    except Exception as exc:  # noqa: BLE001 — any failure ends the run without a result
        import traceback

        traceback.print_exc()
        print(f"graftbench: run failed: {type(exc).__name__}: {exc}", file=sys.stderr)
        code = 2
    sys.exit(code)
