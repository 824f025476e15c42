"""Traced-run schedules and the per-layer metrics they report.

Per-layer values are per warm pass (``llm_ops``: summed over the
pass's ops) or per warm episode (``stream_ingest``), as the median over
the measured window. Layers a workload does not exercise read 0.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager

from harness import metric
from layers import dir_bytes, new_span, task_metrics

EXEC_KEYS = ("tasks", "task_run_s", "gc_s", "shuffle_write_bytes", "spill_bytes",
             "failed_tasks")
PLAN_KEYS = ("exchanges", "broadcasts", "single_partition_exchanges", "python_eval_nodes")
STREAM_PHASES = {"add_batch_s": "addBatch", "latest_offset_s": "latestOffset",
                 "wal_commit_s": "walCommit", "query_planning_s": "queryPlanning"}


def traced_llm_ops(wl, layers):
    """The ops of a traced ``llm_ops`` window and their ``around`` hook
    for ``run_passes``: each op times itself phase by phase
    (``LlmOps.traced_run``) and tags its Spark jobs with its pass."""
    tag = {}

    @contextmanager
    def around(name: str, p: int):
        tag["now"] = f"{p}|{name}"
        yield

    def op(name):
        return lambda: wl.traced_run(layers, name, tag["now"])

    return {name: op(name) for name in wl.ops()}, around


class StreamSpans:
    """Opens a span around each episode; after the timed region, adds
    the episode's streaming progress, sink bytes and archive moves."""

    def __init__(self, layers, wl):
        self.layers = layers
        self.wl = wl
        self.spans: list[dict] = []
        self.archived = 0

    @contextmanager
    def _episode(self, p: int):
        span = new_span()
        t0 = time.time()
        with self.layers.span(span):
            yield
        q = self.wl.last_query
        progress = _progress(q) if q is not None else []
        written = dir_bytes(self.wl.sink_dir, since=t0)
        archived = len(self.wl.archived_files())
        span.update(
            pass_no=p, t0=t0, t1=time.time(),
            input_rows=sum(x.get("numInputRows", 0) for x in progress),
            trigger_s=sum(x.get("durationMs", {}).get("triggerExecution", 0)
                          for x in progress) / 1000,
            bytes_written=written, landed=self.wl.landed_bytes(p),
            files_moved=archived - self.archived, pending=self.wl.pending_files(),
            read_paths=len(span.pop("read_paths")))
        for key, phase in STREAM_PHASES.items():
            span[key] = sum(x.get("durationMs", {}).get(phase, 0) for x in progress) / 1000
        self.archived = archived
        self.spans.append(span)

    def around(self, name: str, p: int):
        return self._episode(p)


def _progress(query) -> list[dict]:
    out = []
    for x in query.recentProgress:
        if not isinstance(x, dict):
            x = {"numInputRows": x.numInputRows, "durationMs": dict(x.durationMs or {})}
        out.append(x)
    return out


def _pass_of_group(phase: str):
    """Event-log label: the pass of jobs tagged ``pass|op|<phase>``."""
    return lambda g, _t: g.split("|")[0] if g and g.endswith(f"|{phase}") else None


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def finish_layers(workload: str, run, result: dict, record: dict,
                  jvm_start_s: float, warmup_s: float) -> dict:
    """Reduce spans, the event log and host records to per-layer metrics."""
    first = result["first_measured"]
    extra = result["extra"]
    check = result["check"]
    passes = [p for p in result["log"].passes if p["pass"] >= first]
    window = result["window"]
    m = dict.fromkeys(UNITS, 0.0)

    if workload == "llm_ops":
        spans = [dict(r.span, latency_s=r.seconds, pass_no=r.pass_no, op=r.op)
                 for r in window if r.span is not None]
        extra["spans"] = spans
        per_pass: dict[int, dict] = {}
        for s in spans:
            acc = per_pass.setdefault(s["pass_no"], {"paths": set()})
            acc["paths"] |= s["paths"]
            for k in ("construct_s", "plan_s", "noop_s", "collect_s", "read_calls",
                      "read_s", "py4j", "rows_out", "latency_s", *PLAN_KEYS):
                acc[k] = acc.get(k, 0) + s[k]
        ex = task_metrics(run.path / "events", _pass_of_group("noop"))
        jobs = task_metrics(run.path / "events", _pass_of_group("collect"))
        for p, acc in per_pass.items():
            acc["collect_job_s"] = jobs.get(str(p), {}).get("job_s", 0.0)
        rows = list(per_pass.items())
        med = lambda key: _median(acc[key] for _, acc in rows)  # noqa: E731
        lat = med("latency_s")
        # construct + plan + execute + transfer against the op latency.
        # Execute here is the event log's wall time of the collect's own
        # jobs, not the noop rebuild that transfer (collect - noop) uses,
        # so the sum misses 1 by as much as the rebuild misstates execute.
        layer_sum = _median(
            (a["construct_s"] + a["plan_s"] + a["collect_job_s"]
             + (a["collect_s"] - a["noop_s"])) / a["latency_s"] for _, a in rows)
        overhead = sum(s["py4j"] for s in spans) * extra["py4j_call_cost_s"]
        pairs = [s["rows_out"] for s in spans if s["op"] == "doc_minhash_near_dups"]
        m.update({
            "sources.read_calls": med("read_calls"),
            "sources.read_s": med("read_s"),
            "plans.construct_s": med("construct_s"),
            "plans.construct_share": med("construct_s") / lat if lat else 0.0,
            "plans.py4j_calls": med("py4j"),
            "catalyst.plan_s": med("plan_s"),
            "execute.noop_s": med("noop_s"),
            "execute.collect_job_s": med("collect_job_s"),
            "transfer.s": _median(a["collect_s"] - a["noop_s"] for _, a in rows),
            "transfer.rows_out": med("rows_out"),
            "operators.lsh_candidates": float(extra.get("lsh_candidates", 0)),
            "operators.lsh_candidates_per_pair": (
                extra.get("lsh_candidates", 0) / pairs[-1] if pairs and pairs[-1] else 0.0),
            "operators.lsh_recall_at_5": check["recall"].get("embedding_lsh_topk", 0.0),
            "operators.ivf_recall_at_5": check["recall"].get("embedding_ivf_topk", 0.0),
            "operators.ivf_build_s": extra.get("ivf_build_s", 0.0),
            "trace.layer_sum_ratio": layer_sum,
            "trace.overhead_ratio": overhead / sum(s["latency_s"] for s in spans),
        })
        m["sources.read_distinct_paths"] = _median(len(a["paths"]) for _, a in rows)
        for key in PLAN_KEYS:
            m[f"catalyst.{key}"] = med(key)
        for key in EXEC_KEYS:
            m[f"execute.{key}"] = _median(ex.get(str(p), {}).get(key, 0) for p in per_pass)
    else:
        spans = [s for s in extra["episode_spans"] if s["pass_no"] >= first]
        windows = {s["pass_no"]: (s["t0"] * 1000, s["t1"] * 1000) for s in spans}

        def episode_of(_g, t_ms):
            for p, (a, b) in windows.items():
                if a <= t_ms <= b:
                    return str(p)
            return None

        ex = task_metrics(run.path / "events", episode_of)
        lat = {r.pass_no: r.seconds for r in window}
        med = lambda key: _median(s[key] for s in spans)  # noqa: E731
        m.update({
            "sources.read_calls": med("read_calls"),
            "sources.read_distinct_paths": med("read_paths"),
            "sources.read_s": med("read_s"),
            "plans.construct_s": med("construct_s"),
            "plans.construct_share": _median(s["construct_s"] / lat[s["pass_no"]]
                                             for s in spans),
            "plans.py4j_calls": med("py4j"),
            "catalyst.plan_s": med("plan_s"),
            "streaming.input_rows": med("input_rows"),
            "sinks.writes": med("sink_writes"),
            "sinks.write_s": med("sink_s"),
            "sinks.bytes_written": med("bytes_written"),
            "sinks.write_amp": _median(s["bytes_written"] / s["landed"] for s in spans),
            "archive.files_moved": med("files_moved"),
            "archive.pending_files": med("pending"),
            "trace.layer_sum_ratio": _median(s["trigger_s"] / lat[s["pass_no"]]
                                             for s in spans),
            # tracing adds the sink-frame planning and counts, and the py4j counter
            "trace.overhead_ratio": _median(
                (s["plan_s"] + s["hook_s"] + s["py4j"] * extra["py4j_call_cost_s"])
                / lat[s["pass_no"]] for s in spans),
        })
        for key in PLAN_KEYS:
            m[f"catalyst.{key}"] = med(key)
        for key in STREAM_PHASES:
            m[f"streaming.{key}"] = med(key)
        for key in EXEC_KEYS:
            m[f"execute.{key}"] = _median(ex.get(str(p), {}).get(key, 0) for p in windows)

    ops_per_pass = max(1, len(window) // max(1, len(passes)))
    m["session.jvm_start_s"] = jvm_start_s
    m["session.warmup_s"] = warmup_s
    m["session.peak_rss_mb"] = result["peak_rss_mb"]
    m["host.steal_share"] = _median(p["steal_share"] for p in passes)
    m["host.cpu_s_per_op"] = _median(p["cpu_s"] / ops_per_pass for p in passes)
    record["layers"] = m
    record["spans"] = [{k: (sorted(v) if isinstance(v, set) else v) for k, v in s.items()}
                       for s in (extra.get("spans") or extra.get("episode_spans") or [])]
    return {name: metric(m[name], unit) for name, unit in UNITS.items()}


UNITS = {
    "session.jvm_start_s": "s", "session.warmup_s": "s", "session.peak_rss_mb": "MB",
    "sources.read_calls": "count", "sources.read_distinct_paths": "count",
    "sources.read_s": "s",
    "plans.construct_s": "s", "plans.construct_share": "ratio", "plans.py4j_calls": "count",
    "catalyst.plan_s": "s", "catalyst.exchanges": "count", "catalyst.broadcasts": "count",
    "catalyst.single_partition_exchanges": "count", "catalyst.python_eval_nodes": "count",
    "execute.noop_s": "s", "execute.collect_job_s": "s", "execute.tasks": "count", "execute.task_run_s": "s",
    "execute.gc_s": "s", "execute.shuffle_write_bytes": "bytes",
    "execute.spill_bytes": "bytes", "execute.failed_tasks": "count",
    "transfer.s": "s", "transfer.rows_out": "count",
    "operators.lsh_candidates": "count", "operators.lsh_candidates_per_pair": "ratio",
    "operators.lsh_recall_at_5": "ratio", "operators.ivf_build_s": "s",
    "operators.ivf_recall_at_5": "ratio",
    "streaming.input_rows": "count", "streaming.add_batch_s": "s",
    "streaming.latest_offset_s": "s", "streaming.wal_commit_s": "s",
    "streaming.query_planning_s": "s",
    "sinks.writes": "count", "sinks.write_s": "s", "sinks.bytes_written": "bytes",
    "sinks.write_amp": "ratio", "archive.files_moved": "count",
    "archive.pending_files": "count",
    "host.steal_share": "ratio", "host.cpu_s_per_op": "s",
    "trace.overhead_ratio": "ratio", "trace.layer_sum_ratio": "ratio",
}
