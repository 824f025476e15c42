"""Per-layer tracing for ``--trace 1`` runs.

Hooks wrap the engine's public entry points and PySpark's own
boundaries; nothing in the engine changes. While a span is open each
hook adds to it; with no span open the hooks only pass through. Spans
stay in memory and are written out when the run ends.

Layers and where they are observed:

- sources: ``DataFrameReader`` calls (every parquet/CSV read, memoized
  or not);
- plans (construct): time in the op's builder, and py4j commands sent
  meanwhile (the py4j client's ``send_command``);
- catalyst: ``queryExecution().executedPlan()`` time and node counts;
- execute: the noop-sink run, with task metrics from the event log,
  and the wall time of the collect's own Spark jobs (event log);
- transfer: collect minus noop;
- operators: ``dedup.lsh_candidate_pairs`` and
  ``similarity.build_ivf_index``;
- sinks: ``ParquetKeyValueSink.write``.
"""

from __future__ import annotations

import json
import os
import re
import time
from contextlib import contextmanager
from pathlib import Path

_PY_EVAL = re.compile(r"(EvalPython|InPandas|InArrow|ArrowPython|PythonUDTF)")


def plan_counts(plan: str) -> dict[str, int]:
    """Physical node counts from an ``executedPlan`` string."""
    c = {"exchanges": 0, "broadcasts": 0, "single_partition_exchanges": 0,
         "python_eval_nodes": 0}
    for line in plan.splitlines():
        if "BroadcastExchange" in line:
            c["broadcasts"] += 1
        elif re.search(r"(^|[^A-Za-z])Exchange ", line):
            c["exchanges"] += 1
            if "SinglePartition" in line:
                c["single_partition_exchanges"] += 1
        if _PY_EVAL.search(line):
            c["python_eval_nodes"] += 1
    return c


def new_span() -> dict:
    return {"read_calls": 0, "read_paths": set(), "read_s": 0.0, "py4j": 0,
            "construct_s": 0.0, "plan_s": 0.0, "hook_s": 0.0, "sink_writes": 0, "sink_s": 0.0,
            "exchanges": 0, "broadcasts": 0, "single_partition_exchanges": 0,
            "python_eval_nodes": 0}


class Layers:
    def __init__(self, spark, plan_sink_writes: bool = False):
        self.spark = spark
        self.cur: dict | None = None
        self.py4j_total = 0
        self.ivf_build_s = 0.0
        self.last_candidates = None
        self._undo: list = []
        self._hook_readers()
        self._hook_py4j()
        self._hook_operators()
        self._hook_sinks(plan_sink_writes)
        self.py4j_call_cost_s = self._py4j_hook_cost()

    # -- spans -------------------------------------------------------------

    @contextmanager
    def span(self, into: dict):
        prev, self.cur = self.cur, into
        try:
            yield into
        finally:
            self.cur = prev

    def construct(self, fn):
        """Time ``fn()`` as construction inside the open span."""
        t0 = time.perf_counter()
        out = fn()
        if self.cur is not None:
            self.cur["construct_s"] += time.perf_counter() - t0
        return out

    def plan(self, jdf):
        """Plan ``jdf`` (a Java Dataset) and record the time in the open
        span. Returns the physical plan for :meth:`count_plan`."""
        t0 = time.perf_counter()
        plan = jdf.queryExecution().executedPlan()
        if self.cur is not None:
            self.cur["plan_s"] += time.perf_counter() - t0
        return plan

    def count_plan(self, plan, span: dict) -> None:
        """Add the plan's node counts to ``span`` (bookkeeping time)."""
        h0 = time.perf_counter()
        for k, v in plan_counts(plan.toString()).items():
            span[k] += v
        span["hook_s"] += time.perf_counter() - h0

    # -- hooks -------------------------------------------------------------

    def _patch(self, owner, name: str, make) -> None:
        orig = getattr(owner, name)
        setattr(owner, name, make(orig))
        self._undo.append((owner, name, orig))

    def remove(self) -> None:
        for owner, name, orig in reversed(self._undo):
            setattr(owner, name, orig)
        self._undo.clear()

    def _hook_readers(self) -> None:
        from pyspark.sql.readwriter import DataFrameReader

        layers = self

        def make(orig):
            def read(reader, path=None, *args, **kwargs):
                span = layers.cur
                if span is None:
                    return orig(reader, path, *args, **kwargs)
                t0 = time.perf_counter()
                try:
                    return orig(reader, path, *args, **kwargs)
                finally:
                    span["read_s"] += time.perf_counter() - t0
                    span["read_calls"] += 1
                    span["read_paths"].update(
                        [path] if isinstance(path, str) else list(path or []))
            return read

        for name in ("parquet", "csv", "json", "orc", "text", "load"):
            self._patch(DataFrameReader, name, make)

    def _hook_py4j(self) -> None:
        client = self.spark.sparkContext._gateway._gateway_client
        layers = self

        def make(orig):
            def send_command(*args, **kwargs):
                layers.py4j_total += 1
                if layers.cur is not None:
                    layers.cur["py4j"] += 1
                return orig(*args, **kwargs)
            return send_command

        self._patch(client, "send_command", make)

    def _py4j_hook_cost(self, n: int = 20000) -> float:
        """Per-call cost of the py4j counting hook, measured on a no-op."""
        def bare(*a, **k):
            return None

        def counted(*a, **k):
            self.py4j_total += 1
            if self.cur is not None:
                self.cur["py4j"] += 1
            return bare(*a, **k)

        t0 = time.perf_counter()
        for _ in range(n):
            bare()
        t1 = time.perf_counter()
        for _ in range(n):
            counted()
        t2 = time.perf_counter()
        self.py4j_total -= n
        return max(0.0, ((t2 - t1) - (t1 - t0)) / n)

    def _hook_operators(self) -> None:
        from etl_with_s3__dynamodb_and_glue_spark.operators import dedup, similarity

        layers = self

        def candidates(orig):
            def lsh_candidate_pairs(*args, **kwargs):
                out = orig(*args, **kwargs)
                layers.last_candidates = out
                return out
            return lsh_candidate_pairs

        def ivf(orig):
            def build_ivf_index(*args, **kwargs):
                t0 = time.perf_counter()
                try:
                    return orig(*args, **kwargs)
                finally:
                    layers.ivf_build_s += time.perf_counter() - t0
            return build_ivf_index

        self._patch(dedup, "lsh_candidate_pairs", candidates)
        self._patch(similarity, "build_ivf_index", ivf)

    def _hook_sinks(self, plan_writes: bool) -> None:
        from etl_with_s3__dynamodb_and_glue_spark.plans import music_pipeline as mp
        from etl_with_s3__dynamodb_and_glue_spark.sources.sinks import ParquetKeyValueSink

        layers = self

        def sink(orig):
            def write(this, df, table, key):
                span = layers.cur
                if span is not None and plan_writes:
                    layers.count_plan(layers.plan(df._jdf), span)
                t0 = time.perf_counter()
                try:
                    return orig(this, df, table, key)
                finally:
                    if span is not None:
                        span["sink_s"] += time.perf_counter() - t0
                        span["sink_writes"] += 1
            return write

        def builder(orig):
            def build(*args, **kwargs):
                return layers.construct(lambda: orig(*args, **kwargs))
            return build

        self._patch(ParquetKeyValueSink, "write", sink)
        for name in ("clean_songs", "clean_streams", "enrich", "song_counts",
                     "genre_kpis", "top_songs", "top_genres_compat"):
            self._patch(mp, name, builder)


def set_job_tag(spark, tag: str | None) -> None:
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", tag)


def task_metrics(events_dir: Path, label) -> dict[str, dict]:
    """Task totals from the Spark event log, summed per label, and
    ``job_s``, the wall time the label's jobs were running (the union of
    their submission-to-completion intervals, on the JVM's clock).

    ``label(job_group, submission_ms)`` names the bucket a job's tasks
    count toward, or returns None to skip the job."""
    stage_label: dict[int, str] = {}
    job_start: dict[int, tuple[str, int]] = {}
    intervals: dict[str, list[tuple[int, int]]] = {}
    out: dict[str, dict] = {}
    for path in sorted(p for p in events_dir.rglob("*") if p.is_file()):
        with open(path) as fh:
            for line in fh:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    name = label(group, ev.get("Submission Time") or 0)
                    if name is not None:
                        job_start[ev["Job ID"]] = (name, ev.get("Submission Time") or 0)
                        for sid in ev.get("Stage IDs", []):
                            stage_label[sid] = name
                elif '"SparkListenerJobEnd"' in line:
                    ev = json.loads(line)
                    if ev["Job ID"] in job_start:
                        name, t0 = job_start.pop(ev["Job ID"])
                        intervals.setdefault(name, []).append(
                            (t0, ev.get("Completion Time") or t0))
                elif '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    name = stage_label.get(ev.get("Stage ID"))
                    if name is None:
                        continue
                    m = ev.get("Task Metrics") or {}
                    info = ev.get("Task Info") or {}
                    t = out.setdefault(name, {"tasks": 0, "task_run_s": 0.0, "gc_s": 0.0,
                                              "shuffle_write_bytes": 0, "spill_bytes": 0,
                                              "failed_tasks": 0})
                    t["tasks"] += 1
                    t["failed_tasks"] += int(bool(info.get("Failed")))
                    t["task_run_s"] += (m.get("Executor Run Time") or 0) / 1000
                    t["gc_s"] += (m.get("JVM GC Time") or 0) / 1000
                    sw = m.get("Shuffle Write Metrics") or {}
                    t["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written") or 0
                    t["spill_bytes"] += (m.get("Memory Bytes Spilled") or 0) + (
                        m.get("Disk Bytes Spilled") or 0)
    for name, spans in intervals.items():
        out.setdefault(name, {})["job_s"] = _union_ms(spans) / 1000
    return out


def _union_ms(spans: list[tuple[int, int]]) -> int:
    """Total length of the union of [start, end] intervals."""
    total, end = 0, None
    for a, b in sorted(spans):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def dir_bytes(path: Path, since: float | None = None) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(root, f))
            if since is None or st.st_mtime >= since:
                total += st.st_size
    return total
