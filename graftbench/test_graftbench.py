"""Self-tests of the benchmark, at the smallest scale.

    python3 -m pytest graftbench/test_graftbench.py -q

The end-to-end cases launch ``run.py`` (a fresh JVM each) with short
schedules; the rest need no Spark.
"""

from __future__ import annotations

import json
import math
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.path.insert(1, str(HERE.parent))

from harness import OpRun, latency_summary, tail  # noqa: E402
from inputs import MusicFeed, write_llm_tables  # noqa: E402

SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())


@pytest.fixture
def scratch(request):
    """A fresh directory inside the checkout's build tree."""
    import shutil

    path = HERE.parent / ".bench_build" / "graftbench" / "selftest" / request.node.name
    shutil.rmtree(path, ignore_errors=True)
    path.mkdir(parents=True)
    yield path
    shutil.rmtree(path, ignore_errors=True)


def _run(workload: str, trace: int, *extra: str) -> dict:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "5",
           "--seconds", "1", "--trace", str(trace), "--tiny", "--warmup-passes", "0",
           *extra]
    out = subprocess.run(cmd, cwd=HERE.parent, capture_output=True, text=True,
                         timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


# --- the tail rule ----------------------------------------------------------


def test_tail_leaves_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]
    value, pct, n = tail(xs)
    assert (value, pct, n) == (90.0, 90.0, 100)
    assert sum(x > value for x in xs) == 10


def test_tail_needs_more_than_ten_samples():
    with pytest.raises(ValueError):
        tail([1.0] * 10)
    assert tail([1.0] * 11)[1] == pytest.approx(100 / 11)


def test_failures_rank_last_in_the_tail():
    runs = [OpRun("q", 1, float(i)) for i in range(1, 31)]
    for r in runs:
        r.ok = True
    base = latency_summary(runs)
    runs[0].ok = False  # the fastest sample failed: it now ranks last
    s = latency_summary(runs)
    assert base["latency_tail_s"] == 20.0
    assert s["latency_tail_s"] == 21.0
    assert math.isfinite(s["latency_p50_s"])


# --- seeded inputs ----------------------------------------------------------


def _tree(root: Path) -> dict[str, bytes]:
    return {str(p.relative_to(root)): p.read_bytes() for p in sorted(root.rglob("*"))
            if p.is_file()}


def test_same_seed_gives_byte_identical_inputs(scratch):
    for d in ("a", "b", "c"):
        write_llm_tables(scratch / d, seed=3 if d != "c" else 4)
        feed = MusicFeed(seed=3 if d != "c" else 4, n_episodes=5, stream_rows=300)
        feed.write_dimensions(scratch / d)
        for files in feed.episodes:
            for f in files:
                (scratch / d / f.name).write_bytes(f.data)
    a, b, c = (_tree(scratch / d) for d in "abc")
    assert a == b
    assert a.keys() == c.keys() and a != c


def test_music_feed_lands_a_late_file_periodically():
    feed = MusicFeed(seed=1, n_episodes=8, stream_rows=200)
    late = [e for e, files in enumerate(feed.episodes) if len(files) == 2]
    assert late == [3, 7]
    assert feed.episodes[3][1].dates - {""} == {"2024-06-02"}


# --- verification marks wrong results ---------------------------------------


def test_wrong_llm_results_count_as_failed(scratch):
    import duckdb
    from workload_llm import LlmOps

    write_llm_tables(scratch, seed=9)
    wl = LlmOps.__new__(LlmOps)
    import __spark_entry__ as entry

    wl.sf_dir, wl.oracle_sql = str(scratch), entry.oracle_sql()
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{scratch}/{t}.parquet')")
    cur = con.execute(wl.oracle_sql["doc_token_stats"])
    cols = [d[0] for d in cur.description]
    rows = cur.fetchall()
    cur = con.execute(wl.oracle_sql["embedding_topk_bruteforce"])
    kcols = [d[0] for d in cur.description]
    krows = [dict(zip(kcols, r)) for r in cur.fetchall()]
    bad_k = [dict(r) for r in krows]
    bad_k[0]["cos"] += 0.01
    runs = [
        OpRun("doc_token_stats", 0, 0.1, (cols, rows)),
        OpRun("doc_token_stats", 1, 0.1, (cols, rows[:-1])),  # a row lost
        OpRun("doc_token_stats", 2, 0.1, error="boom"),
    ]
    wl.verify(runs)
    assert [r.ok for r in runs] == [True, False, False]
    # approximate top-k: the cosine check alone fails a wrong score
    for k_rows, ok in ((krows, True), (bad_k, False)):
        runs = [OpRun("embedding_ivf_topk", 0, 0.1, (kcols, [_Row(r) for r in k_rows]))]
        wl.verify(runs)
        assert runs[0].ok is ok


class _Row(tuple):
    """A tuple that also answers ``row["col"]``, like ``pyspark.sql.Row``."""

    def __new__(cls, d: dict):
        obj = super().__new__(cls, d.values())
        obj._d = d
        return obj

    def __getitem__(self, k):
        return self._d[k] if isinstance(k, str) else tuple.__getitem__(self, k)


# --- end to end: names, units, fault injection --------------------------------


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_benchmark_name_is_emitted_with_its_unit(workload):
    n = "3" if workload == "llm_ops" else "11"
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        out = _run(workload, trace, "--measured-passes", n)
        assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
        assert set(out) == {"correct", "attempted", "failed", "metrics"}
        want = {m["name"]: m["unit"] for m in SPEC[key]}
        got = {k: v["unit"] for k, v in out["metrics"].items()}
        assert got == want
        assert all(isinstance(v["value"], float) for v in out["metrics"].values())


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_an_injected_wrong_result_is_counted_as_failed(workload):
    n = "3" if workload == "llm_ops" else "11"
    out = _run(workload, 0, "--measured-passes", n, "--inject-fault")
    assert not out["correct"]
    assert out["failed"] >= 1
