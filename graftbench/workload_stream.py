"""``stream_ingest``: the write path. Each op is one episode: land one
day of reference-shaped music CSVs (and, periodically, a late file that
re-opens an earlier day), then run
``streaming.file_pipeline.run_streaming_episode``, which writes the
three KPI tables through ``sources.sinks`` and archives the previous
episode's files. The op's latency is the day's freshness: from landing
to the episode's return.

Verified after timing:

- every date partition of every sink table equals
  ``plans.music_pipeline.run_pipeline`` over the rows that episode's
  files held for that date (a partition is owned by the last episode
  that wrote it, as the sink overwrites by date);
- every landed file of every episode but the last is in the archive,
  byte for byte.
"""

from __future__ import annotations

import hashlib
import os
import time
from pathlib import Path

from harness import OpRun, RunDir
from inputs import MusicFeed

TABLES = ("GenreKPIs", "TopSongs", "TopGenres")
ARCHIVE_WAIT_S = 30


class StreamIngest:
    def __init__(self, spark, run: RunDir, seed: int, n_episodes: int,
                 stream_rows: int | None = None):
        from etl_with_s3__dynamodb_and_glue_spark.sources.sinks import ParquetKeyValueSink

        self.spark = spark
        kwargs = {"stream_rows": stream_rows} if stream_rows else {}
        self.feed = MusicFeed(seed, n_episodes, **kwargs)
        self.dims = self.feed.write_dimensions(run.sub("inputs"))
        self.staging = run.sub("staging")
        self.landing = run.sub("landing")
        self.archive = run.path / "archive"
        self.ckpt = run.path / "checkpoint"
        self.sink_dir = run.path / "sink"
        self.sink = ParquetKeyValueSink(str(self.sink_dir))
        for files in self.feed.episodes:
            for f in files:
                (self.staging / f.name).write_bytes(f.data)
        self.next_episode = 0
        self.last_query = None

    def ops(self) -> dict:
        return {"episode": self.episode}

    def episode(self):
        from etl_with_s3__dynamodb_and_glue_spark.streaming.file_pipeline import (
            run_streaming_episode,
        )

        e = self.next_episode
        self.next_episode += 1
        for f in self.feed.episodes[e]:
            os.rename(self.staging / f.name, self.landing / f.name)
        query = run_streaming_episode(
            self.spark, songs_path=self.dims["songs"], streams_dir=str(self.landing),
            sink=self.sink, checkpoint_dir=str(self.ckpt), archive_dir=str(self.archive))
        self.last_query = query
        return query

    def landed_bytes(self, e: int) -> int:
        return sum(len(f.data) for f in self.feed.episodes[e])

    def archived_files(self) -> dict[str, Path]:
        return {p.name: p for p in self.archive.rglob("*.csv")} if self.archive.exists() else {}

    def pending_files(self) -> int:
        return sum(1 for _ in self.landing.glob("*.csv"))

    # -- verification ------------------------------------------------------

    def inject_fault(self, runs: list[OpRun]) -> None:
        """Delete the first day's GenreKPIs partition (self-tests)."""
        import shutil

        day = sorted(self.feed.episodes[0][0].dates - {""})[0]
        shutil.rmtree(self.sink_dir / "GenreKPIs" / f"date={day}")

    def verify(self, runs: list[OpRun]) -> dict:
        from tests.oracle_harness import canonical
        from etl_with_s3__dynamodb_and_glue_spark.plans import music_pipeline as mp

        n = self.next_episode
        bad: dict[int, list[str]] = {}

        # the archive: all files of episodes 0..n-2, byte for byte
        want = {f.name: (e, hashlib.sha256(f.data).hexdigest())
                for e in range(n - 1) for f in self.feed.episodes[e]}
        deadline = time.time() + ARCHIVE_WAIT_S
        archived = self.archived_files()
        while not want.keys() <= archived.keys() and time.time() < deadline:
            time.sleep(0.5)
            archived = self.archived_files()
        for name, (e, digest) in want.items():
            p = archived.get(name)
            if p is None or hashlib.sha256(p.read_bytes()).hexdigest() != digest:
                bad.setdefault(e, []).append(f"archive:{name}")

        # the sink: each date partition against the batch pipeline over
        # the rows its owning episode landed for that date
        owner: dict[str, int] = {}
        for e in range(n):
            for f in self.feed.episodes[e]:
                for d in f.dates:
                    owner[d] = e
        lines = [b"user_id,track_id,listen_time"]
        for e in range(n):
            for f in self.feed.episodes[e]:
                for line in f.data.splitlines()[1:]:
                    if owner.get(line.rsplit(b",", 1)[1][:10].decode()) == e:
                        lines.append(line)
        verify_dir = self.staging.parent / "verify_streams"
        verify_dir.mkdir(exist_ok=True)
        (verify_dir / "streams.csv").write_bytes(b"\n".join(lines) + b"\n")
        res = mp.run_pipeline(self.spark, self.dims["users"], self.dims["songs"],
                              str(verify_dir))
        try:
            expected = {"GenreKPIs": res.genre_kpis, "TopSongs": res.top_songs,
                        "TopGenres": res.top_genres}
            for table in TABLES:
                exp_df = expected[table]
                got_df = self.spark.read.parquet(str(self.sink_dir / table))
                exp = _by_date(exp_df.collect(), exp_df.columns, canonical)
                got = _by_date(got_df.collect(), got_df.columns, canonical)
                for d in exp.keys() | got.keys():
                    if exp.get(d) != got.get(d):
                        bad.setdefault(owner.get(d, n - 1), []).append(f"{table}:{d}")
        finally:
            mp.unpersist_all(res)

        for r in runs:
            r.ok = r.error is None and r.pass_no not in bad
            r.result = None
        return {"wrong_episodes": {str(k): v[:5] for k, v in sorted(bad.items())},
                "dates_checked": len(owner), "archived_checked": len(want)}


def _by_date(rows, cols, canonical) -> dict[str, list]:
    """Canonical rows of a KPI table, grouped by their ``date`` key."""
    i = cols.index("date")
    out: dict[str, list] = {}
    for row in rows:
        out.setdefault(str(row[i]), []).append(row)
    return {d: canonical(rs, cols) for d, rs in out.items()}
