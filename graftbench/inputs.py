"""Seeded input generators.

Everything the benchmark feeds the engine is made here from ``--seed``:
the same seed gives byte-identical files.

- ``write_llm_tables``: ``documents`` and ``embeddings`` parquet tables
  in the shape of the engine's sf0.01 test data (500 short documents
  over a 30-word vocabulary with ~5% near-duplicates; 500 unit-norm
  64-dim float vectors in 10 weak clusters).
- ``MusicFeed``: the reference's music CSVs (users, songs with the
  FIXTURES.md anomalies, one 11,347-row streams file per landed day and
  a periodic late file that re-opens an earlier day).
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
N_DOCS = 500
N_VECS = 500
DIM = 64
N_LABELS = 10

GENRES = (
    "acoustic afrobeat alt-rock ambient anime black-metal deep-house j-dance "
    "mpb pagode detroit-techno indie-pop sad soul synth-pop opera"
).split()
NUMERIC_GENRES = ("42", "3.14", "7", "100.5")
B62 = np.array(list("0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"))
STREAM_ROWS = 11_347
LATE_ROWS = 1_200
LATE_EVERY = 4  # episode e lands a late file when e % LATE_EVERY == LATE_EVERY - 1
LATE_LAG_DAYS = 2
FIRST_DAY = dt.date(2024, 6, 1)


def _write_parquet(table: pa.Table, path: Path) -> None:
    pq.write_table(table, path, compression="snappy")


def write_llm_tables(out_dir: Path, seed: int, n_docs: int = N_DOCS,
                     n_vecs: int = N_VECS) -> dict[str, str]:
    rng = np.random.default_rng([seed & 0xFFFFFFFF, 1])
    out_dir.mkdir(parents=True, exist_ok=True)

    texts: list[str] = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.05:
            base = texts[int(rng.integers(0, i))].split()
            cut = int(rng.integers(0, 3))
            words = (base[: len(base) - cut] if len(base) - cut >= 5 else base) + ["dup"]
        else:
            words = list(rng.choice(VOCAB, size=int(rng.integers(10, 100))))
        texts.append(" ".join(words))
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([str(x) for x in rng.choice(LANGS, size=n_docs, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    _write_parquet(docs, out_dir / "documents.parquet")

    centers = rng.standard_normal((N_LABELS, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, N_LABELS, size=n_vecs).astype(np.int32)
    vecs = rng.standard_normal((n_vecs, DIM)) / np.sqrt(DIM) + 0.15 * centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels),
    })
    _write_parquet(emb, out_dir / "embeddings.parquet")
    return {"documents": str(out_dir / "documents.parquet"),
            "embeddings": str(out_dir / "embeddings.parquet")}


def _csv(header: str, rows) -> bytes:
    lines = [header]
    lines += [",".join(r) for r in rows]
    return ("\n".join(lines) + "\n").encode()


def _track_ids(rng: np.random.Generator, n: int) -> list[str]:
    return ["".join(r) for r in rng.choice(B62, size=(n, 22))]


@dataclass
class LandedFile:
    name: str
    data: bytes
    dates: frozenset  # listen dates present in the file ('' = null timestamp)


@dataclass
class MusicFeed:
    """Reference-shaped music inputs for a run of ``n_episodes`` days."""

    seed: int
    n_episodes: int
    stream_rows: int = STREAM_ROWS
    n_users: int = 2_000
    n_songs: int = 3_000
    users: bytes = b""
    songs: bytes = b""
    episodes: list[list[LandedFile]] = field(default_factory=list)

    def __post_init__(self) -> None:
        rng = np.random.default_rng([self.seed & 0xFFFFFFFF, 2])
        self.users = self._users(rng)
        self.songs, track_ids = self._songs(rng)
        for e in range(self.n_episodes):
            day = FIRST_DAY + dt.timedelta(days=e)
            files = [self._streams(rng, f"streams_{day:%Y%m%d}.csv", day,
                                   self.stream_rows, track_ids)]
            if e % LATE_EVERY == LATE_EVERY - 1:
                late = day - dt.timedelta(days=LATE_LAG_DAYS)
                files.append(self._streams(
                    rng, f"late_{late:%Y%m%d}_e{e:03d}.csv", late,
                    max(1, self.stream_rows * LATE_ROWS // STREAM_ROWS), track_ids))
            self.episodes.append(files)

    def _users(self, rng) -> bytes:
        n = self.n_users
        ages = rng.integers(18, 70, size=n)
        us = rng.random(n) < 0.98
        other = rng.choice(["Brazil", "Japan", "Germany", "Kenya"], size=n)
        days = rng.integers(0, 364, size=n)
        rows = (
            (str(i + 1), f"user_{i + 1}", str(ages[i]),
             "United States" if us[i] else str(other[i]),
             str(dt.date(2024, 1, 1) + dt.timedelta(days=int(days[i]))))
            for i in range(n)
        )
        return _csv("user_id,user_name,user_age,user_country,created_at", rows)

    def _songs(self, rng) -> tuple[bytes, list[str]]:
        n = self.n_songs
        tids = _track_ids(rng, n)
        genre = rng.choice(GENRES, size=n)
        u = rng.random((n, 4))
        pop = rng.integers(0, 101, size=n)
        dur = rng.integers(90_000, 360_001, size=n)
        rows = []
        for i in range(n):
            name = f'"Song, the {i}th"' if i % 37 == 0 else f"Song {i}"
            if u[i, 0] < 0.005:
                name = ""  # null track_name, dropped by clean_songs
            g = str(genre[i])
            if u[i, 1] < 0.02:
                g = NUMERIC_GENRES[i % len(NUMERIC_GENRES)]  # numeric-genre filter
            elif u[i, 1] < 0.025:
                g = ""  # null genre
            rows.append((tids[i], name, g, f"artist_{i % 40}", str(pop[i]), str(dur[i])))
            if u[i, 2] < 0.01:  # duplicate key with a different payload
                rows.append((tids[i], f"Song {i} (alt)", GENRES[i % len(GENRES)],
                             f"artist_{i % 40}", str(pop[i]), str(dur[i])))
        header = "track_id,track_name,track_genre,artists,popularity,duration_ms"
        return _csv(header, rows), tids

    def _streams(self, rng, name: str, day: dt.date, n: int,
                 track_ids: list[str]) -> LandedFile:
        uid = rng.integers(1, self.n_users + 1, size=n)
        hot = rng.random(n) < 0.3
        tix = np.where(hot, rng.integers(0, 10, size=n),
                       rng.integers(0, len(track_ids), size=n))
        secs = np.sort(rng.integers(0, 86_400, size=n))
        u = rng.random((n, 4))
        dangling = _track_ids(rng, int((u[:, 1] < 0.01).sum()))
        rows, dates, d = [], set(), 0
        # plain lists: indexing numpy arrays per row is what made this slow
        day_s = str(day)
        for ui, s, t, (u0, u1, u2, u3) in zip(uid.tolist(), secs.tolist(),
                                              tix.tolist(), u.tolist()):
            user = "" if u0 < 0.005 else str(ui)
            if u1 < 0.01:
                tid = dangling[d]
                d += 1
            else:
                tid = track_ids[t]
            if u2 < 0.005:
                tid = ""
            ts = f"{day_s} {s // 3600:02d}:{s // 60 % 60:02d}:{s % 60:02d}"
            if u3 < 0.003:
                ts = ""
            dates.add(ts[:10])
            rows.append((user, tid, ts))
        return LandedFile(name, _csv("user_id,track_id,listen_time", rows),
                          frozenset(dates))

    def write_dimensions(self, out_dir: Path) -> dict[str, str]:
        paths = {}
        for table, data in (("users", self.users), ("songs", self.songs)):
            p = out_dir / table / f"{table}.csv"
            p.parent.mkdir(parents=True, exist_ok=True)
            p.write_bytes(data)
            paths[table] = str(p)
        return paths
