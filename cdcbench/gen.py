"""Seeded input generator: WAL files, batch files, upsert files, dimension rows.

Pure numpy + pyarrow in one process (the program under test never sees
the generator, only the parquet files it writes). The same ``seed`` and
``Shape`` give byte-identical files.

Event shape (the engine's WAL contract, ``etl_spark.sources.wal.EVENT_SCHEMA``):
``seq, ts, op, repo, path, commit, lang, content``. Keys are
``(repo, path)``; ``seq`` is dense and unique over the whole log.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_REPOS = 50
HOT_REPOS = 3          # 20% of keys live in repos 0-2
HOT_SHARE = 0.2
# Payload shape follows the engine's own generator
# (etl_spark.cdc.generator.event_columns): lang is one of 4 values or
# NULL 1 time in 20, and the body after the one-line header is a 64-hex
# digest repeated to a uniform 64-4096 bytes (~2 KB on average, and as
# compressible as that generator's bodies).
LANGS = ["python", "rust", "go", "js"]
EXTS = ["py", "rs", "go", "js"]
LANG_NULL_IN = 20
BODY_MIN, BODY_MAX = 64, 4096
TS0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z

EVENT_SCHEMA = pa.schema([
    ("seq", pa.int64()), ("ts", pa.timestamp("us", tz="UTC")),
    ("op", pa.string()), ("repo", pa.string()), ("path", pa.string()),
    ("commit", pa.string()), ("lang", pa.string()), ("content", pa.string()),
])
DIM_SCHEMA = pa.schema([("dim_repo", pa.string()), ("org", pa.string()),
                        ("tier", pa.string()), ("op", pa.string()), ("seq", pa.int64())])


@dataclass(frozen=True)
class Shape:
    """Input make-up: ``keys`` bootstrap inserts (seq 0..keys-1, one per
    key) followed by ``batches`` change batches of ``batch_events``
    events each, then ``upserts`` one-row upsert files."""
    keys: int
    batches: int
    batch_events: int
    upserts: int = 0


class KeySpace:
    """The key universe of one seed: key i -> (repo, path)."""

    def __init__(self, rng: np.random.Generator, n_keys: int):
        hot = rng.random(n_keys) < HOT_SHARE
        repo_id = np.where(hot, rng.integers(0, HOT_REPOS, n_keys),
                           rng.integers(HOT_REPOS, N_REPOS, n_keys))
        ext = rng.integers(0, len(EXTS), n_keys)
        self.repo = np.array([f"org{r % 7}/repo{r}" for r in repo_id], dtype=object)
        self.path = np.array(
            [f"src/m{(i * 7) % 97}/f{i}.{EXTS[e]}" for i, e in enumerate(ext)], dtype=object)


def events_table(rng, ks: KeySpace, seq0: int, key_idx, op) -> pa.Table:
    """Rows for seq in [seq0, seq0 + len(key_idx)): payload, commit and
    lang drawn from ``rng``; deletes carry NULL content."""
    n = len(key_idx)
    seq = np.arange(seq0, seq0 + n, dtype=np.int64)
    commit = [c.hex() for c in np.frombuffer(rng.bytes(20 * n), dtype="S20")] if n else []
    digest = [d.hex() for d in np.frombuffer(rng.bytes(32 * n), dtype="S32")] if n else []
    lang_pick = rng.integers(0, LANG_NULL_IN, n)     # LANG_NULL_IN - 1 means NULL
    body_len = rng.integers(BODY_MIN, BODY_MAX + 1, n)
    reps = BODY_MAX // 64
    repo, path = ks.repo[key_idx], ks.path[key_idx]
    content = [
        None if op[i] == "delete" else
        f"// {repo[i]}/{path[i]}@{commit[i]}\n" + (digest[i] * reps)[:body_len[i]]
        for i in range(n)
    ]
    return pa.table({
        "seq": seq,
        "ts": pa.array(TS0_US + seq * 1_000_000, pa.timestamp("us", tz="UTC")),
        "op": pa.array(list(op), pa.string()),
        "repo": pa.array(list(repo), pa.string()),
        "path": pa.array(list(path), pa.string()),
        "commit": pa.array(commit, pa.string()),
        "lang": pa.array([None if p == LANG_NULL_IN - 1 else LANGS[p % len(LANGS)]
                          for p in lang_pick], pa.string()),
        "content": pa.array(content, pa.string()),
    }, schema=EVENT_SCHEMA)


def change_ops(rng, n: int):
    """~10% delete, ~30% (re)insert, ~60% update."""
    sel = rng.integers(0, 10, n)
    return np.where(sel < 1, "delete", np.where(sel < 4, "insert", "update")).astype(object)


def write_inputs(out_dir: str, seed: int, shape: Shape) -> dict:
    """Write every input file of one run under ``out_dir``:

    - ``wal/wal-00000.parquet`` = the bootstrap inserts, then one file per
      change batch (names sort in seq order);
    - ``upserts/u-00000.parquet`` ... one single-row update each, on keys
      spread over the key space, seqs above every WAL seq;
    - ``dim/dim.parquet`` = one row per repo (the join view's dimension).

    Returns the file lists and the total event count."""
    pa.set_cpu_count(os.cpu_count() or 1)
    rng = np.random.default_rng(seed)
    ks = KeySpace(rng, shape.keys)
    wal_dir, up_dir, dim_dir = (os.path.join(out_dir, d) for d in ("wal", "upserts", "dim"))
    for d in (wal_dir, up_dir, dim_dir):
        os.makedirs(d, exist_ok=True)
    wal = []

    def put(path: str, tbl: pa.Table) -> str:
        pq.write_table(tbl, path, compression="snappy")
        # on disk before the clock starts: no write-back of inputs
        # competes with the timed phase
        fd = os.open(path, os.O_RDONLY)
        try:
            os.fsync(fd)
        finally:
            os.close(fd)
        return path

    boot = np.arange(shape.keys)
    wal.append(put(os.path.join(wal_dir, "wal-00000.parquet"),
                   events_table(rng, ks, 0, boot, np.full(shape.keys, "insert", object))))
    seq = shape.keys
    for b in range(shape.batches):
        kidx = rng.integers(0, shape.keys, shape.batch_events)
        wal.append(put(os.path.join(wal_dir, f"wal-{b + 1:05d}.parquet"),
                       events_table(rng, ks, seq, kidx, change_ops(rng, shape.batch_events))))
        seq += shape.batch_events
    ups = []
    # upsert keys: a stride through the key space, so successive rounds
    # touch different buckets of every table
    for u in range(shape.upserts):
        k = np.array([(u * 7919 + seed) % shape.keys])
        ups.append(put(os.path.join(up_dir, f"u-{u:05d}.parquet"),
                       events_table(rng, ks, seq + u, k, np.array(["update"], object))))
    repos = sorted(set(ks.repo.tolist()))
    tiers = rng.integers(0, 3, len(repos))
    dim = pa.table({
        "dim_repo": repos,
        "org": [r.split("/")[0] for r in repos],
        "tier": [f"t{t}" for t in tiers],
        "op": ["insert"] * len(repos),
        "seq": np.arange(len(repos), dtype=np.int64),
    }, schema=DIM_SCHEMA)
    dim_file = put(os.path.join(dim_dir, "dim.parquet"), dim)
    return {"wal": wal, "upserts": ups, "dim": dim_file,
            "wal_events": shape.keys + shape.batches * shape.batch_events}
