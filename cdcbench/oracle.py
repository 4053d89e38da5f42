"""Independent correctness checks.

The expected table state is computed by DuckDB straight from the
generated parquet files: latest event per ``(repo, path)`` by ``seq``,
deletes dropped, ``sha256(content)``. The engine's table is compared to
it on key set, row count, the stored ``content_sha256`` and a hash of
the stored ``content`` itself. Every function returns a list of
problems; empty means the check passed.
"""

from __future__ import annotations

import os

import duckdb

Key = tuple[str, str]


def expected_state(files: list[str]) -> dict[Key, tuple[str | None, str]]:
    """{(repo, path): (lang, sha256 hex of content)} of the live keys."""
    con = duckdb.connect()
    try:
        con.execute(f"SET threads = {os.cpu_count() or 1}")
        rows = con.execute(
            """
            SELECT repo, path, lang, sha256(content) FROM (
              SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
              FROM read_parquet(?)
            ) WHERE rn = 1 AND op <> 'delete'
            """,
            [list(files)],
        ).fetchall()
    finally:
        con.close()
    return {(r[0], r[1]): (r[2], r[3]) for r in rows}


def table_state(df) -> dict[Key, tuple[str | None, str | None, str | None]]:
    """{(repo, path): (lang, stored content_sha256, sha256 of stored
    content)} of a table snapshot DataFrame. Duplicate keys are kept
    apart under a suffixed path so the comparison sees them."""
    from pyspark.sql import functions as F

    rows = df.select("repo", "path", "lang", "content_sha256",
                     F.sha2(F.col("content"), 256).alias("h")).collect()
    out = {}
    for r in rows:
        k = (r["repo"], r["path"])
        while k in out:
            k = (k[0], k[1] + "#dup")
        out[k] = (r["lang"], r["content_sha256"], r["h"])
    return out


def compare_state(got: dict, want: dict, limit: int = 5) -> list[str]:
    problems = []
    if len(got) != len(want):
        problems.append(f"row count {len(got)} != expected {len(want)}")
    missing = [k for k in want if k not in got]
    extra = [k for k in got if k not in want]
    if missing:
        problems.append(f"{len(missing)} keys missing, e.g. {missing[:limit]}")
    if extra:
        problems.append(f"{len(extra)} unexpected keys, e.g. {extra[:limit]}")
    bad = [k for k, (lang, sha) in want.items()
           if k in got and (got[k][1] != sha or got[k][2] != sha or got[k][0] != lang)]
    if bad:
        problems.append(f"{len(bad)} rows differ in content/content_sha256/lang, e.g. {bad[:limit]}")
    return problems


def check_lineage(rows: list, n_events: int) -> list[str]:
    """Lineage ``row_count`` sums to the events drained, and the seq
    ranges tile [0, n_events): sorted by ``seq_min`` each range starts
    right after the previous one ends and holds exactly its span."""
    problems = []
    total = sum(r["row_count"] for r in rows)
    if total != n_events:
        problems.append(f"lineage row_count sums to {total}, drained {n_events}")
    nxt = 0
    for r in sorted(rows, key=lambda r: r["seq_min"]):
        if r["seq_min"] != nxt or r["row_count"] != r["seq_max"] - r["seq_min"] + 1:
            problems.append(f"lineage ranges do not tile at seq {nxt}: {tuple(r)}")
            break
        nxt = r["seq_max"] + 1
    else:
        if nxt != n_events:
            problems.append(f"lineage ranges end at {nxt}, expected {n_events}")
    return problems


def live_bytes(manifest: dict) -> int:
    """On-disk bytes of the data files the manifest references (base
    buckets and pending deltas)."""
    dirs = [e["path"] for e in manifest["buckets"].values()]
    dirs += [e["path"] for d in manifest.get("deltas", []) for e in d["buckets"].values()]
    total = 0
    for d in dirs:
        for fn in os.listdir(d):
            if fn.endswith(".parquet"):
                total += os.path.getsize(os.path.join(d, fn))
    return total
