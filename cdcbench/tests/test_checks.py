"""The benchmark's correctness checks must fail on a corrupted table.

    python3 -m pytest cdcbench/tests -q      (from the repository root)

Builds a small table with the engine from generated inputs, confirms
the DuckDB oracle check passes, then rewrites one of the table's bucket
files on disk with one live row dropped and one content byte changed,
and expects the same check to report both.
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]

import gen  # noqa: E402
import harness  # noqa: E402
import oracle  # noqa: E402
import workloads  # noqa: E402


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("spark"))
    profile = {"cores": 2, "mem_mb": None, "heap_mb": 1024}
    harness.prepare_env(work, profile)
    s = harness.start_spark(work, profile, event_log=False)
    yield s
    harness.stop_spark(s)


def _built_table(spark, root: str):
    import etl_spark.cdc.replay as R

    inp = gen.write_inputs(os.path.join(root, "in"), seed=5, shape=gen.Shape(300, 2, 200, 0))
    tbl = workloads._table(spark, os.path.join(root, "t"), "cow")
    for i, f in enumerate(inp["wal"]):
        R.apply_batch(tbl, workloads._events(spark, f), epoch=i)
    return tbl, oracle.expected_state(inp["wal"])


def _corrupt_one_file(tbl) -> tuple[tuple, tuple]:
    """Drop the first live row of one bucket file and flip one byte of
    the next live row's content; returns (dropped key, changed key)."""
    for ent in tbl.manifest()["buckets"].values():
        files = [f for f in os.listdir(ent["path"]) if f.endswith(".parquet")]
        path = os.path.join(ent["path"], files[0])
        t = pq.read_table(path)
        live = [i for i, d in enumerate(t.column("_deleted").to_pylist()) if not d]
        if len(live) >= 2:
            break
    drop, edit = live[0], live[1]
    content = t.column("content").to_pylist()
    content[edit] = ("X" if content[edit][0] != "X" else "Y") + content[edit][1:]
    t = t.set_column(t.schema.get_field_index("content"), t.schema.field("content"),
                     pa.array(content, t.schema.field("content").type))
    keep = pc.not_equal(pa.array(range(t.num_rows)), drop)
    key = (lambda i: (t.column("repo")[i].as_py(), t.column("path")[i].as_py()))
    dropped, changed = key(drop), key(edit)
    pq.write_table(t.filter(keep), path)
    # drop the stale Hadoop checksum sidecar too: the corruption must
    # reach the reader, as an engine bug writing wrong rows would
    crc = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    return dropped, changed


def test_oracle_passes_then_fails_on_corrupted_table(spark, tmp_path):
    tbl, want = _built_table(spark, str(tmp_path))
    assert oracle.compare_state(oracle.table_state(tbl.read()), want) == []

    dropped, changed = _corrupt_one_file(tbl)
    problems = oracle.compare_state(oracle.table_state(tbl.read()), want)
    text = "; ".join(problems)
    assert any(p.startswith("row count") for p in problems), text
    assert "keys missing" in text and repr(dropped) in text, text
    assert "differ in content" in text and repr(changed) in text, text


def test_lineage_check_needs_exact_tiling():
    rows = [{"seq_min": 0, "seq_max": 9, "row_count": 10},
            {"seq_min": 10, "seq_max": 24, "row_count": 15}]
    assert oracle.check_lineage(rows, 25) == []
    assert oracle.check_lineage(rows, 30)                                   # events missing
    gap = [rows[0], {"seq_min": 11, "seq_max": 24, "row_count": 14}]
    assert oracle.check_lineage(gap, 24)                                    # a hole at seq 10
    short = [rows[0], {"seq_min": 10, "seq_max": 24, "row_count": 14}]
    assert oracle.check_lineage(short, 24)                                  # count != span
