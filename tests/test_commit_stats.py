"""Commit stats read from parquet footers, checked against a Spark
read-back scan of the same files (the aggregation the engine ran after
every write before the stats came from the footers); and read_keys'
literal bucket-id probe, checked against the DataFrame probe."""

import datetime
import json
import os
from urllib.parse import unquote, urlparse

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_spark.lake.table import (
    _STATS_TYPES,
    ConstraintViolationError,
    LakeTable,
    _stat_encode,
)

SCHEMA = T.StructType([
    T.StructField("k", T.StringType(), True),
    T.StructField("s", T.StringType(), True),
    T.StructField("d", T.DateType(), True),
    T.StructField("ts", T.TimestampType(), True),
    T.StructField("x", T.DoubleType(), True),
    T.StructField("n", T.IntegerType(), True),
])
SRC = "k string, s string, d date, ts timestamp, x double, n int, op string, seq long"
SORT_COLS = ["s", "d", "ts", "x"]


def _batch(spark, lo, hi, seq0, deletes=True):
    """Events over 23 keys (repeats within the batch), with NULL seq,
    NULL op (so NULL ``_deleted``), NaN and NULL doubles, NULL strings,
    NULL ints and timestamps after 2262 among them."""
    rows = []
    for i in range(lo, hi):
        op = "delete" if deletes and i % 7 == 0 else (None if i % 11 == 0 else "upsert")
        rows.append((
            f"k{i % 23:02d}",
            None if i % 6 == 0 else f"s{i:03d}",
            datetime.date(2020, 1, 1) + datetime.timedelta(days=i),
            # some past 2262, where INT96 read as nanoseconds overflows
            datetime.datetime(2300 if i % 19 == 3 else 2021, 1, 1)
            + datetime.timedelta(seconds=3601 * i, microseconds=7 * i),
            float("nan") if i % 5 == 0 else (None if i % 9 == 0 else i * 0.5),
            None if i % 17 == 0 else i,
            op,
            None if i % 13 == 0 else seq0 + i,
        ))
    return spark.createDataFrame(rows, SRC)


def _reference(spark, m: dict, entries: dict, delta: bool) -> dict:
    """The read-back scan: one Spark aggregation per file over the
    entries' bucket dirs, folded into manifest entries (COW base shape,
    or MOR delta shape with ``delta=True``)."""
    seq = m["seq_col"]
    by_dir = {os.path.realpath(e["path"]): b for b, e in entries.items()}
    back = spark.read.option("recursiveFileLookup", "true").parquet(*[e["path"] for e in entries.values()])
    stat_cols = [c for c in m.get("sort_cols", [])
                 if c in back.columns and isinstance(back.schema[c].dataType, _STATS_TYPES)]
    dead = F.coalesce(F.col("_deleted"), F.lit(False))
    aggs = [F.count(F.when(~dead, 1)).alias("live"), F.count(F.when(dead, 1)).alias("dead"),
            F.min(seq).alias("mn"), F.max(seq).alias("mx"), F.max("_cv").alias("cv")]
    for i, c in enumerate(stat_cols):
        aggs += [F.min(c).alias(f"st{i}mn"), F.max(c).alias(f"st{i}mx")]
    out: dict = {b: {"rows": 0, "tombstones": 0} for b in entries}
    files: dict = {b: [] for b in entries}
    for r in back.groupBy(F.input_file_name().alias("f")).agg(*aggs).collect():
        path = unquote(urlparse(r["f"]).path)
        b = by_dir[os.path.realpath(os.path.dirname(path))]
        e = out[b]
        e["rows"] += r["live"]
        e["tombstones"] += r["dead"]
        if r["mx"] is not None:
            e["min_seq"] = min(e.get("min_seq", r["mn"]), r["mn"])
            e["max_seq"] = max(e.get("max_seq", r["mx"]), r["mx"])
        if r["cv"] is not None:
            e["max_cv"] = max(e.get("max_cv", r["cv"]), r["cv"])
        if stat_cols:
            st = {c: [_stat_encode(r[f"st{i}mn"]), _stat_encode(r[f"st{i}mx"])]
                  for i, c in enumerate(stat_cols) if r[f"st{i}mn"] is not None}
            fe = {"name": os.path.basename(path), "rows": r["live"] + r["dead"]}
            files[b].append({**fe, "stats": st} if st else fe)
    for b, e in out.items():
        if files[b]:
            e["files"] = sorted(files[b], key=lambda fe: fe["name"])
        if delta:
            n = e.pop("rows") + e.pop("tombstones")
            if "max_seq" in e:
                e["rows"] = n
    return out


def _check_manifest(spark, tbl: LakeTable) -> None:
    """Every base and delta entry of the current manifest equals the
    read-back reference (JSON-compared, so NaN ranges compare equal)."""
    m = tbl.manifest()
    groups = [(m["buckets"], False)] + [(d["buckets"], True) for d in m.get("deltas", [])]
    for entries, delta in groups:
        if not entries:
            continue
        got = {b: {k: v for k, v in e.items() if k not in ("path", "sid")}
               for b, e in entries.items()}
        exp = _reference(spark, m, entries, delta)
        assert json.dumps(got, sort_keys=True) == json.dumps(exp, sort_keys=True)


def _create(spark, root, **kw):
    return LakeTable.create(
        spark, str(root), SCHEMA, ["k"], n_buckets=4, sort_cols=SORT_COLS,
        properties={"target_file_rows": 3}, **kw,
    )


def test_cow_stats_match_scan_through_maintenance(spark, tmp_path):
    """COW merges, delete_where, purge_tombstones and rebucket all
    record footer stats equal to the read-back scan, with buckets split
    into several files and string/date/timestamp/NaN-double ranges."""
    t = _create(spark, tmp_path / "cow")
    t.merge_cdc(_batch(spark, 0, 40, 0), epoch=0)
    _check_manifest(spark, t)
    m = t.manifest()
    assert any(len(e["files"]) > 1 for e in m["buckets"].values())
    assert sum(e["tombstones"] for e in m["buckets"].values()) > 0
    assert any("x" in fe.get("stats", {}) and fe["stats"]["x"][1] != fe["stats"]["x"][1]
               for e in m["buckets"].values() for fe in e["files"])  # a NaN max
    t.merge_cdc(_batch(spark, 20, 70, 100), epoch=1)
    _check_manifest(spark, t)
    t.delete_where(F.col("n") < 30)
    _check_manifest(spark, t)
    t.purge_tombstones(10_000)
    _check_manifest(spark, t)
    # only NULL-seq tombstones are never purgeable
    assert sum(e["tombstones"] for e in t.manifest()["buckets"].values()) == (
        t.read(include_tombstones=True)
        .filter(F.col("_deleted") & F.col("last_seq").isNull()).count())
    t.rebucket(3)
    _check_manifest(spark, t)
    assert all("files" in e for e in t.manifest()["buckets"].values())


def test_mor_and_append_stats_match_scan(spark, tmp_path):
    """MOR deltas (all rows counted, max_cv = the commit version) and
    append-mode deltas match the scan, and so does the base compact
    folds them into."""
    for mode in ("mor", "append"):
        t = _create(spark, tmp_path / mode, write_mode=mode)
        t.merge_cdc(_batch(spark, 0, 40, 0, deletes=mode == "mor"), epoch=0)
        t.merge_cdc(_batch(spark, 30, 60, 100, deletes=mode == "mor"), epoch=1)
        _check_manifest(spark, t)
        deltas = t.manifest()["deltas"]
        assert [{e["max_cv"] for e in d["buckets"].values()} for d in deltas] == [{1}, {2}]
        t.compact()
        assert t.manifest()["deltas"] == []
        _check_manifest(spark, t)


def test_check_constraints_abort_and_quarantine(spark, tmp_path):
    """A violating batch aborts and removes its data dir (COW and MOR);
    NULL and tombstone rows pass; in quarantine mode the clean rows
    commit with stats matching the scan."""
    for mode, sub in (("cow", "data"), ("mor", "delta")):
        t = _create(spark, tmp_path / mode, write_mode=mode, constraints={"pos": "n >= 0"})
        t.merge_cdc(_batch(spark, 0, 30, 0), epoch=0)  # NULL n passes
        _check_manifest(spark, t)
        v = t.current_version()
        dirs = set(os.listdir(os.path.join(t.root, sub)))
        bad = spark.createDataFrame(
            [("k01", "s", None, None, 1.0, -1, "upsert", 500),
             ("k02", "s", None, None, 1.0, -5, "delete", 501)], SRC)
        with pytest.raises(ConstraintViolationError, match="pos"):
            t.merge_cdc(bad, epoch=1)
        assert t.current_version() == v
        assert set(os.listdir(os.path.join(t.root, sub))) == dirs
        # a tombstone carrying a violating value is exempt
        t.merge_cdc(bad.filter(F.col("op") == "delete"), epoch=1)
        _check_manifest(spark, t)
    q = _create(spark, tmp_path / "q", constraints={"pos": "n >= 0"}, on_violation="quarantine")
    ev = _batch(spark, 0, 30, 0).withColumn(
        "n", F.when(F.col("k") == "k03", F.lit(-1)).otherwise(F.col("n")))
    out = q.merge_cdc(ev, epoch=0)
    assert out["rows_quarantined"] > 0
    assert q.read().filter(F.col("k") == "k03").count() == 0
    _check_manifest(spark, q)


KEY_CASES = [
    ("int", T.IntegerType(), [(1,), (7,), (-3,), (2_000_000_000,)]),
    ("long", T.LongType(), [(1,), (7,), (-3,), (9_000_000_000,)]),
    ("string", T.StringType(), [("a",), ("b",), ("",), ("ü漢",)]),
    ("date", T.DateType(), [(datetime.date(2020, 1, 1),), (datetime.date(1999, 12, 31),),
                            (datetime.date(2038, 2, 1),), (datetime.date(1970, 1, 1),)]),
    ("composite", [T.StringType(), T.IntegerType()],
     [("a", 1), (None, 2), ("b", None), (None, None), ("c", 3)]),
]


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_read_keys_literal_bucket_ids(spark, tmp_path, monkeypatch, mode):
    """For int, long, string, date and composite keys with NULLs, the
    literal bucket-id probe picks exactly the buckets ``_bucket_expr``
    gives over a DataFrame of the keys, and both sides of
    ``pushdown_limit`` return the same rows."""
    for name, types, keys in KEY_CASES:
        types = types if isinstance(types, list) else [types]
        kcols = [f"k{i}" for i in range(len(types))]
        schema = T.StructType([T.StructField(c, t, True) for c, t in zip(kcols, types)]
                              + [T.StructField("v", T.StringType(), True)])
        t = LakeTable.create(spark, str(tmp_path / f"{mode}_{name}"), schema, kcols,
                             n_buckets=8, write_mode=mode)
        src = T.StructType(list(schema.fields) + [T.StructField("op", T.StringType()),
                                                  T.StructField("seq", T.LongType())])
        t.merge_cdc(spark.createDataFrame(
            [(*k, f"v{i}", "upsert", i) for i, k in enumerate(keys)], src), epoch=0)
        key_schema = T.StructType(schema.fields[:len(kcols)])
        want = {r["b"] for r in spark.createDataFrame(keys, key_schema)
                .select(t._bucket_expr(kcols).alias("b")).distinct().collect()}
        seen = []
        real = LakeTable._scan

        def spy(self, m, buckets=None, *a, **kw):
            seen.append(buckets)
            return real(self, m, buckets, *a, **kw)

        monkeypatch.setattr(LakeTable, "_scan", spy)
        rows = {}
        for limit in (64, 0):
            seen.clear()
            rows[limit] = sorted(tuple(r) for r in t.read_keys(keys, pushdown_limit=limit).collect())
            assert seen[0] == want, (name, limit)
        monkeypatch.undo()
        assert rows[64] == rows[0]
        assert len(rows[64]) == sum(None not in k for k in keys), name
