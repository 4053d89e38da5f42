"""CHECK constraints (Delta-analog): enforcement fused into the
bucket write (one ``observe``), abort-before-commit semantics, DDL guards.

Reference theme: save-time validation gates (Dataset.add asserts,
/root/reference/lib/catalog/owid/catalog/datasets.py:99-134) — here as
declarative per-row table invariants enforced by every rewrite."""

import pytest
from pyspark.sql import types as T

from etl_spark.lake.table import (
    ConstraintViolationError,
    LakeTable,
    SchemaEvolutionError,
)


def _schema():
    return T.StructType([
        T.StructField("k", T.StringType(), False),
        T.StructField("v", T.IntegerType(), True),
    ])


def _src(spark, rows):
    return spark.createDataFrame(
        rows, "k string, v int, op string, seq long"
    )


@pytest.mark.parametrize("write_mode", ["cow", "mor"])
def test_violating_merge_aborts_table_untouched(spark, tmp_path, write_mode):
    t = LakeTable.create(
        spark, str(tmp_path / write_mode), _schema(), ["k"], n_buckets=4,
        write_mode=write_mode, constraints={"v_nonneg": "v >= 0"},
    )
    t.merge_cdc(_src(spark, [("a", 1, "insert", 1)]), epoch=0)
    v = t.current_version()
    with pytest.raises(ConstraintViolationError, match="v_nonneg"):
        t.merge_cdc(_src(spark, [("b", -5, "insert", 2), ("c", 2, "insert", 3)]),
                    epoch=1)
    # abort-before-commit: version, state and epoch fence all unchanged
    assert t.current_version() == v
    assert {r["k"]: r["v"] for r in t.read().collect()} == {"a": 1}
    assert not t.has_epoch(1)
    # the clean batch then applies
    t.merge_cdc(_src(spark, [("c", 2, "insert", 3)]), epoch=1)
    assert {r["k"]: r["v"] for r in t.read().collect()} == {"a": 1, "c": 2}


def test_null_satisfies_and_tombstones_exempt(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "t"), _schema(), ["k"], n_buckets=4,
        constraints={"v_nonneg": "v >= 0"},
    )
    # NULL passes (SQL CHECK semantics); a delete of a key whose final
    # event would violate is exempt (tombstones carry no live values)
    t.merge_cdc(_src(spark, [("a", None, "insert", 1),
                             ("b", -1, "delete", 2)]), epoch=0)
    assert {r["k"] for r in t.read().collect()} == {"a"}


def test_add_constraint_validates_existing_rows(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), _schema(), ["k"], n_buckets=4)
    t.merge_cdc(_src(spark, [("a", -3, "insert", 1)]), epoch=0)
    with pytest.raises(ConstraintViolationError, match="1 existing rows"):
        t.add_constraint("v_nonneg", "v >= 0")
    t.merge_cdc(_src(spark, [("a", 3, "update", 2)]), epoch=1)
    v = t.add_constraint("v_nonneg", "v >= 0")
    assert t.current_version() == v
    assert t.constraints() == {"v_nonneg": "v >= 0"}
    with pytest.raises(ConstraintViolationError):
        t.merge_cdc(_src(spark, [("z", -9, "insert", 3)]), epoch=2)
    with pytest.raises(ValueError, match="constraint exists"):
        t.add_constraint("v_nonneg", "v >= 0")


def test_drop_constraint_reopens_and_ddl_guards(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "t"), _schema(), ["k"], n_buckets=4,
        constraints={"v_nonneg": "v >= 0"},
    )
    # renaming/dropping a constrained column would break enforcement
    with pytest.raises(SchemaEvolutionError, match="v_nonneg"):
        t.rename_column("v", "value")
    with pytest.raises(SchemaEvolutionError, match="v_nonneg"):
        t.drop_column("v")
    t.drop_constraint("v_nonneg")
    t.merge_cdc(_src(spark, [("a", -1, "insert", 1)]), epoch=0)
    assert {r["v"] for r in t.read().collect()} == {-1}
    with pytest.raises(ValueError, match="no such constraint"):
        t.drop_constraint("v_nonneg")


def test_compact_keeps_enforcing(spark, tmp_path):
    """Constraints hold across the other rewrite paths: a MOR compact
    of clean deltas passes; the violating delta never landed, so the
    compacted base is clean too."""
    t = LakeTable.create(
        spark, str(tmp_path / "t"), _schema(), ["k"], n_buckets=4,
        write_mode="mor", constraints={"v_small": "v < 100"},
    )
    t.merge_cdc(_src(spark, [("a", 1, "insert", 1)]), epoch=0)
    t.merge_cdc(_src(spark, [("b", 2, "insert", 2)]), epoch=1)
    with pytest.raises(ConstraintViolationError):
        t.merge_cdc(_src(spark, [("c", 200, "insert", 3)]), epoch=2)
    t.compact()
    assert {r["k"]: r["v"] for r in t.read().collect()} == {"a": 1, "b": 2}


@pytest.mark.parametrize("write_mode", ["cow", "mor"])
def test_quarantine_routes_bad_rows_and_merges_clean(spark, tmp_path, write_mode):
    """on_violation='quarantine' (dead-letter pattern): violating
    staged rows land in the quarantine area with the failed constraint
    names; the clean remainder merges and the epoch commits."""
    t = LakeTable.create(
        spark, str(tmp_path / write_mode), _schema(), ["k"], n_buckets=4,
        write_mode=write_mode,
        constraints={"v_nonneg": "v >= 0", "v_small": "v < 100"},
        on_violation="quarantine",
    )
    out = t.merge_cdc(_src(spark, [
        ("a", 1, "insert", 1),        # clean
        ("b", -5, "insert", 2),       # violates v_nonneg
        ("c", 500, "insert", 3),      # violates v_small
        ("d", None, "insert", 4),     # NULL satisfies (SQL CHECK)
    ]), epoch=0)
    assert out["rows_quarantined"] == 2 and t.has_epoch(0)
    assert {r["k"]: r["v"] for r in t.read().collect()} == {"a": 1, "d": None}
    q = {r["k"]: sorted(r["_violated"]) for r in t.quarantined().collect()}
    assert q == {"b": ["v_nonneg"], "c": ["v_small"]}
    # clean batch: no quarantine rows, no stats key
    out2 = t.merge_cdc(_src(spark, [("e", 7, "insert", 5)]), epoch=1)
    assert "rows_quarantined" not in out2
    assert t.quarantined().count() == 2


def test_quarantine_screen_is_pre_resolve(spark, tmp_path):
    """A violating staged row is quarantined even when it would LOSE
    the latest-wins resolve — bad data is triaged regardless — and the
    winning clean row still applies."""
    t = LakeTable.create(
        spark, str(tmp_path / "t"), _schema(), ["k"], n_buckets=4,
        constraints={"v_nonneg": "v >= 0"}, on_violation="quarantine",
    )
    out = t.merge_cdc(_src(spark, [
        ("a", -1, "insert", 1),   # violating, older
        ("a", 2, "update", 2),    # clean winner
    ]), epoch=0)
    assert out["rows_quarantined"] == 1
    assert {r["k"]: r["v"] for r in t.read().collect()} == {"a": 2}


def test_set_on_violation_flips_modes(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "t"), _schema(), ["k"], n_buckets=4,
        constraints={"v_nonneg": "v >= 0"},
    )
    with pytest.raises(ConstraintViolationError):
        t.merge_cdc(_src(spark, [("a", -1, "insert", 1)]), epoch=0)
    t.set_on_violation("quarantine")
    out = t.merge_cdc(_src(spark, [("a", -1, "insert", 1), ("b", 2, "insert", 2)]),
                      epoch=0)
    assert out["rows_quarantined"] == 1
    assert {r["k"] for r in t.read().collect()} == {"b"}
    t.set_on_violation("abort")
    with pytest.raises(ConstraintViolationError):
        t.merge_cdc(_src(spark, [("c", -9, "insert", 3)]), epoch=1)
    with pytest.raises(ValueError, match="abort|quarantine"):
        t.set_on_violation("ignore")


def test_clear_quarantine_after_triage(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "t"), _schema(), ["k"], n_buckets=4,
        constraints={"v_nonneg": "v >= 0"}, on_violation="quarantine",
    )
    t.merge_cdc(_src(spark, [("a", -1, "insert", 1), ("b", 2, "insert", 2)]), epoch=0)
    assert t.quarantined().count() == 1
    assert t.clear_quarantine() == 1
    assert t.quarantined().count() == 0
    assert {r["k"] for r in t.read().collect()} == {"b"}  # table untouched
