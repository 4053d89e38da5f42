"""Structured Streaming exactly-once tests: stream replay == oracle,
kill-and-resume, crash-between-merge-and-checkpoint, lineage
invariants (FIXTURES.md §1.4)."""


import pandas as pd
import pytest
from pyspark.sql import functions as F

from etl_spark.cdc.generator import generate_events, oracle_final_state, write_event_log
from etl_spark.lake import LakeTable
from etl_spark.sources.wal import EVENT_SCHEMA, read_event_log
from etl_spark.streaming.driver import CdcStream

N = 6_000
COLS = ["repo", "path", "commit", "lang", "content", "content_sha256"]


@pytest.fixture(scope="module")
def wal(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("wal") / "events")
    write_event_log(spark, d, N, files=6)
    return d


@pytest.fixture(scope="module")
def oracle(spark):
    return oracle_final_state(generate_events(spark, N).toPandas())[COLS].reset_index(drop=True)


def _table(spark, tmp_path, repos_schema):
    return LakeTable.create(spark, str(tmp_path / "repos"), repos_schema, ["repo", "path"], n_buckets=8)


def _final(tbl):
    return tbl.read().select(*COLS).orderBy("repo", "path").toPandas().reset_index(drop=True)


def test_stream_replay_matches_oracle(spark, wal, oracle, repos_schema, tmp_path):
    tbl = _table(spark, tmp_path, repos_schema)
    s = CdcStream(tbl, str(tmp_path / "ckpt"))
    s.run_to_completion(spark, wal, schema=EVENT_SCHEMA, max_files_per_trigger=2)
    pd.testing.assert_frame_equal(_final(tbl), oracle, check_dtype=False)
    # multiple epochs actually happened
    assert len(tbl.committed_epochs()) == 3


def test_kill_and_resume(spark, wal, oracle, repos_schema, tmp_path):
    """Stop the query mid-backlog; a new query on the same checkpoint
    finishes the job; final state matches the oracle."""
    tbl = _table(spark, tmp_path, repos_schema)

    class Crashing(CdcStream):
        def process_batch(self, batch, epoch):
            if epoch == 2:
                raise RuntimeError("injected crash")
            return super().process_batch(batch, epoch)

    s = Crashing(tbl, str(tmp_path / "ckpt"))
    q = s.start(spark, wal, schema=EVENT_SCHEMA, max_files_per_trigger=1, available_now=True)
    with pytest.raises(Exception):
        q.awaitTermination()
    done_after_kill = len(tbl.committed_epochs())
    assert 0 < done_after_kill < 6  # genuinely mid-stream
    s2 = CdcStream(tbl, str(tmp_path / "ckpt"))
    s2.run_to_completion(spark, wal, schema=EVENT_SCHEMA, max_files_per_trigger=1)
    assert len(tbl.committed_epochs()) == 6
    pd.testing.assert_frame_equal(_final(tbl), oracle, check_dtype=False)


def test_crash_between_merge_and_checkpoint(spark, wal, oracle, repos_schema, tmp_path):
    """Simulate streaming redelivery of an already-merged batch (merge
    committed, checkpoint lost): process_batch with the same epoch id
    must hit the fence and change nothing."""
    tbl = _table(spark, tmp_path, repos_schema)
    s = CdcStream(tbl, str(tmp_path / "ckpt"))
    batch = read_event_log(spark, wal, schema=EVENT_SCHEMA).filter(F.col("seq") < 3000)
    out1 = s.process_batch(batch, 0)
    assert not out1.get("skipped")
    v = tbl.current_version()
    out2 = s.process_batch(batch, 0)  # redelivery
    assert out2["skipped"] and tbl.current_version() == v
    # finish the rest; total state correct
    rest = read_event_log(spark, wal, schema=EVENT_SCHEMA).filter(F.col("seq") >= 3000)
    s.process_batch(rest, 1)
    pd.testing.assert_frame_equal(_final(tbl), oracle, check_dtype=False)


def test_lineage_invariants(spark, wal, repos_schema, tmp_path):
    """Lineage seq ranges: disjoint per epoch, covering [0, N); row
    counts sum to batch sizes; manifest has one row per epoch and a
    rerun adds none."""
    tbl = _table(spark, tmp_path, repos_schema)
    s = CdcStream(tbl, str(tmp_path / "ckpt"))
    s.run_to_completion(spark, wal, schema=EVENT_SCHEMA, max_files_per_trigger=2)

    lin = s.read_lineage(spark).toPandas()
    assert not lin.empty
    # disjoint within epoch + global coverage of [0, N)
    covered = 0
    for _, g in lin.groupby("epoch"):
        g = g.sort_values("seq_min")
        assert (g["seq_min"].values[1:] > g["seq_max"].values[:-1]).all()
        covered += int(g["row_count"].sum())
    assert covered == N
    assert lin["seq_min"].min() == 0 and lin["seq_max"].max() == N - 1
    # digests are deterministic 64-hex strings
    assert lin["sha256_digest"].str.fullmatch(r"[0-9a-f]{64}").all()

    man = s.read_manifest(spark).toPandas()
    assert sorted(man["epoch"]) == sorted(int(e) for e in tbl.committed_epochs())
    assert man["batch_digest"].notna().all()

    # rerun from a fresh checkpoint: all fenced, no new manifest rows
    s3 = CdcStream(tbl, str(tmp_path / "ckpt2"))
    s3.run_to_completion(spark, wal, schema=EVENT_SCHEMA, max_files_per_trigger=2)
    man2 = s3.read_manifest(spark).toPandas()
    assert len(man2) == len(man)


def test_lineage_digest_partition_order_independent(spark, wal):
    """Same batch, different partitioning -> same per-range digests."""
    from etl_spark.streaming.driver import lineage_rows

    b = read_event_log(spark, wal, schema=EVENT_SCHEMA).filter(F.col("seq") < 2000)
    l1 = lineage_rows(b.repartition(3), 0, n_ranges=4).orderBy("seq_min").toPandas()
    l2 = lineage_rows(b.repartition(11), 0, n_ranges=4).orderBy("seq_min").toPandas()
    assert list(l1["sha256_digest"]) == list(l2["sha256_digest"])


def test_stream_replay_with_schema_evolution(spark, repos_schema, tmp_path):
    """Evolving WAL (add columns at seq>=4000, widen at seq>=5000)
    replayed through the STREAMING driver with the widest declared
    schema: final state matches the oracle including the evolved
    columns (early rows NULL, later rows populated)."""
    from etl_spark.sources.wal import EVENT_SCHEMA_EVOLVED

    wal = str(tmp_path / "wal_evo")
    write_event_log(spark, wal, N, files=6, evolve_add=4000, evolve_widen=5000)
    tbl = LakeTable.create(
        spark, str(tmp_path / "t_evo"), repos_schema, ["repo", "path"], n_buckets=8,
        derived={"content_sha256": ("sha256", "content")},
    )
    stream = CdcStream(tbl, str(tmp_path / "chk_evo"))
    stream.run_to_completion(spark, wal, schema=EVENT_SCHEMA_EVOLVED)

    full = generate_events(spark, N, evolve_add=4000, evolve_widen=5000).toPandas()
    exp = (
        full.sort_values("seq").drop_duplicates(["repo", "path"], keep="last")
        .query("op != 'delete'")
        .sort_values(["repo", "path"]).reset_index(drop=True)
    )
    got = (
        tbl.read().orderBy("repo", "path").toPandas().reset_index(drop=True)
    )
    assert "lang_version" in got.columns and "size" in got.columns
    pd.testing.assert_frame_equal(
        got[["repo", "path", "commit", "lang", "content", "lang_version", "size"]],
        exp[["repo", "path", "commit", "lang", "content", "lang_version", "size"]],
        check_dtype=False,
    )
    # winners past the evolution epoch carry values; earlier-only keys are NULL
    assert got.loc[got["last_seq"] >= 4000, "lang_version"].notna().any()
    import hashlib as _h
    sample = got.dropna(subset=["content"]).head(20)
    for _, r in sample.iterrows():
        assert r["content_sha256"] == _h.sha256(r["content"].encode()).hexdigest()


def test_continuous_tail_picks_up_new_files(spark, repos_schema, tmp_path):
    """Live tailing (the reference's --watch mode,
    etl/command.py:137-138): a continuously running stream applies WAL
    files that appear AFTER the query started."""
    import time as _time

    wal = str(tmp_path / "wal_live")
    # slices of ONE 3000-event log (same key space throughout)
    for a, b in [(0, 1000), (1000, 2000)]:
        generate_events(spark, 3000, start=a, end=b).coalesce(1).write.mode(
            "append"
        ).parquet(wal)
    tbl = LakeTable.create(
        spark, str(tmp_path / "t_live"), repos_schema, ["repo", "path"], n_buckets=4,
        derived={"content_sha256": ("sha256", "content")},
    )
    stream = CdcStream(tbl, str(tmp_path / "chk_live"))
    q = stream.start(spark, wal, available_now=False, max_files_per_trigger=4)
    try:
        def max_seq():
            v = tbl.read(include_tombstones=True).agg(F.max("last_seq")).first()[0]
            return -1 if v is None else v

        deadline = _time.time() + 60
        while max_seq() < 1999 and _time.time() < deadline:
            _time.sleep(1)
        assert max_seq() == 1999
        # new WAL files arrive while the query is live
        extra = generate_events(spark, 3000, start=2000, end=3000)
        extra.coalesce(1).write.mode("append").parquet(wal)
        while max_seq() < 2999 and _time.time() < deadline:
            _time.sleep(1)
        assert max_seq() == 2999
    finally:
        q.stop()
    # final state equals the oracle over everything delivered
    full = generate_events(spark, 3000).toPandas()
    exp = oracle_final_state(full)
    got = tbl.read().select(*COLS).orderBy("repo", "path").toPandas().reset_index(drop=True)
    pd.testing.assert_frame_equal(got, exp[COLS].reset_index(drop=True), check_dtype=False)


def test_stream_auto_maintenance(spark, tmp_path):
    """maintain_every bounds on-disk growth of a long-running stream:
    old version data dirs are expired during the drain; the final
    state and the epoch fence are unaffected."""
    import glob

    from pyspark.sql import types as T

    from etl_spark.cdc.generator import write_event_log
    from etl_spark.lake.table import LakeTable
    from etl_spark.streaming.driver import CdcStream

    wal = str(tmp_path / "wal")
    write_event_log(spark, wal, 3000, files=6)
    schema = T.StructType([
        T.StructField(c, T.StringType(), True)
        for c in ["repo", "path", "commit", "lang", "content", "content_sha256"]
    ])
    t = LakeTable.create(
        spark, str(tmp_path / "t"), schema, ["repo", "path"], n_buckets=4,
        derived={"content_sha256": ("sha256", "content")},
    )
    stream = CdcStream(t, str(tmp_path / "chk"), maintain_every=2, keep_versions=2)
    stream.run_to_completion(spark, wal, max_files_per_trigger=1)
    # 6 epochs committed -> without maintenance there would be 6 data
    # dirs; expiry keeps only the last keep_versions' worth
    dirs = glob.glob(str(tmp_path / "t" / "data" / "v*"))
    assert len(dirs) <= 4, dirs
    assert len(t.committed_epochs()) == 6
    # state is still correct and the table still reads
    assert t.read().count() > 0
    # rerun: all epochs fenced
    stream2 = CdcStream(t, str(tmp_path / "chk"))
    stream2.run_to_completion(spark, wal, max_files_per_trigger=1)
    assert len(t.committed_epochs()) == 6


def test_streaming_downstream_pipeline(spark, wal, oracle, repos_schema, tmp_path):
    """Multi-hop streaming pipeline: WAL -> src table, with downstream
    hooks maintaining a row-level mirror AND a per-lang aggregate off
    the mirror (src -> mirror -> agg) per micro-batch. After the drain
    every hop must equal its full recompute; a rerun is a no-op at
    every hop."""
    from pyspark.sql import types as T

    from etl_spark.lake.incremental import sync, sync_agg

    tbl = _table(spark, tmp_path, repos_schema)
    mirror = LakeTable.create(
        spark, str(tmp_path / "mirror"), repos_schema, ["repo", "path"], n_buckets=4
    )
    agg = LakeTable.create(
        spark,
        str(tmp_path / "bylang"),
        T.StructType([T.StructField("lang", T.StringType(), True),
                      T.StructField("n", T.LongType(), True)]),
        ["lang"],
        n_buckets=4,
    )
    hooks = [
        lambda t: sync(t, mirror),
        lambda t: sync_agg(mirror, agg, ["lang"]),  # 2nd hop: off the mirror
    ]
    s = CdcStream(tbl, str(tmp_path / "ckpt"), downstream=hooks)
    s.run_to_completion(spark, wal, schema=EVENT_SCHEMA, max_files_per_trigger=2)

    pd.testing.assert_frame_equal(_final(tbl), oracle, check_dtype=False)
    pd.testing.assert_frame_equal(_final(mirror), oracle, check_dtype=False)
    want = {
        (None if pd.isna(k) else k): int(v)
        for k, v in oracle.groupby("lang", dropna=False).size().items()
    }
    got = {r["lang"]: r["n"] for r in agg.read().collect()}
    assert got == want

    # rerun the whole drain on a fresh checkpoint: fences + watermarks
    # make every hop a no-op (versions unchanged everywhere)
    vs = (tbl.current_version(), mirror.current_version(), agg.current_version())
    s2 = CdcStream(tbl, str(tmp_path / "ckpt2"), downstream=hooks)
    s2.run_to_completion(spark, wal, schema=EVENT_SCHEMA, max_files_per_trigger=2)
    assert (tbl.current_version(), mirror.current_version(), agg.current_version()) == vs


def test_stream_survives_out_of_band_maintenance_races(spark, wal, oracle, repos_schema, tmp_path):
    """A drain races an operator's out-of-band maintenance (compact
    loop in another thread hammering the same table): the stream's
    merge_retries rebase every lost version race, maintenance losses
    retry too, and the final state still equals the oracle exactly.
    This is the multi-writer regime maintain_all/cron sweeps create
    in production."""
    import threading
    import time as _time

    from etl_spark.lake.table import CommitConflictError, LakeTable, with_conflict_retry

    tbl = LakeTable.create(spark, str(tmp_path / "repos"), repos_schema,
                           ["repo", "path"], n_buckets=8, write_mode="mor")
    stream = CdcStream(tbl, str(tmp_path / "ckpt"), merge_retries=8)
    q = stream.start(spark, wal, schema=EVENT_SCHEMA,
                     max_files_per_trigger=1, available_now=True)
    stop = threading.Event()
    outcomes = {"compacts": 0, "lost": 0}

    def pest():
        while not stop.is_set():
            try:
                with_conflict_retry(tbl.compact, 4)
                outcomes["compacts"] += 1
            except CommitConflictError:
                outcomes["lost"] += 1
            _time.sleep(0.05)

    th = threading.Thread(target=pest, daemon=True)
    th.start()
    try:
        q.awaitTermination()
    finally:
        stop.set()
        th.join(timeout=30)
    assert outcomes["compacts"] > 0  # the pest really ran against the drain
    pd.testing.assert_frame_equal(_final(tbl), oracle, check_dtype=False)


def test_maintenance_sidecar_drains_stall_free(spark, wal, oracle, repos_schema, tmp_path):
    """MaintenanceSidecar (the recommended streaming maintenance mode):
    a drain with out-of-band compact+expire converges to the oracle,
    the sidecar really compacted, the handoff sweep leaves bounded
    depth, and stats are reported."""
    from etl_spark.streaming.driver import MaintenanceSidecar

    tbl = LakeTable.create(spark, str(tmp_path / "repos"), repos_schema,
                           ["repo", "path"], n_buckets=8, write_mode="mor")
    side = MaintenanceSidecar(tbl, poll_sec=0.2, compact_deltas_over=2).start()
    stream = CdcStream(tbl, str(tmp_path / "ckpt"), merge_retries=8)
    try:
        stream.run_to_completion(spark, wal, max_files_per_trigger=1)
    finally:
        stats = side.stop(final_sweep=True)
    assert stats["compactions"] >= 1
    assert tbl.manifest()["deltas"] == []  # final sweep folded the tail
    pd.testing.assert_frame_equal(_final(tbl), oracle, check_dtype=False)
    with pytest.raises(RuntimeError):
        MaintenanceSidecar(tbl).start().start()


def test_stream_into_append_table_keeps_every_event(spark, repos_schema, tmp_path):
    """An append-only table takes every event as a row through
    CdcStream too: a WAL with repeated keys drains without dedup, and
    the dedup knobs that would drop facts are refused up front."""
    from etl_spark.sources.wal import EVENT_SCHEMA

    wal = str(tmp_path / "wal")
    ts = pd.Timestamp("2024-01-01").to_pydatetime()
    for f in range(3):
        rows = [(f * 10 + i, ts, "insert", f"r{i % 2}", "p", f"c{f}{i}", "py", f"x{i}")
                for i in range(10)]
        spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1).write.mode("append").parquet(wal)
    tbl = LakeTable.create(spark, str(tmp_path / "facts"), repos_schema, ["repo", "path"],
                           n_buckets=4, write_mode="append")
    for kw in ({"salted": True}, {"resolve": "keys_first"}):
        with pytest.raises(ValueError, match="append-only"):
            CdcStream(tbl, str(tmp_path / "ckpt0"), **kw)
    CdcStream(tbl, str(tmp_path / "ckpt"), salted="auto", resolve="auto").run_to_completion(
        spark, wal, schema=EVENT_SCHEMA, max_files_per_trigger=1)
    got = sorted(r["commit"] for r in tbl.read().collect())
    assert got == sorted(f"c{f}{i}" for f in range(3) for i in range(10))
    assert len(tbl.committed_epochs()) == 3


def test_maintenance_sidecar_survives_and_reports_errors(spark, tmp_path, repos_schema, caplog):
    """A maintenance tick that raises something other than a lost race
    is counted, kept and logged, and the loop keeps running."""
    import logging
    import time

    from etl_spark.streaming.driver import MaintenanceSidecar

    tbl = LakeTable.create(spark, str(tmp_path / "repos"), repos_schema,
                           ["repo", "path"], n_buckets=2, write_mode="mor")
    calls = {"n": 0}

    def broken_compact():
        calls["n"] += 1
        raise RuntimeError("fold failed")

    tbl.compact = broken_compact
    side = MaintenanceSidecar(tbl, poll_sec=0.02, compact_deltas_over=-1)
    with caplog.at_level(logging.ERROR, logger="etl_spark.streaming.driver"):
        side.start()
        deadline = time.time() + 30
        while calls["n"] < 3 and time.time() < deadline:
            time.sleep(0.02)
        alive = side._thread.is_alive()
        stats = side.stop()
    assert alive
    assert stats["errors"] >= 3 and stats["compactions"] == 0
    assert isinstance(side.last_error, RuntimeError)
    assert "maintenance sidecar tick failed" in caplog.text
