"""The two workloads. Each one: generate inputs and warm up (set-up),
run a fixed number of steady-state operations sized from ``--seconds``
(timed), then measure the tail metrics and check every output against
the DuckDB oracle and the engine's own invariants.

All engine access goes through public entry points, looked up on their
modules at call time so the traced run's wrappers see every call:
``CdcStream``, ``cdc.replay.apply_batch``, ``LakeTable`` read/merge/
maintenance and ``lake.incremental``.
"""

from __future__ import annotations

import hashlib
import os
import statistics
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq

import gen
import oracle
import harness
from harness import Ops
from spans import Tracer

N_BUCKETS = 16
TABLE_COLS = ["repo", "path", "commit", "lang", "content", "content_sha256"]

# Steady-state work per run is a fixed count of operations, so a faster
# engine finishes the same work sooner. Per 15 s of --seconds the stream
# times two maintenance cycles (six epochs, two of them compacting)
# and six tail rounds (one-row upsert, read_keys, scan) after one
# warm-up round; the batch workload times three apply_batch calls after
# one warm-up change batch, and three propagation rounds with four
# (read_keys, scan) pairs each. Each timed operation is as small as the
# engine's fixed per-commit cost allows (a 2k-event apply_batch costs
# about what a 1k-event one does), and the counts are what fits the run
# budget: every run starts a cold JVM whose start and first-use
# compilation take 20-25 s, a propagation round costs ~6 s, and a full
# agreement check is 48 runs that must finish within 3420 s (README,
# "Sizing").
STREAM = {"keys": 4_000, "batch_events": 2_000, "warm": 2, "maintain_every": 3,
          "cycles": 2, "rounds": 6}
BATCH = {"keys": 4_000, "batch_events": 2_000, "warm": 1, "batches": 3, "rounds": 3,
         "reads": 4}


def _per_15s(seconds: int, count: int) -> int:
    return count * max(1, round(seconds / 15))


@dataclass
class Run:
    spark: object
    work: str
    seed: int
    seconds: int
    tracer: Tracer
    t_proc0: float                       # perf_counter() value at process start
    ops: Ops = field(default_factory=Ops)
    metrics: dict = field(default_factory=dict)
    layer_extra: dict = field(default_factory=dict)

    def start_clock(self) -> None:
        self.tracer.start_clock()
        self.metrics["setup_s"] = self.tracer.clock_start - self.t_proc0

    def log(self, msg: str) -> None:
        harness.log(self.t_proc0, msg)

    def path(self, *p: str) -> str:
        return os.path.join(self.work, *p)


def _table(spark, root: str, mode: str):
    from pyspark.sql import types as T

    from etl_spark.lake.table import LakeTable

    schema = T.StructType([T.StructField(c, T.StringType(), True) for c in TABLE_COLS])
    return LakeTable.create(spark, root, schema, ["repo", "path"], n_buckets=N_BUCKETS,
                            derived={"content_sha256": ("sha256", "content")}, write_mode=mode)


def _events(spark, path: str):
    from etl_spark.sources.wal import EVENT_SCHEMA

    return spark.read.schema(EVENT_SCHEMA).parquet(path)


def _upsert_row(path: str) -> dict:
    row = pq.read_table(path).to_pylist()[0]
    row["sha"] = hashlib.sha256(row["content"].encode()).hexdigest()
    return row


def _scan_fn(run: Run, tbl):
    """Full snapshot read + group-by ``lang`` of ``tbl``."""
    from pyspark.sql import functions as F

    def scan():
        with run.tracer.span("lake.table.read"):
            return tbl.read().groupBy("lang").agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.length("content")).alias("bytes")).collect()
    return scan


def _point_round(run: Run, upsert_file: str, target, views: list, reader, scan,
                 reads: int, timed: bool = True) -> None:
    """One small upsert into ``target`` via ``LakeTable.merge_cdc``, then
    each derived-view sync in ``views``; then ``reads`` times a
    ``read_keys`` of the changed key on ``reader``, each followed by one
    full scan of ``target``. Records ``change_visible`` (upsert start to
    last view committed), ``upsert``, ``sync``, ``point_read`` and
    ``scan``, and checks every read returns the row just written. The probes run inside the rounds
    so that each kind's samples spread over the whole tail of the run
    and a short burst of host load touches few of them. An untimed
    (warm-up) round records its operations as ``warm``."""
    row = _upsert_row(upsert_file)
    staged = _events(run.spark, upsert_file).drop("ts")
    t0 = time.perf_counter()
    ok, _ = run.ops.run("upsert" if timed else "warm", target.merge_cdc, staged,
                        epoch=f"u{row['seq']}")
    for fn in views:
        ok = ok and run.ops.run("sync" if timed else "warm", fn)[0]
    if not ok:
        return
    if timed:
        run.ops.record("change_visible", time.perf_counter() - t0)

    def point_read():
        with run.tracer.span("lake.table.read_keys"):
            return reader.read_keys([(row["repo"], row["path"])]).select(
                "commit", "content_sha256").collect()

    for _ in range(reads):
        ok, got = run.ops.run("point_read" if timed else "warm", point_read)
        if ok:
            run.ops.check("read_keys_returns_written_row",
                          len(got) == 1 and got[0]["commit"] == row["commit"]
                          and got[0]["content_sha256"] == row["sha"],
                          f"{row['repo']}/{row['path']}: {got}")
        run.ops.run("scan" if timed else "warm", scan)


def _final_checks(run: Run, tbl, files: list[str]) -> tuple[int, dict]:
    """Oracle comparison of ``tbl``; returns its live row count and the
    oracle's expected state."""
    want = oracle.expected_state(files)
    got = oracle.table_state(tbl.read())
    problems = oracle.compare_state(got, want)
    run.ops.check("table_matches_duckdb_oracle", not problems, "; ".join(problems))
    return len(got), want


def _space(run: Run, tbl, live_rows: int) -> None:
    run.metrics["stored_bytes_per_row"] = oracle.live_bytes(tbl.manifest()) / max(live_rows, 1)


def _finish_metrics(run: Run, events: int, window_s: float, commit_kind: str) -> None:
    ops, m = run.ops, run.metrics
    m["drain_events_per_s"] = events / window_s if window_s > 0 else float("nan")
    m["epoch_latency_s"] = ops.median(commit_kind)
    m["change_visible_s"] = ops.median("change_visible")
    m["point_read_s"] = ops.median("point_read")
    m["scan_s"] = ops.median("scan")
    run.layer_extra["trace.epoch_latency_s"] = (m["epoch_latency_s"], "s")
    run.layer_extra["trace.change_visible_s"] = (m["change_visible_s"], "s")


def _tail(run: Run, tbl, upserts: list[str]) -> None:
    """Point-change rounds on ``tbl`` itself, one read and one scan in
    each; the first round warms up (the first one-row merge, read and
    scan of a JVM compile their plans) and is not timed."""
    run.log("tail: upserts, point reads and scans")
    scan = _scan_fn(run, tbl)
    for i, u in enumerate(upserts):
        _point_round(run, u, tbl, [], tbl, scan, reads=1, timed=i > 0)
    run.log("tail: oracle")


# ---------------------------------------------------------------- workloads


def stream_mor_drain(run: Run) -> None:
    """CdcStream (Trigger.AvailableNow, one WAL file per micro-batch) into
    a MOR table with derived content_sha256 and inline maintenance every
    ``maintain_every`` epochs. Epoch 0 is the bootstrap, epochs 1..warm
    warm the JIT, the rest are timed."""
    from etl_spark.sources.wal import EVENT_SCHEMA
    from etl_spark.streaming.driver import CdcStream

    p, spark, tracer = STREAM, run.spark, run.tracer
    cycle = p["maintain_every"]
    timed = cycle * _per_15s(run.seconds, p["cycles"])
    upserts = 1 + _per_15s(run.seconds, p["rounds"])      # + one warm-up round
    shape = gen.Shape(p["keys"], p["warm"] + timed, p["batch_events"], upserts)
    inp = gen.write_inputs(run.path("in"), run.seed, shape)
    run.log(f"inputs written: {shape}")
    tbl = _table(spark, run.path("mor"), "mor")
    first_timed = 1 + p["warm"]
    epochs: list[tuple[int, float, float]] = []   # epoch, start, end
    depth: list[int] = []

    class TimedStream(CdcStream):
        def process_batch(self, batch, epoch):
            # Structured Streaming replaces the job description per
            # batch, so the group is set here, inside foreachBatch
            spark.sparkContext.setJobGroup(f"cdcbench.epoch.{epoch}", "process_batch")
            if epoch == first_timed and tracer.clock_start is None:
                run.start_clock()
            t0 = time.perf_counter()
            with tracer.span("streaming.driver.process_batch"):
                out = super().process_batch(batch, epoch)
            epochs.append((epoch, t0, time.perf_counter()))
            if tracer.enabled and epoch >= first_timed:
                depth.append(len(self.table.manifest().get("deltas", [])))
            return out

    chk = run.path("chk")
    kw = dict(maintain_every=cycle, compact_deltas_over=cycle - 1, keep_versions=4)
    stream = TimedStream(tbl, chk, **kw)
    run.ops.run("drain", stream.run_to_completion, spark, os.path.dirname(inp["wal"][0]),
                 schema=EVENT_SCHEMA, max_files_per_trigger=1)
    done = [e for e in epochs if e[0] >= first_timed]
    for e in done:
        run.ops.record("epoch", e[2] - e[1])
    if len(done) < timed:
        run.ops.fail("epoch", timed - len(done))
    if tracer.clock_start is None:
        run.start_clock()
    window = (done[-1][2] - done[0][1]) if done else float("nan")
    if depth:
        run.layer_extra["lake.table.delta_depth"] = (statistics.mean(depth), "count")

    # lineage: row counts sum to the drained events, seq ranges tile [0, N)
    run.log(f"drain done: {len(done)} timed epochs in {window:.2f}s; every epoch (s): "
            + " ".join(f"{e}:{t1 - t0:.2f}" for e, t0, t1 in epochs))
    lin = stream.read_lineage(spark).collect()
    probs = oracle.check_lineage(lin, inp["wal_events"])
    run.ops.check("lineage_tiles_drained_seqs", not probs, "; ".join(probs))

    # fence: drop the checkpoint's last commit (a crash after the table
    # commit, before the checkpoint commit); the re-delivered epoch must
    # hit the manifest fence and commit nothing
    redelivered = []

    class FenceProbe(CdcStream):
        def process_batch(self, batch, epoch):
            out = super().process_batch(batch, epoch)
            redelivered.append(out.get("skipped"))
            return out

    v_before = tbl.current_version()
    commits = os.path.join(chk, "commits")
    last = max((f for f in os.listdir(commits) if f.isdigit()), key=int)
    for f in (last, f".{last}.crc"):
        if os.path.exists(os.path.join(commits, f)):
            os.remove(os.path.join(commits, f))
    with tracer.span("bench.check"):
        ok, _ = run.ops.run("fence_rerun", FenceProbe(tbl, chk, **kw).run_to_completion, spark,
                            os.path.dirname(inp["wal"][0]), schema=EVENT_SCHEMA,
                            max_files_per_trigger=1)
    run.ops.check("fence_rerun_commits_nothing",
                  ok and redelivered == [True] and tbl.current_version() == v_before,
                  f"re-delivered epochs skipped={redelivered}, "
                  f"version {v_before} -> {tbl.current_version()}")

    _tail(run, tbl, inp["upserts"])
    rows, _ = _final_checks(run, tbl, inp["wal"] + inp["upserts"])
    _space(run, tbl, rows)
    _finish_metrics(run, p["batch_events"] * len(done), window, "epoch")


def batch_cow_auto(run: Run) -> None:
    """Equal ``apply_batch`` calls into a COW table with the CLI defaults
    ``salted="auto", resolve="auto"`` (both probes run every call); the
    bootstrap batch and ``warm`` change batches run before the clock. Then the table
    feeds a mirror (``sync``), a per-lang aggregate (``sync_agg``) and a
    join view (``sync_join`` against a repo dimension), bootstrapped
    untimed; each timed propagation round is one single-row upsert, the
    three syncs, then ``read_keys`` of the changed key on the mirror and
    scans of the source, interleaved."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    import etl_spark.cdc.replay as R
    import etl_spark.lake.incremental as inc
    from etl_spark.lake.table import LakeTable

    p, spark = BATCH, run.spark
    timed = _per_15s(run.seconds, p["batches"])
    rounds = _per_15s(run.seconds, p["rounds"])
    shape = gen.Shape(p["keys"], p["warm"] + timed, p["batch_events"], rounds)
    inp = gen.write_inputs(run.path("in"), run.seed, shape)
    run.log(f"inputs written: {shape}")
    src = _table(spark, run.path("src"), "cow")
    first_timed = 1 + p["warm"]

    def apply(i: int):
        return R.apply_batch(src, _events(spark, inp["wal"][i]), epoch=i,
                             salted="auto", resolve="auto")

    for i in range(first_timed):
        run.ops.run("warm", apply, i)
    run.start_clock()
    run.log("clock started")
    for i in range(first_timed, len(inp["wal"])):
        run.ops.run("apply_batch", apply, i)
    window = time.perf_counter() - run.tracer.clock_start
    n_ok = len(run.ops.times.get("apply_batch", []))

    v_before = src.current_version()
    with run.tracer.span("bench.check"):
        ok, out = run.ops.run("fence_rerun", apply, len(inp["wal"]) - 1)
    run.ops.check("fence_rerun_commits_nothing",
                  ok and out.get("skipped") is True and src.current_version() == v_before,
                  f"version {v_before} -> {src.current_version()}")

    # derived views, bootstrapped from the ingested table
    run.log("ingest done; bootstrapping views")
    mirror = LakeTable.create(
        spark, run.path("mirror"),
        T.StructType([T.StructField(c, T.StringType(), True) for c in TABLE_COLS]),
        ["repo", "path"], n_buckets=N_BUCKETS)
    agg = LakeTable.create(spark, run.path("agg"), inc.agg_view_schema(src, ["lang"]),
                           ["lang"], n_buckets=4)
    dim = LakeTable.create(
        spark, run.path("dim"),
        T.StructType([T.StructField(c, T.StringType(), True) for c in ("dim_repo", "org", "tier")]),
        ["dim_repo"], n_buckets=4)
    run.ops.run("bootstrap_dim", dim.merge_cdc, spark.read.parquet(inp["dim"]), epoch=0)
    jv = LakeTable.create(spark, run.path("join"), inc.join_view_schema(src, dim),
                          src.key_cols, seq_col=src.seq_col, n_buckets=N_BUCKETS)
    views = [lambda: inc.sync(src, mirror), lambda: inc.sync_agg(src, agg, ["lang"]),
             lambda: inc.sync_join(src, dim, jv, ["repo"])]
    for fn in views:
        run.ops.run("bootstrap_sync", fn)
    run.log("views bootstrapped; propagation rounds")
    scan = _scan_fn(run, src)
    first = _upsert_row(inp["upserts"][0])
    # the first read_keys and scan of a JVM compile their plans
    run.ops.run("warm", lambda: mirror.read_keys([(first["repo"], first["path"])]).collect())
    run.ops.run("warm", scan)
    for u in inp["upserts"]:
        _point_round(run, u, src, views, mirror, scan, reads=p["reads"])
    run.log("rounds done; oracle")
    rows, want = _final_checks(run, src, inp["wal"] + inp["upserts"])
    probs = oracle.compare_state(oracle.table_state(mirror.read()), want)
    run.ops.check("mirror_matches_duckdb_oracle", not probs, "; ".join(probs))
    by_lang: dict = {}
    for lang, _sha in want.values():
        by_lang[lang] = by_lang.get(lang, 0) + 1
    got_agg = {r["lang"]: r["n"] for r in agg.read().select("lang", "n").collect()}
    run.ops.check("aggregate_sums_to_live_rows",
                  sum(got_agg.values()) == rows and got_agg == by_lang,
                  f"{got_agg} vs {by_lang}")
    jr = jv.read().agg(F.count(F.lit(1)).alias("n"), F.count("org").alias("enriched")).first()
    run.ops.check("join_view_rows_match_fact", jr["n"] == rows and jr["enriched"] == rows,
                  f"join view {jr['n']} rows ({jr['enriched']} enriched), fact {rows}")
    _space(run, src, rows)
    _finish_metrics(run, p["batch_events"] * n_ok, window, "apply_batch")


WORKLOADS = {
    "stream_mor_drain": stream_mor_drain,
    "batch_cow_auto": batch_cow_auto,
}
