"""CDC replay: event batch -> staged latest-wins rows -> MERGE.

Pipeline (all native column expressions — no per-row Python; the only
pandas UDF in the engine is the optional canonical-bytes hasher in
etl_spark.functions.checksum):

  canonicalize -> latest-wins dedup per (repo, path) -> content_sha256
  -> LakeTable.merge_cdc

Latest-wins dedup is the reference's sort+keep-last
(etl/data_helpers/geo.py:755-760) made order-safe under parallelism:
resolution is ALWAYS by ``seq`` (the WAL order), never by arrival
order, so any repartition/salt in between cannot change the answer —
SURVEY.md "hard part #1".

Skew: hot repos concentrate events on few keys. Two mitigations, both
tested:
- default: ``max_by`` aggregate dedup — declarative agg => Spark does
  map-side partial aggregation (each input partition reduces its own
  hot-key rows locally before the shuffle). This is implicit salting.
- explicit: ``dedup_latest_salted`` — two-phase groupBy with a salt
  column, for the case where per-key payloads are so wide that even
  partial-agg rows are heavy; demonstrates the salted-repartition
  pattern from the north rule.

Large payloads: a multimodal corpus carries 100 KB-10 MB blobs per
row; there the dominant cost is not the reduce-side sort but simply
MOVING every event's payload through the merge shuffle. The
``keys_first`` path (``dedup_latest_keys_first``) resolves winners on
a keys-only projection — the shuffle carries (repo, path, seq), tens
of bytes per row — then broadcasts the winning (key, seq) set back as
a map-side semi filter, so losing events' payloads never cross a
shuffle at all; only the winners (one row per key) travel to their
buckets. ``apply_batch(resolve="auto")`` flips to it from the same
sampled probe ``decide_salt`` uses, when the estimated payload width
crosses ``payload_threshold_bytes`` and the winner set fits the
broadcast budget.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

KEY = ["repo", "path"]
BASE_COLS = ["repo", "path", "commit", "lang", "content"]


def canonicalize(events: DataFrame) -> DataFrame:
    """Normalize exactly one way (the reference's underscore-everything
    discipline, lib/catalog/owid/catalog/utils.py:17-26): trim key
    columns, lowercase op, drop rows with null keys."""
    return (
        events.withColumn("repo", F.trim(F.col("repo")))
        .withColumn("path", F.trim(F.col("path")))
        .withColumn("op", F.lower(F.trim(F.col("op"))))
        .filter(F.col("repo").isNotNull() & F.col("path").isNotNull())
    )


def dedup_latest(events: DataFrame, keys: list[str] = KEY, seq_col: str = "seq") -> DataFrame:
    """One row per key: the event with max seq. max_by(struct, seq) is
    a declarative aggregate -> map-side combine handles hot keys."""
    cols = events.columns
    return (
        events.groupBy(*keys)
        .agg(F.max_by(F.struct(*cols), F.col(seq_col)).alias("_r"))
        .select("_r.*")
    )


def dedup_latest_salted(
    events: DataFrame, keys: list[str] = KEY, seq_col: str = "seq", salt_buckets: int = 32
) -> DataFrame:
    """Explicit two-phase salted reduction: partial max per (key, salt)
    then final max per key. Same result as dedup_latest (resolution by
    seq), with the first shuffle spread over ``salt_buckets`` sub-keys
    so no single reducer owns a hot key's full event stream."""
    cols = events.columns
    salted = events.withColumn("_salt", F.pmod(F.xxhash64(F.col(seq_col)), F.lit(salt_buckets)))
    partial = (
        salted.groupBy(*keys, "_salt")
        .agg(F.max_by(F.struct(*cols), F.col(seq_col)).alias("_r"))
    )
    return (
        partial.groupBy(*keys)
        .agg(F.max_by(F.col("_r"), F.col(f"_r.{seq_col}")).alias("_r"))
        .select("_r.*")
    )


def dedup_latest_keys_first(
    events: DataFrame, keys: list[str] = KEY, seq_col: str = "seq"
) -> DataFrame:
    """Latest-wins dedup for WIDE rows: the winner per key is decided
    on a keys-only projection (parquet/codegen prunes the payload
    columns out of the scan feeding the aggregate, so the resolve
    shuffle moves (keys, seq) — a few dozen bytes/row regardless of
    payload width), then the winning (key, seq) set is broadcast back
    as a LEFT SEMI filter that runs map-side over the full rows.

    Net data motion: keys-only shuffle + one broadcast of one row per
    key + the WINNERS' payloads moving to their buckets in the merge —
    losing events' payloads are filtered where they were read and
    never enter a shuffle. Same answer as ``dedup_latest`` for any
    input where ``seq`` is unique per key (the WAL contract; with
    duplicated (key, seq) ties both forms keep an arbitrary tied row).

    The broadcast is one row per DISTINCT key in the batch — bounded
    by batch keys, not events. ``decide_payload_resolve`` guards the
    auto path with a byte budget; callers with >~100M-key batches
    should split the batch or stay on the fused path.

    NULL keys: a semi join never matches on NULL (SQL semantics), so
    rows with a NULL key or NULL seq are dropped here, where
    ``dedup_latest`` would keep them as their own group. Inside
    ``apply_batch`` this cannot diverge — ``canonicalize`` drops
    NULL-key rows before any dedup, and seq is the WAL's non-null
    order column; direct callers must enforce the same."""
    winners = (
        events.select(*keys, seq_col)
        .groupBy(*keys)
        .agg(F.max(seq_col).alias(seq_col))
    )
    return events.join(F.broadcast(winners), [*keys, seq_col], "leftsemi")


def with_content_sha256(df: DataFrame) -> DataFrame:
    """Per-row content checksum — the reference's step-input checksum
    (etl/steps/__init__.py:451-466) shrunk to row granularity. Native
    ``sha2`` (JVM, codegen) == hashlib.sha256(utf8).hexdigest()."""
    return df.withColumn(
        "content_sha256",
        F.when(F.col("content").isNotNull(), F.sha2(F.col("content"), 256)),
    )


def stage_batch(
    events: DataFrame, salted: bool = False, salt_buckets: int = 32,
    keys_first: bool = False,
) -> DataFrame:
    """events -> one staged row per key, checksummed, ready to MERGE."""
    ev = canonicalize(events)
    if salted:
        dd = dedup_latest_salted(ev, salt_buckets=salt_buckets)
    elif keys_first:
        dd = dedup_latest_keys_first(ev)
    else:
        dd = dedup_latest(ev)
    return with_content_sha256(dd).drop("ts")


def suggest_salt_buckets(
    events: DataFrame, keys: list[str] = KEY, target_rows_per_task: int = 500_000
) -> int:
    """Salt-width heuristic from the key histogram (SURVEY.md §7
    'salt-width heuristic'): ceil(hottest-key rows / target rows per
    reduce task), floored at 1 (no salting needed). One cheap
    aggregation pass over the key columns only."""
    top = (
        events.groupBy(*keys).count().agg(F.max("count").alias("m")).first()["m"]
    )
    if not top:
        return 1
    return max(1, -(-int(top) // target_rows_per_task))


def _row_bytes_expr(schema) -> "F.Column":
    """Approximate serialized row width: exact octet_length for
    string/binary columns (the payload mass), a flat 8 bytes for
    everything else — the quantity a reducer's sort actually moves."""
    total = F.lit(0).cast("long")
    for f in schema.fields:
        if isinstance(f.dataType, (T.StringType, T.BinaryType)):
            total = total + F.coalesce(
                F.octet_length(F.col(f.name)).cast("long"), F.lit(0)
            )
        else:
            total = total + F.lit(8)
    return total


def decide_salt(
    events: DataFrame,
    keys: list[str] = KEY,
    seq_col: str = "seq",
    salt_threshold: int = 2_000_000,
    task_bytes_budget: int = 2 << 30,
    sample_mod: int = 20,
    target_rows_per_task: int = 500_000,
    target_bytes_per_task: int = 256 << 20,
    probe_bytes: bool = True,
) -> dict:
    """The auto-salt policy (SURVEY.md §7 'salt-width heuristic', now
    wired rather than advisory): estimate the hottest key's row count
    AND byte mass from a deterministic 1/``sample_mod`` sample keyed
    on ``xxhash64(seq)`` — partitioning-independent, so the decision
    is reproducible run-to-run — and flip to the two-phase salted
    dedup when either estimate says ONE reducer's sort is threatened:

    - ``est_top_key_rows > salt_threshold`` (row form), or
    - ``est_top_key_bytes > task_bytes_budget`` (byte form — bytes,
      not rows, are what one reducer's external sort must stream).
      Default 2 GB, calibrated by measurement: the round-5 best-of-2
      skew bench has the fused plan BEATING the salted one on a
      599k-row × ~2 KB ≈ 1.2 GB hot key (5.8s vs 7.3s — the top-1
      WindowGroupLimit sort streams it; the salted path pays an extra
      full-payload pass), reversing the single-sample round-4 driver
      window that first motivated the byte rule. The budget is a
      capacity guard for keys whose sort would spill-thrash a real
      executor, not a latency optimizer; ExternalSorter streams
      multi-GB sorts, so the guard engages only past 2 GB/key.

    Below both bounds the fused merge's WindowGroupLimit absorbs the
    hot key with no extra payload pass (bench.py cdc.skew, best-of-2).

    Cost: one aggregation over the sample. With ``probe_bytes`` the
    scan includes the string/binary columns' octet_length (≈1/20th of
    a payload-column read, no shuffle of payloads — per-key byte sums
    travel, not rows); ``probe_bytes=False`` restores the keys-only
    probe and row-count-only policy. ``sample_mod=1`` makes the probe
    exact (used by the boundary-pinning tests). Salt width when
    flipping: enough buckets that each holds under
    ``target_rows_per_task`` rows AND ``target_bytes_per_task``
    bytes of the hot key, min 2."""
    cols = [*keys, seq_col]
    sampled = events.select(
        *cols,
        *( [_row_bytes_expr(events.schema).alias("__bytes")] if probe_bytes else [] ),
    ).filter(F.pmod(F.xxhash64(F.col(seq_col)), F.lit(sample_mod)) == 0)
    aggs = [F.count(F.lit(1)).alias("n")]
    if probe_bytes:
        aggs.append(F.sum("__bytes").alias("bb"))
    per_key = sampled.groupBy(*keys).agg(*aggs)
    tops = [F.max("n").alias("m")]
    if probe_bytes:
        tops.append(F.max("bb").alias("mb"))
    r = per_key.agg(*tops).first()
    est = int(r["m"] or 0) * sample_mod
    est_bytes = int(r["mb"] or 0) * sample_mod if probe_bytes else None
    over_rows = est > salt_threshold
    over_bytes = probe_bytes and est_bytes > task_bytes_budget
    if not (over_rows or over_bytes):
        return {"salted": False, "salt_buckets": 1,
                "est_top_key_rows": est, "est_top_key_bytes": est_bytes,
                "reason": "under_thresholds"}
    width = max(
        2,
        -(-est // target_rows_per_task),
        -(-(est_bytes or 0) // target_bytes_per_task),
    )
    return {"salted": True, "salt_buckets": width,
            "est_top_key_rows": est, "est_top_key_bytes": est_bytes,
            "reason": "rows" if over_rows else "bytes"}


def decide_payload_resolve(
    events: DataFrame,
    keys: list[str] = KEY,
    seq_col: str = "seq",
    payload_threshold_bytes: int = 1 << 20,
    min_events_per_key: float = 1.2,
    broadcast_budget_bytes: int = 256 << 20,
    sample_mod: int = 20,
) -> dict:
    """Pick fused vs keys-first resolve for a batch (SURVEY.md hard
    part #1 at multimodal row widths). Two cheap probes:

    - average serialized row width from the same deterministic
      1/``sample_mod`` xxhash64(seq) sample ``decide_salt`` uses (the
      only pass that touches payload columns, and only 1/20th of it);
    - batch row count + approx distinct keys + average key width from
      one COLUMN-PRUNED pass over the key columns (never the payload;
      the keys-first path itself pays this same keys-only scan, so
      the probe pre-pays work the chosen plan reuses).

    Flip to keys-first iff ALL hold:
    - est_avg_row_bytes > ``payload_threshold_bytes`` — narrow rows
      gain nothing; the fused single-shuffle plan stays optimal.
      The default (1 MB) is calibrated on the measured sandbox, where
      shuffle is tmpfs memcpy and the fused plan wins best-of-2 up to
      ~100 KB rows with parity at 1 MB (bench.py
      ``cdc.payload_scaling``). The threshold models SHUFFLE-BYTE
      cost, so it is a deployment knob: on a network-shuffled cluster
      the keys-first saving is real cross-node bytes (~1 - keys/rows
      of the payload volume) and 32-256 KB is the right range — the
      bench's ``100KB_net_calibrated`` cell demonstrates the flip;
    - est events/key >= ``min_events_per_key`` — the saving is the
      LOSERS' payloads (1 - keys/rows of the shuffle volume);
    - est winner-set bytes (distinct keys x (key width + 8)) fit
      ``broadcast_budget_bytes`` — the semi filter must broadcast.

    ``sample_mod=1`` makes the width probe exact (boundary tests)."""
    key_bytes = F.lit(8).cast("long")
    for k in keys:
        key_bytes = key_bytes + F.coalesce(
            F.octet_length(F.col(k).cast("string")).cast("long"), F.lit(0)
        )
    kr = events.select(*keys, key_bytes.alias("__kb")).agg(
        F.count(F.lit(1)).alias("n"),
        F.approx_count_distinct(F.struct(*keys)).alias("k"),
        F.avg("__kb").alias("kb"),
    ).first()
    n_rows, n_keys = int(kr["n"] or 0), max(int(kr["k"] or 0), 1)
    sampled = events.select(
        seq_col, _row_bytes_expr(events.schema).alias("__bytes")
    ).filter(F.pmod(F.xxhash64(F.col(seq_col)), F.lit(sample_mod)) == 0)
    sr = sampled.agg(F.avg("__bytes").alias("b")).first()
    avg_row_bytes = float(sr["b"] or 0.0)
    events_per_key = n_rows / n_keys if n_rows else 0.0
    bcast_bytes = int(n_keys * (float(kr["kb"] or 0.0)))
    out = {
        "est_rows": n_rows,
        "est_keys": n_keys,
        "est_avg_row_bytes": int(avg_row_bytes),
        "est_events_per_key": round(events_per_key, 2),
        "est_broadcast_bytes": bcast_bytes,
    }
    if avg_row_bytes <= payload_threshold_bytes:
        return {**out, "keys_first": False, "reason": "narrow_rows"}
    if events_per_key < min_events_per_key:
        return {**out, "keys_first": False, "reason": "no_losers"}
    if bcast_bytes > broadcast_budget_bytes:
        return {**out, "keys_first": False, "reason": "winner_set_too_big"}
    return {**out, "keys_first": True, "reason": "wide_rows"}


def batch_digest(staged: DataFrame, seq_col: str = "seq") -> str:
    """Order-independent digest of a staged batch: bit_xor of per-row
    64-bit hashes (commutative reduction — SURVEY.md hard part #3:
    partition order must not matter; xor also can't overflow under
    ANSI mode, and staged rows are unique per key so xor-cancel of
    identical rows cannot occur). Used as the manifest fence key's
    content check."""
    row_hash = F.xxhash64(*[F.col(c) for c in staged.columns])
    s = staged.agg(F.bit_xor(row_hash).alias("d")).first()["d"]
    return format((s or 0) & 0xFFFFFFFFFFFFFFFF, "016x")


def append_only(table, salted, resolve) -> bool:
    """Is ``table`` an append-only fact table? Such a table takes every
    event AS a row — any latest-wins pre-shrink (salted or keys-first)
    would silently drop facts, so both knobs are inert there (the
    append write path's one repartition has no reduce-side sort to
    protect), callers bypass every dedup, and explicitly asking for
    one raises."""
    if table.manifest().get("write_mode", "cow") != "append":
        return False
    if salted is True or resolve == "keys_first":
        raise ValueError(
            "append-only tables take every event as a row; "
            "salted/keys_first dedup would drop facts"
        )
    return True


def apply_batch(
    table,
    events: DataFrame,
    epoch=None,
    salted: bool | str = False,
    salt_threshold: int = 2_000_000,
    salt_task_bytes_budget: int = 2 << 30,
    salt_sample_mod: int = 20,
    resolve: str = "fused",
    payload_threshold_bytes: int = 1 << 20,
    max_retries: int = 0,
) -> dict:
    """MERGE one event batch into a LakeTable.

    If the table declares derived columns (e.g. content_sha256), the
    FUSED path runs: canonicalized raw events go straight into
    merge_cdc, which resolves dedup + target union in ONE max_by
    aggregation and checksums only the winners — one full-payload
    shuffle instead of two, ~events-per-key fewer hashes. Otherwise
    the classic stage-then-merge path runs (checksums computed during
    staging so they land in the table without a derived spec).

    ``salted="auto"`` runs the ``decide_salt`` probe first (one cheap
    keys-only sample aggregation) and flips to the salted path only
    for batches whose hottest key exceeds ``salt_threshold`` rows —
    beyond-reducer-capacity skew; everything else stays on the fused
    single-shuffle plan. The decision is recorded in the returned
    stats under ``salt_decision``.

    ``resolve``: "fused" (default — one payload shuffle, the narrow-row
    optimum), "keys_first" (resolve winners on a keys-only shuffle +
    broadcast semi filter; the wide-row optimum — losers' payloads
    never shuffle), or "auto" (``decide_payload_resolve`` probe; the
    decision lands in stats under ``resolve_decision``; tune
    ``payload_threshold_bytes`` down to ~32-256 KB on network-shuffled
    clusters — the 1 MB default is sandbox-calibrated, see
    ``decide_payload_resolve``). A salted
    batch ignores ``resolve`` — salting already pre-shrinks the hot
    key before any payload shuffle, and the two flags target disjoint
    regimes (too many rows per key vs too many bytes per row).

    ``max_retries``: optimistic-concurrency retries for multi-writer
    estates — a losing race against a concurrent writer (another
    batch job, a maintenance sweep's compact, a txn commit) re-runs
    the merge against the new CURRENT with randomized backoff; the
    epoch fence makes a retry of an epoch the winner already
    committed a skip, never a double-apply. Default 0 preserves
    fail-fast single-writer behavior."""
    from etl_spark.lake.table import with_conflict_retry

    append_mode = append_only(table, salted, resolve)
    if append_mode:
        salted, resolve = False, "fused"

    decision = None
    salt_buckets = 32
    if salted == "auto":
        decision = decide_salt(
            events, salt_threshold=salt_threshold,
            task_bytes_budget=salt_task_bytes_budget, sample_mod=salt_sample_mod,
        )
        salted = decision["salted"]
        salt_buckets = decision["salt_buckets"]

    resolve_decision = None
    keys_first = False
    if not salted:
        if resolve == "auto":
            resolve_decision = decide_payload_resolve(
                events, payload_threshold_bytes=payload_threshold_bytes,
            )
            keys_first = resolve_decision["keys_first"]
        elif resolve == "keys_first":
            keys_first = True
        elif resolve != "fused":
            raise ValueError(f"resolve must be fused|keys_first|auto, got {resolve!r}")

    def _merge() -> dict:
        if append_mode:
            # no dedup of any kind: every live event is a fact row
            ev = canonicalize(events)
            if "ts" in ev.columns:
                ev = ev.drop("ts")
            if not table.derived_columns:
                ev = with_content_sha256(ev)
            return table.merge_cdc(ev, epoch=epoch)
        if table.derived_columns and not salted:
            ev = canonicalize(events)
            if "ts" in ev.columns:
                ev = ev.drop("ts")
            if keys_first:
                # pre-shrink to one row per key BEFORE the payload ever
                # shuffles; merge_cdc's own resolve is then a no-op pass
                ev = dedup_latest_keys_first(ev)
            return table.merge_cdc(ev, epoch=epoch)
        # the salted route goes through the staged path: the two-phase
        # salted reduction pre-shrinks pathologically hot keys BEFORE
        # the merge shuffle (the north rule's explicit mitigation), at
        # the cost of one extra payload pass
        staged = stage_batch(
            events, salted=bool(salted), salt_buckets=salt_buckets,
            keys_first=keys_first,
        )
        return table.merge_cdc(staged, epoch=epoch)

    out = with_conflict_retry(_merge, max_retries)
    if decision is not None:
        out = {**out, "salt_decision": decision}
    if resolve_decision is not None:
        out = {**out, "resolve_decision": resolve_decision}
    return out


def replay(
    spark,
    table,
    events: DataFrame,
    batch_size: int | None = None,
    n_events: int | None = None,
    salted: bool | str = False,
) -> list[dict]:
    """Batch replay of a whole log, optionally split into seq-range
    epochs (epoch i covers seq in [i*batch_size, (i+1)*batch_size) —
    deterministic epochs make reruns hit the manifest fence)."""
    if batch_size is None:
        return [apply_batch(table, events, epoch=0, salted=salted)]
    if n_events is None:
        n_events = events.agg(F.max("seq")).first()[0] + 1
    stats = []
    for i, lo in enumerate(range(0, n_events, batch_size)):
        batch = events.filter((F.col("seq") >= lo) & (F.col("seq") < lo + batch_size))
        stats.append(apply_batch(table, batch, epoch=i, salted=salted))
    return stats
