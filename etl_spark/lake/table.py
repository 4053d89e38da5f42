"""Bucketed copy-on-write parquet tables with atomic snapshot commits.

No lakehouse jars (Iceberg/Delta) exist in this sandbox, so the engine
ships its own minimal table format with the same guarantees the design
needs:

- **atomic commit**: a version is a JSON manifest written tmp+rename;
  ``CURRENT`` is flipped last (the reference's "sync the index file
  last as the commit point" pattern, etl/publish.py:99-176). A crash
  mid-write leaves orphan data files and an unchanged CURRENT — readers
  never see a partial commit.
- **copy-on-write buckets**: rows are hash-bucketed by the merge key
  (``pmod(murmur3_hash(*keys), n_buckets)`` — deliberately Spark's own
  HashPartitioning formula, see _bucket_of). A MERGE rewrites only
  the buckets the staged batch touches; untouched buckets are carried
  forward by manifest pointer. At 100 TB / thousands of buckets, a
  batch touching k buckets costs O(k * bucket_size), not O(table).
- **schema evolution**: add/widen applied transactionally with the
  data (schemas are versioned; each bucket file records the schema id
  it was written under; readers upcast per-file-schema then union —
  Iceberg's schema-id mechanism, reduced to essentials).
- **exactly-once fencing**: a commit may carry an ``epoch`` key; an
  epoch already in the manifest makes the commit a no-op (the
  reference's checksum fence, etl/grapher_import.py:309-340).
- **time travel**: any previous version remains readable.

Merge conflict resolution is *latest-wins by a sequence column*
(CDC semantics): union(target, source) -> one repartition on the key
columns -> window row_number by seq desc -> keep rn=1; deletes stay as
hidden tombstone rows. The single repartition both clusters keys for
the window AND places each row in its output bucket, so the whole
merge moves the payload through exactly one shuffle (see
_merge_resolve for the measured alternatives). An explicit salted
two-phase dedup variant lives in etl_spark.cdc.replay for extreme
hot-key batches.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_spark.lake.commitio import CommitConflictError, get_backend
from etl_spark.lake.schema import SchemaEvolutionError, evolve

_BUCKET = "_b"
_DELETED = "_deleted"
_CV = "_cv"


def _max_opt(a, b):
    """max over int-or-None operands (None = unknown/absent)."""
    if a is None:
        return b
    if b is None:
        return a
    return max(int(a), int(b))


# ---------- file-level data skipping (Iceberg/Delta column-stats analog) --
#
# `_write_buckets`/`_merge_mor` already sort each bucket's rows by the
# table's ``sort_cols`` before writing, so per-FILE min/max of those
# columns are tight, near-disjoint ranges and cost nothing extra to
# collect (they come from the written files' parquet footers, see
# _footer_stats). The manifest
# records them per file; ``read(filters=...)`` then prunes whole files
# BEFORE the scan — the lever bucket pruning (key-only) cannot provide
# for non-key predicates, and at 100 TB the difference between "open
# every file in every bucket" and "open the 2% of files whose range
# intersects the predicate".

# stat-able sort_col types: orderable, JSON-encodable, and with a
# collection-side Python representation whose comparison order matches
# Spark's (UTF-8 byte order == code-point order for strings; ISO date
# strings sort chronologically; timestamps normalize to epoch seconds)
_STATS_TYPES = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.StringType, T.DateType, T.TimestampType,
)

_FILTER_OPS = {"=", "==", "<", "<=", ">", ">=", "between", "in"}


def _stat_encode(v):
    """Collected stat value -> JSON-able form whose Python comparison
    order matches the column's SQL order."""
    import datetime

    if isinstance(v, datetime.datetime):
        return v.timestamp()
    if isinstance(v, datetime.date):
        return v.isoformat()
    return v


def _encode_filter_value(val, dtype):
    """Normalize a filter literal into the same encoding
    ``_stat_encode`` used at write time, per the column's type."""
    import datetime

    if isinstance(dtype, T.TimestampType) and isinstance(val, datetime.datetime):
        return val.timestamp()
    if isinstance(dtype, T.DateType) and isinstance(val, datetime.date):
        return val.isoformat()
    return val


def _validate_filters(filters) -> None:
    for f in filters:
        if not (isinstance(f, (tuple, list)) and len(f) == 3):
            raise ValueError(f"filter must be (col, op, value): {f!r}")
        if f[1] not in _FILTER_OPS:
            raise ValueError(f"unsupported filter op {f[1]!r} (use {sorted(_FILTER_OPS)})")


def _filters_to_column(filters):
    """Conjunctive (col, op, value) triples -> one boolean Column.
    This residual ALWAYS applies after file pruning — pruning is
    file-granular, never row-exact — so ``read(filters=...)`` is
    semantically identical to ``read().filter(...)``."""
    import functools

    parts = []
    for col, op, val in filters:
        c = F.col(col)
        if op in ("=", "=="):
            parts.append(c == F.lit(val))
        elif op == "<":
            parts.append(c < F.lit(val))
        elif op == "<=":
            parts.append(c <= F.lit(val))
        elif op == ">":
            parts.append(c > F.lit(val))
        elif op == ">=":
            parts.append(c >= F.lit(val))
        elif op == "between":
            lo, hi = val
            parts.append((c >= F.lit(lo)) & (c <= F.lit(hi)))
        elif op == "in":
            parts.append(c.isin(list(val)))
    return functools.reduce(lambda a, b: a & b, parts)


def _range_may_match(rng, op, v) -> bool:
    """May ANY row in a file with [min, max] = rng satisfy `col op v`?
    Sound because every supported op is null-rejecting and min/max
    ignore nulls: null rows fail the residual filter regardless, so a
    file whose non-null range cannot match holds no qualifying row.
    Incomparable operands (type drift) never prune."""
    mn, mx = rng
    try:
        if op in ("=", "=="):
            return mn <= v <= mx
        if op == ">":
            return mx > v
        if op == ">=":
            return mx >= v
        if op == "<":
            return mn < v
        if op == "<=":
            return mn <= v
        if op == "between":
            lo, hi = v
            return mx >= lo and mn <= hi
        if op == "in":
            return any(mn <= x <= mx for x in v)
    except TypeError:
        return True
    return True


def _bucket_of(cols, n_buckets: int):
    # pmod(murmur3, n) — EXACTLY Spark's HashPartitioning formula,
    # so repartition(n_buckets, *keys) physically routes each row
    # to the partition that IS its bucket: the merge's one shuffle
    # doubles as the bucketed-write placement (no second shuffle).
    return F.pmod(F.hash(*cols), F.lit(n_buckets))


def _column_range(pf, col: str, dtype) -> tuple:
    """(min, max, non-null count) of one column of one parquet file in
    Spark's SQL order; min/max are None when no value is non-null.
    Footer statistics answer when every row group carries them. The
    column itself is read where they cannot stand in for Spark's
    order: floats (Spark sorts NaN above every number, parquet
    writers disagree), timestamps (Spark writes INT96, which has no
    statistics; returned as epoch seconds) and row groups whose writer
    dropped min/max (oversized strings)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    md = pf.metadata
    if not isinstance(dtype, (T.FloatType, T.DoubleType, T.TimestampType)):
        j = [md.schema.column(i).path for i in range(md.num_columns)].index(col)
        mn = mx = None
        nn = 0
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            st = rg.column(j).statistics
            if st is None or not st.has_null_count:
                break
            n = rg.num_rows - st.null_count
            if n and not st.has_min_max:
                break
            if n:
                nn += n
                mn = st.min if mn is None else min(mn, st.min)
                mx = st.max if mx is None else max(mx, st.max)
        else:
            return mn, mx, nn
    arr = pf.read(columns=[col]).column(0)
    nn = len(arr) - arr.null_count
    nan = False
    if isinstance(dtype, T.TimestampType):
        arr = arr.cast(pa.timestamp("us", tz=arr.type.tz)).cast(pa.int64())
    elif isinstance(dtype, (T.FloatType, T.DoubleType)):
        isnan = pc.is_nan(arr)
        nan = bool(pc.any(isnan).as_py())
        arr = arr.filter(pc.invert(isnan))
    mm = pc.min_max(arr)
    mn, mx = mm["min"].as_py(), mm["max"].as_py()
    if nan:
        mx = float("nan")
        mn = mx if mn is None else mn
    if isinstance(dtype, T.TimestampType) and mn is not None:
        mn, mx = (s + us / 1e6 for s, us in (divmod(mn, 10**6), divmod(mx, 10**6)))
    return mn, mx, nn


def _footer_stats(data_dir: str, schema: T.StructType, seq_col: str, sort_cols: list[str]) -> dict:
    """Manifest entries for a bucket-partitioned write, from the
    written files' parquet footers — no Spark job. Per bucket: path,
    live ``rows``, ``tombstones``, ``min_seq``/``max_seq`` and
    ``max_cv`` (when some value is non-null), and with statable
    ``sort_cols`` a ``files`` list of per-file rows and min/max. A
    file's ``_deleted`` min/max says whether it is all live or all
    tombstones; only mixed files have that one column read."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    stat_cols = [c for c in sort_cols if isinstance(schema[c].dataType, _STATS_TYPES)]
    out = {}
    for d in os.listdir(data_dir):
        if not d.startswith(f"{_BUCKET}="):
            continue
        ent: dict = {"path": os.path.join(data_dir, d), "rows": 0, "tombstones": 0}
        files = []
        for fn in sorted(os.listdir(ent["path"])):
            if fn.startswith((".", "_")):
                continue
            # INT96 as microseconds: as nanoseconds it overflows outside
            # the years 1677-2262, which Spark timestamps can hold
            pf = pq.ParquetFile(os.path.join(ent["path"], fn), coerce_int96_timestamp_unit="us")
            n = pf.metadata.num_rows
            lo, hi, nn = _column_range(pf, _DELETED, T.BooleanType())
            if hi is not True:
                dead = 0
            elif lo is True:
                dead = nn
            else:
                dead = int(pc.sum(pf.read(columns=[_DELETED]).column(0)).as_py())
            ent["rows"] += n - dead
            ent["tombstones"] += dead
            lo, hi, _ = _column_range(pf, seq_col, T.LongType())
            if hi is not None:
                ent["min_seq"] = min(ent.get("min_seq", lo), lo)
                ent["max_seq"] = max(ent.get("max_seq", hi), hi)
            _, hi, _ = _column_range(pf, _CV, T.LongType())
            if hi is not None:
                ent["max_cv"] = _max_opt(ent.get("max_cv"), hi)
            if stat_cols:
                fent: dict = {"name": fn, "rows": n}
                st = {}
                for c in stat_cols:
                    lo, hi, _ = _column_range(pf, c, schema[c].dataType)
                    if lo is not None:
                        st[c] = [_stat_encode(lo), _stat_encode(hi)]
                if st:
                    fent["stats"] = st
                files.append(fent)
        if files:
            ent["files"] = files
        out[str(int(d.split("=")[1]))] = ent
    return out


class ConstraintViolationError(ValueError):
    """A merge/compact staged live rows that fail a table CHECK
    constraint; the commit was aborted and the table is unchanged."""


def with_conflict_retry(body, max_retries: int):
    """Optimistic-concurrency loop: re-run ``body`` on
    CommitConflictError, up to ``max_retries`` times, with randomized
    exponential backoff. The body must re-read table state on each
    attempt (``merge_cdc`` re-reads CURRENT at entry) and be
    idempotent per attempt (epoch fence / atomic watermark), so a
    retry REBASES onto the winning writer's commit instead of
    replaying a stale snapshot — and if the winner committed the same
    epoch, the fence turns the retry into a skip. The backoff is
    randomized so two writers racing the same table de-synchronize
    instead of burning every retry in lockstep."""
    import random

    last: Exception | None = None
    for attempt in range(max_retries + 1):
        try:
            return body()
        except CommitConflictError as e:
            last = e
            if attempt < max_retries:
                time.sleep(random.uniform(0.05, 0.2) * (2 ** attempt))
    raise last  # type: ignore[misc]


class ExpiredVersionError(FileNotFoundError):
    """The requested version's manifest was removed by
    ``expire_versions`` — e.g. a change-feed ``v_from`` older than the
    retention horizon. Consumers past the horizon must bootstrap from
    the full table (``changes_since(0)``) instead; pin the versions a
    consumer still needs (``LakeTable.pin``) to prevent this."""


def _state_diff(target: DataFrame, cur: DataFrame, keys: list[str], user: list[str]) -> DataFrame:
    """The compensating op-frame that turns ``cur``'s keyed state into
    ``target``'s: an upsert (with target's values) for every key where
    target differs or cur lacks the key, a delete for every key cur
    has and target lacks. Both inputs must already be aligned to the
    same ``user`` column list and types. Null-safe on keys AND values
    (NULL == NULL, so an unchanged NULL field never forces a rewrite).
    Used by restore() (target = old snapshot of self) and merge_from()
    (target = another table's state — write-audit-publish)."""
    import functools

    o = target.withColumn("__o_live", F.lit(True)).alias("o")
    c = cur.withColumn("__c_live", F.lit(True)).alias("c")
    cond = functools.reduce(
        lambda a, b: a & b,
        [F.col(f"o.{k}").eqNullSafe(F.col(f"c.{k}")) for k in keys],
    )
    j = o.join(c, cond, "full_outer")
    nonkey = [cc for cc in user if cc not in keys]
    same_vals = (
        F.struct(*[F.col(f"o.{cc}") for cc in nonkey]).eqNullSafe(
            F.struct(*[F.col(f"c.{cc}") for cc in nonkey]))
        if nonkey else F.lit(True)
    )
    o_live = F.coalesce(F.col("o.__o_live"), F.lit(False))
    c_live = F.coalesce(F.col("c.__c_live"), F.lit(False))
    op = (
        F.when(o_live & (~c_live | ~same_vals), F.lit("upsert"))
        .when(~o_live & c_live, F.lit("delete"))
    )
    out_keys = [F.when(o_live, F.col(f"o.{k}")).otherwise(F.col(f"c.{k}")).alias(k)
                for k in keys]
    out_vals = [F.col(f"o.{cc}").alias(cc) for cc in nonkey]  # deletes carry NULLs
    return (
        j.select(*out_keys, *out_vals, op.alias("op"))
        .filter(F.col("op").isNotNull())
    )


def _atomic_write(path: str, text: str) -> None:
    """Atomic publish, via the active commit backend (commitio.py):
    POSIX fsync+rename by default; a plain PUT on object stores."""
    get_backend().publish(path, text)


def _atomic_create(path: str, text: str) -> None:
    """Atomic create-if-absent, via the active commit backend: the
    version file is the commit-claim token. A concurrent writer racing
    for the same version number loses with CommitConflictError instead
    of silently clobbering the other's commit. POSIX link(2) by
    default; a conditional put on object stores."""
    get_backend().create_if_absent(path, text)


_CURRENT_LOCK_STALE_SEC = 10.0


class _current_locked:
    """Short exclusive lock serializing CURRENT updates (flip, heal).
    The critical section is two tiny file ops (microseconds); a lock
    left by a crashed holder is stolen after ``_CURRENT_LOCK_STALE_SEC``
    — generous at 10s, and a double-steal after such an anomaly only
    re-opens a benign-unless-stale race for one flip. The lock file is
    same-store scratch claimed with direct O_EXCL (POSIX); an
    object-store deployment instead serializes CURRENT with the
    store's own generation-number CAS — see commitio.py / README."""

    def __init__(self, meta_dir: str):
        self.lock = os.path.join(meta_dir, "CURRENT.lock")

    def __enter__(self):
        while True:
            try:
                fd = os.open(self.lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.close(fd)
                return self
            except FileExistsError:
                try:
                    if time.time() - os.path.getmtime(self.lock) > _CURRENT_LOCK_STALE_SEC:
                        os.unlink(self.lock)  # holder died mid-flip; steal
                        continue
                except FileNotFoundError:
                    continue
                time.sleep(0.002)

    def __exit__(self, *exc):
        try:
            os.unlink(self.lock)
        except FileNotFoundError:
            pass
        return False


def _flip_forward(meta_dir: str, version: int) -> bool:
    """Advance CURRENT to ``version`` iff it is behind it — idempotent,
    forward-only, and SERIALIZED: the read-check-write runs under the
    CURRENT.lock, because recovery/repair run concurrently with live
    writers, and an unserialized stale write in the read→write window
    would regress CURRENT below a version a faster concurrent flip
    just committed (hiding it until the next repair)."""
    with _current_locked(meta_dir):
        with open(os.path.join(meta_dir, "CURRENT")) as f:
            cur = int(f.read().strip())
        if cur >= version:
            return False
        _atomic_write(os.path.join(meta_dir, "CURRENT"), str(version))
        return True


class LakeTable:
    """One keyed, bucketed, versioned table under ``root``."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    # ---------- metadata ----------

    @property
    def _meta_dir(self) -> str:
        return os.path.join(self.root, "_meta")

    def current_version(self) -> int:
        try:
            with open(os.path.join(self._meta_dir, "CURRENT")) as f:
                return int(f.read().strip())
        except ValueError:
            return self._heal_current()
        except FileNotFoundError:
            if os.path.isdir(self._meta_dir) and any(
                fn.startswith("v") and fn.endswith(".json")
                for fn in os.listdir(self._meta_dir)
            ):
                return self._heal_current()
            raise

    def _heal_current(self) -> int:
        """CURRENT is torn or missing with manifests present — possible
        only after a crash on a store whose publish is not atomic (the
        contract violation FaultInjectingBackend's torn mode simulates)
        or between create()'s two initial writes. Deterministic
        rebuild: the highest version whose manifest exists and is not
        an UNCOMMITTED transaction claim — exactly where recover()
        would roll CURRENT forward to. Serialized under the same
        CURRENT.lock as flips, and forward-only against any parseable
        value that appears meanwhile, so a concurrent committer can
        never be regressed."""
        best = -1
        txn_dir = os.path.join(os.path.dirname(os.path.abspath(self.root)), "_txns")
        for fn in os.listdir(self._meta_dir):
            if not (fn.startswith("v") and fn.endswith(".json")):
                continue
            try:
                v = int(fn[1:-5])
                with open(os.path.join(self._meta_dir, fn)) as f:
                    m = json.load(f)
            except (ValueError, json.JSONDecodeError):
                continue
            txn_id = m.get("txn")
            if txn_id is not None:
                try:
                    with open(os.path.join(txn_dir, f"{txn_id}.json")) as f:
                        if json.load(f).get("aborted"):
                            continue
                except (FileNotFoundError, json.JSONDecodeError):
                    continue  # uncommitted claim, not a committed version
            best = max(best, v)
        if best < 0:
            raise FileNotFoundError(
                f"CURRENT unreadable and no committed manifest under {self._meta_dir}"
            )
        with _current_locked(self._meta_dir):
            try:
                with open(os.path.join(self._meta_dir, "CURRENT")) as f:
                    cur = int(f.read().strip())
                if cur >= best:
                    return cur
            except (FileNotFoundError, ValueError):
                pass
            _atomic_write(os.path.join(self._meta_dir, "CURRENT"), str(best))
        return best

    def manifest(self, version: int | None = None) -> dict:
        v = self.current_version() if version is None else version
        try:
            with open(os.path.join(self._meta_dir, f"v{v}.json")) as f:
                return json.load(f)
        except FileNotFoundError:
            if 0 <= int(v) <= self.current_version():
                raise ExpiredVersionError(
                    f"version {v} of {self.root} is past the retention "
                    "horizon (expire_versions removed it); bootstrap from "
                    "changes_since(0), or pin(name, v) versions consumers "
                    "still need"
                ) from None
            raise

    def schema(self, version: int | None = None) -> T.StructType:
        m = self.manifest(version)
        return T.StructType.fromJson(m["schemas"][m["current_schema_id"]])

    def committed_epochs(self, version: int | None = None) -> dict:
        return self.manifest(version).get("epochs", {})

    def has_epoch(self, epoch) -> bool:
        return str(epoch) in self.committed_epochs()

    def row_count(self, version: int | None = None) -> int:
        return sum(b["rows"] for b in self.manifest(version)["buckets"].values())

    @property
    def key_cols(self) -> list[str]:
        return self.manifest()["key_cols"]

    @property
    def seq_col(self) -> str:
        return self.manifest()["seq_col"]

    @property
    def derived_columns(self) -> dict:
        return self.manifest().get("derived", {})

    @property
    def n_buckets(self) -> int:
        return self.manifest()["n_buckets"]

    # ---------- create ----------

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        schema: T.StructType,
        key_cols: list[str],
        seq_col: str = "last_seq",
        n_buckets: int = 16,
        properties: dict | None = None,
        derived: dict[str, tuple[str, str]] | None = None,
        write_mode: str = "cow",
        bloom_cols: list[str] | None = None,
        sort_cols: list[str] | None = None,
        constraints: dict[str, str] | None = None,
        on_violation: str = "abort",
    ) -> "LakeTable":
        """``derived`` declares engine-maintained columns computed on
        merge winners, e.g. {"content_sha256": ("sha256", "content")}.
        Declaring them lets the merge run FUSED: raw events union the
        target and resolve in one max_by aggregation, and the checksum
        is computed only for rows that actually win — not for every
        staged event (at 4 events/key that's 4x fewer hashes and one
        fewer full-payload shuffle than stage-then-merge).

        ``write_mode``: "cow" (default) resolves each merge into the
        base immediately; "mor" appends batch deltas (O(batch) ingest)
        and resolves at read time — compact() folds them down.
        "append" is the FACT-TABLE regime (event logs, metrics,
        training corpora shards): batches land as deltas like MOR but
        rows are never keyed-resolved — no dedup shuffle sort on
        write, no window on read; ``key_cols`` still drive bucketing,
        so facts stay co-located with the keyed dimension tables they
        join. Deletes are refused (append-only by contract); compact
        just bin-packs delta files into the base. Tails via
        ``read_since`` / ``changes_since`` work unchanged (every row
        an insert).

        ``bloom_cols``: write parquet bloom filters for these columns
        (typically the key columns). Point lookups then skip row
        groups whose bloom provably excludes the probed keys — the
        within-bucket complement to hash-bucket pruning. Costs file
        size; opt in where point reads matter.

        ``sort_cols``: cluster rows by these columns WITHIN each
        bucket file on every rewrite (merge, compact, rebucket) — a
        sortWithinPartitions, no extra shuffle. Hash bucketing
        scatters any non-key column across the full value range, so
        parquet row-group min/max stats are useless for range
        predicates on it; with clustering the row groups cover
        narrow disjoint ranges and Spark's pushed filters skip them
        (ZORDER-lite, one dimension). Opt in for the timestamp-ish
        column your scans range over.

        ``constraints``: named CHECK expressions ({name: SQL boolean
        expr}) every LIVE row must satisfy (Delta CHECK-constraint
        analog; NULL satisfies, per SQL). Enforcement is FUSED into
        the write itself (one ``observe`` on the bucket write), so the
        happy path costs zero extra passes; a violating batch aborts
        before the manifest commit and the table is untouched. See
        ``add_constraint`` for constraining existing tables.

        ``on_violation``: "abort" (default, zero-cost enforcement as
        above) or "quarantine" — the dead-letter pattern: violating
        STAGED rows are routed to ``<root>/_quarantine/`` (readable
        via ``quarantined()``, with a ``_violated`` column naming the
        failed constraints) and the clean remainder merges normally.
        Quarantine screens the staged batch BEFORE resolution (bad
        data is bad whether or not it would win) and costs one extra
        O(batch) pass per merge — the operator's trade for never
        stalling ingest on poison rows."""
        if write_mode not in ("cow", "mor", "append"):
            raise ValueError(f"write_mode must be cow|mor|append, got {write_mode!r}")
        if on_violation not in ("abort", "quarantine"):
            raise ValueError(f"on_violation must be abort|quarantine, got {on_violation!r}")
        t = cls(spark, root)
        os.makedirs(t._meta_dir, exist_ok=True)
        if seq_col not in schema.names:
            schema = T.StructType(list(schema.fields) + [T.StructField(seq_col, T.LongType(), True)])
        if _DELETED not in schema.names:
            # retained tombstones: a delete keeps a hidden row carrying its
            # seq, so a later-arriving OLDER event for the key still loses
            # (out-of-order safety — SURVEY.md hard part #1). Reads filter
            # them; expire/compaction may purge them past a watermark.
            schema = T.StructType(list(schema.fields) + [T.StructField(_DELETED, T.BooleanType(), True)])
        if _CV not in schema.names:
            # commit-version stamp: every row records the table version
            # whose merge LAST CHANGED it (winners coming from a staged
            # batch get the new version; carried-forward rows keep
            # theirs — compaction/rebucket preserve it). This is what
            # makes `changes_since` sound under out-of-order delivery:
            # a late event with an old seq that still wins stamps the
            # row with the NEW commit version, so a seq watermark is
            # never consulted (Delta CDF / Iceberg changelog analog).
            schema = T.StructType(list(schema.fields) + [T.StructField(_CV, T.LongType(), True)])
        m = {
            "version": 0,
            "parent": None,
            "key_cols": key_cols,
            "seq_col": seq_col,
            "n_buckets": n_buckets,
            "schemas": [schema.jsonValue()],
            "current_schema_id": 0,
            "buckets": {},
            "epochs": {},
            "properties": properties or {},
            "derived": {k: list(v) for k, v in (derived or {}).items()},
            "write_mode": write_mode,
            "bloom_cols": list(bloom_cols or []),
            "sort_cols": list(sort_cols or []),
            "constraints": dict(constraints or {}),
            "on_violation": on_violation,
            "deltas": [],
            "max_seq": None,
            "committed_at": time.time(),
        }
        _atomic_write(os.path.join(t._meta_dir, "v0.json"), json.dumps(m))
        _atomic_write(os.path.join(t._meta_dir, "CURRENT"), "0")
        return t

    @classmethod
    def exists(cls, root: str) -> bool:
        return os.path.exists(os.path.join(root, "_meta", "CURRENT"))

    # ---------- read ----------

    def _bucket_expr(self, keys: list[str], m: dict | None = None):
        """Bucket id of the named columns (see _bucket_of), under the
        bucket count of snapshot ``m`` (default: the current one)."""
        return _bucket_of([F.col(k) for k in keys], (m or self.manifest())["n_buckets"])

    def version_at(self, ts: float) -> int:
        """TIMESTAMP AS OF: the newest version whose commit time is
        <= ``ts`` (epoch seconds), resolved from retained manifests'
        ``committed_at``. Raises if every retained manifest is newer
        (the asked-for instant predates the retention horizon)."""
        best = None
        for fn in os.listdir(self._meta_dir):
            if fn.startswith("v") and fn.endswith(".json"):
                try:
                    v = int(fn[1:-5])
                except ValueError:
                    continue
                try:
                    m = self.manifest(v)
                except FileNotFoundError:
                    continue
                at = m.get("committed_at")
                if at is not None and at <= ts and (best is None or v > best):
                    best = v
        if best is None:
            raise ExpiredVersionError(
                f"no retained version of {self.root} committed at or before "
                f"ts={ts} (past the retention horizon, or before table creation)"
            )
        return best

    def read(
        self,
        version: int | None = None,
        buckets: set[int] | None = None,
        include_tombstones: bool = False,
        tag: str | None = None,
        as_of_ts: float | None = None,
        filters: list[tuple] | None = None,
    ) -> DataFrame:
        """Snapshot read. Files written under older schema ids are read
        with their own schema, upcast by name, then unioned — missing
        columns become NULL, widened columns are cast up. Tombstone
        rows (retained deletes) are filtered unless asked for.
        ``version`` / ``tag`` / ``as_of_ts`` (epoch seconds,
        resolved via ``version_at``) are mutually exclusive ways to
        pick the snapshot.

        In merge-on-read mode, delta files are unioned with the base
        and resolved (latest seq per key wins) at read time — the
        ingest-side cost COW pays per batch, moved to the read side.

        ``filters``: conjunctive ``(col, op, value)`` triples with op
        in =/==/</<=/>/>=/between/in — semantically identical to
        ``read().filter(...)`` (a residual filter always applies), but
        files whose manifest-recorded ``sort_cols`` min/max range
        cannot match are pruned BEFORE the scan. Pruning only engages
        when no read-time resolve is pending (COW / compacted MOR /
        append mode): with live keyed deltas, dropping a file could
        remove the winning row of a key and surface its stale loser,
        so the engine falls back to post-resolve filtering there —
        exact either way, just without the IO win until compact."""
        if sum(x is not None for x in (version, tag, as_of_ts)) > 1:
            raise ValueError("pass at most one of version, tag, as_of_ts")
        if tag is not None:
            version = self.resolve_tag(tag)
        elif as_of_ts is not None:
            version = self.version_at(as_of_ts)
        return self._scan(self.manifest(version), buckets, include_tombstones, filters)

    def _scan(
        self,
        m: dict,
        buckets: set[int] | None = None,
        include_tombstones: bool = False,
        filters: list[tuple] | None = None,
    ) -> DataFrame:
        """``read`` of the snapshot ``m`` (an already-loaded manifest)."""
        cur = T.StructType.fromJson(m["schemas"][m["current_schema_id"]])
        deltas = m.get("deltas", [])
        enc = None
        if filters:
            _validate_filters(filters)
            if not deltas or m.get("write_mode", "cow") == "append":
                enc = self._encode_filters(filters, cur)
        by_sid: dict[int, list[str]] = {}
        for b, ent in m["buckets"].items():
            if buckets is not None and int(b) not in buckets:
                continue
            by_sid.setdefault(ent["sid"], []).extend(
                self._entry_scan_paths(m, ent, ent["sid"], enc))
        for d in deltas:
            for b, ent in d["buckets"].items():
                if buckets is not None and int(b) not in buckets:
                    continue
                by_sid.setdefault(d["sid"], []).extend(
                    self._entry_scan_paths(m, ent, d["sid"], enc))
        by_sid = {sid: ps for sid, ps in by_sid.items() if ps}
        if not by_sid:
            out = self.spark.createDataFrame([], cur)
        else:
            parts = []
            for sid, paths in sorted(by_sid.items()):
                file_schema = T.StructType.fromJson(m["schemas"][sid])
                df = self.spark.read.schema(file_schema).parquet(*paths)
                cols = []
                for f in cur.fields:
                    # renames are metadata-only: resolve the physical
                    # name this file's schema generation used
                    src = self._physical_name(m, f.name, sid)
                    cols.append(
                        (F.col(src).cast(f.dataType) if src in file_schema.names
                         else F.lit(None).cast(f.dataType)).alias(f.name)
                    )
                parts.append(df.select(*cols))
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
        if deltas and m.get("write_mode", "cow") != "append":
            out = self._resolve_latest(out, m["seq_col"], m["key_cols"])
        if not include_tombstones:
            # user-facing snapshot: hide tombstones AND internal columns
            # (include_tombstones=True is the raw physical read used by
            # the engine's own rewrite paths + the changelog)
            if _DELETED in out.columns:
                out = out.filter(~F.coalesce(F.col(_DELETED), F.lit(False))).drop(_DELETED)
            if _CV in out.columns:
                out = out.drop(_CV)
        if filters:
            out = out.filter(_filters_to_column(filters))
        return out

    def _encode_filters(self, filters: list[tuple], schema: T.StructType) -> list[tuple]:
        """Normalize filter literals into the manifest stats' encoding
        (per current-schema column types) for range pruning."""
        enc = []
        for col, op, val in filters:
            dt = schema[col].dataType if col in schema.names else None
            if dt is None:
                continue  # residual filter will raise/handle; never prune
            if op == "between":
                lo, hi = val
                val = (_encode_filter_value(lo, dt), _encode_filter_value(hi, dt))
            elif op == "in":
                val = [_encode_filter_value(v, dt) for v in val]
            else:
                val = _encode_filter_value(val, dt)
            enc.append((col, op, val))
        return enc

    def _entry_scan_paths(self, m: dict, ent: dict, sid: int, enc: list | None) -> list[str]:
        """The paths a scan of this bucket entry must open under the
        encoded filters: the whole bucket dir when no per-file stats
        exist (or pruning is off), else only the files whose recorded
        sort-column ranges may match — possibly none. File stats were
        recorded under the writing schema's physical column names, so
        renamed columns resolve through the same rename maps reads use."""
        files = ent.get("files")
        if not files or not enc:
            return [ent["path"]]
        kept = []
        for fe in files:
            st = fe.get("stats", {})
            ok = True
            for col, op, val in enc:
                rng = st.get(self._physical_name(m, col, sid))
                if rng is not None and not _range_may_match(rng, op, val):
                    ok = False
                    break
            if ok:
                kept.append(os.path.join(ent["path"], fe["name"]))
        return kept

    def scan_stats(
        self,
        filters: list[tuple] | None = None,
        version: int | None = None,
        buckets: set[int] | None = None,
    ) -> dict:
        """IO plan report for a ``read`` with these arguments — how
        many data files the scan opens vs the snapshot's total, from
        the manifest alone (no Spark job). Entries without per-file
        stats count as one opaque file. The pruning gate mirrors
        ``read`` exactly (no pruning while keyed deltas await resolve)."""
        m = self.manifest(version)
        cur = T.StructType.fromJson(m["schemas"][m["current_schema_id"]])
        deltas = m.get("deltas", [])
        enc = None
        if filters:
            _validate_filters(filters)
            if not deltas or m.get("write_mode", "cow") == "append":
                enc = self._encode_filters(filters, cur)
        total = kept = 0
        entries = [(ent, ent["sid"]) for b, ent in m["buckets"].items()
                   if buckets is None or int(b) in buckets]
        for d in deltas:
            entries += [(ent, d["sid"]) for b, ent in d["buckets"].items()
                        if buckets is None or int(b) in buckets]
        for ent, sid in entries:
            n = len(ent.get("files") or [None])
            total += n
            kept += len(self._entry_scan_paths(m, ent, sid, enc)) if enc else n
        return {"files_total": total, "files_kept": kept,
                "files_pruned": total - kept,
                "pruning_active": enc is not None and bool(filters)}

    def read_keys(self, keys: list[tuple], pushdown_limit: int = 64) -> DataFrame:
        """Point lookup: read ONLY the buckets the given key tuples
        hash to, then filter to those keys — O(touched buckets), not
        O(table). Spark computes the bucket ids with the exact engine
        hash (pmod(murmur3)), so Python never re-implements it.

        Up to ``pushdown_limit`` keys, the bucket ids come from ONE
        tiny job projecting the literal keys, each cast to its key
        column's type (murmur3 hashes by type), over ``spark.range(1)``
        and deduplicated in Python; the filter is a LITERAL
        OR-of-equalities instead of a semi join: Catalyst pushes it to
        the parquet scan, so row-group min/max stats AND the table's
        bloom filters (``bloom_cols``) skip data inside the touched
        buckets — the semi join form reads every row group. Larger key
        sets go through a DataFrame of the keys: a distinct bucket-id
        probe, then the broadcast semi join (a giant pushed OR or
        projection would bloat the plan)."""
        m = self.manifest()
        if not keys:
            return self._scan(m).limit(0)
        kcols = m["key_cols"]
        schema = T.StructType.fromJson(m["schemas"][m["current_schema_id"]])
        types = [schema[k].dataType for k in kcols]
        if len(keys) <= pushdown_limit:
            import functools

            ids = [
                _bucket_of([F.lit(v).cast(t) for v, t in zip(k, types)], m["n_buckets"])
                .alias(f"b{i}") for i, k in enumerate(keys)
            ]
            df = self._scan(m, buckets={int(b) for b in self.spark.range(1).select(*ids).first()})

            def tup(kt):
                return functools.reduce(
                    lambda a, b: a & b,
                    [F.col(c) == F.lit(v) for c, v in zip(kcols, kt)],
                )

            return df.filter(functools.reduce(lambda a, b: a | b, [tup(k) for k in keys]))
        probe = self.spark.createDataFrame(
            [tuple(k) for k in keys],
            T.StructType([T.StructField(k, t, True) for k, t in zip(kcols, types)]),
        )
        buckets = {
            int(r["b"]) for r in
            probe.select(self._bucket_expr(kcols, m).alias("b")).distinct().collect()
        }
        return self._scan(m, buckets=buckets).join(F.broadcast(probe), kcols, "left_semi")

    def create_view(self, name: str | None = None, **read_kw) -> str:
        """Register this table as a Spark temp view (default name:
        the table's directory name) and return the view name. Any
        ``read`` selector works — ``version=``/``tag=``/``as_of_ts=``
        — so SQL users get time travel too:
        ``t.create_view("repos_v3", version=3)`` then
        ``spark.sql("SELECT ... FROM repos_v3")``."""
        n = name or os.path.basename(os.path.abspath(self.root))
        self.read(**read_kw).createOrReplaceTempView(n)
        return n

    def create_changes_view(self, name: str, v_from: int, v_to: int | None = None) -> str:
        """Register the change feed between two versions as a temp
        view — the SQL form of ``changes_since`` (Delta's
        ``table_changes`` TVF analog): user columns + seq +
        ``_change_type`` ('upsert'|'delete'), one row per net-changed
        key, bucket-pruned like any changelog read."""
        self.changes_since(v_from, v_to).createOrReplaceTempView(name)
        return name

    # ---------- tags (named refs over the version chain) ----------

    @property
    def _tags_path(self) -> str:
        return os.path.join(self._meta_dir, "TAGS.json")

    def tags(self) -> dict:
        if not os.path.exists(self._tags_path):
            return {}
        with open(self._tags_path) as f:
            return json.load(f)

    def tag(self, name: str, version: int | None = None) -> None:
        """Pin a human-named ref to a version (Iceberg tag analog) —
        the reproducibility handle ('the table as training run X saw
        it'). Tagged versions' data survives expire_versions."""
        v = self.current_version() if version is None else int(version)
        self.manifest(v)  # must exist
        _atomic_write(self._tags_path, json.dumps({**self.tags(), name: v}))

    def delete_tag(self, name: str) -> None:
        t = self.tags()
        t.pop(name, None)
        _atomic_write(self._tags_path, json.dumps(t))

    # ---------- pins (per-consumer retention watermarks) ----------
    #
    # A pin is a machine-held version ref with ONE-FILE-PER-NAME
    # storage: concurrent pinners (many downstream syncs against one
    # source) never read-modify-write a shared file, so no pin can be
    # lost to a race — unlike tags, which are a human-curated dict.
    # expire_versions retains pinned versions' manifests and data, so
    # a lagging incremental consumer's next `changes(v_from)` preimage
    # read stays serviceable no matter how far keep_last advances.

    @property
    def _pins_dir(self) -> str:
        return os.path.join(self._meta_dir, "pins")

    @staticmethod
    def _pin_file(name: str) -> str:
        import re

        safe = re.sub(r"[^A-Za-z0-9_.:-]", "_", name)
        return f"{safe}.json"

    def pin(self, name: str, version: int | None = None, onward: bool = False) -> None:
        """Pin ``version`` (default: current) against expiry under a
        consumer name. Re-pinning the same name moves the pin (the
        consumer's retention watermark advances with its sync).

        ``onward=False`` (default) retains exactly the pinned version
        — what batch incremental consumers need: ``changes(v_from)``
        reads only the ENDPOINT manifests plus v_from's snapshot for
        preimages (``_cv`` stamps make intermediate manifests
        irrelevant), so clones and syncs never over-retain.

        ``onward=True`` retains the pinned version AND every version
        after it — the changelog-consumer semantic: a streaming
        change-feed tail (streaming/feed) consumes the per-commit
        delta FILES of every intermediate version, which only their
        own manifests reference, so a point pin would let
        ``expire_versions`` reclaim files a stopped consumer has not
        read yet. An onward pin freezes the reclamation horizon at
        the consumer's progress; advance it as the consumer catches
        up, unpin to decommission (Kafka consumer-group offset /
        Delta CDF retention analog)."""
        v = self.current_version() if version is None else int(version)
        self.manifest(v)  # must exist
        os.makedirs(self._pins_dir, exist_ok=True)
        _atomic_write(
            os.path.join(self._pins_dir, self._pin_file(name)),
            json.dumps({"name": name, "version": v, "onward": bool(onward)}),
        )

    def unpin(self, name: str) -> None:
        try:
            os.remove(os.path.join(self._pins_dir, self._pin_file(name)))
        except FileNotFoundError:
            pass

    def _pin_records(self) -> list[dict]:
        if not os.path.isdir(self._pins_dir):
            return []
        out = []
        for fn in os.listdir(self._pins_dir):
            if fn.endswith(".json"):
                with open(os.path.join(self._pins_dir, fn)) as f:
                    out.append(json.load(f))
        return out

    def pins(self) -> dict[str, int]:
        return {d["name"]: int(d["version"]) for d in self._pin_records()}

    def oldest_version(self) -> int:
        """The oldest version whose manifest is still retained — the
        table's time-travel / change-feed horizon."""
        vs = []
        for fn in os.listdir(self._meta_dir):
            if fn.startswith("v") and fn.endswith(".json"):
                try:
                    vs.append(int(fn[1:-5]))
                except ValueError:
                    continue
        if not vs:
            raise FileNotFoundError(f"no manifests under {self._meta_dir}")
        return min(vs)

    def resolve_tag(self, name: str) -> int:
        t = self.tags()
        if name not in t:
            raise KeyError(f"no such tag: {name}")
        return int(t[name])

    def history(self) -> DataFrame:
        """The version chain as a DataFrame: (version, parent, note,
        n_buckets, rows, n_deltas, epochs_committed, committed_at) —
        the audit/time-travel index."""
        rows = []
        v: int | None = self.current_version()
        while v is not None:
            try:
                m = self.manifest(v)
            except FileNotFoundError:
                break  # retention horizon: older manifests expired
            rows.append((
                int(m["version"]),
                m.get("parent"),
                m.get("note"),
                int(sum(b["rows"] for b in m["buckets"].values())),
                len(m.get("deltas", [])),
                len(m.get("epochs", {})),
                float(m["committed_at"]),
            ))
            v = m.get("parent")
        return self.spark.createDataFrame(
            rows,
            "version int, parent int, note string, rows long, n_deltas int, "
            "n_epochs int, committed_at double",
        ).withColumn("committed_at", F.timestamp_seconds(F.col("committed_at")))

    @staticmethod
    def _resolve_latest(df: DataFrame, seq_col: str, key_cols: list[str]) -> DataFrame:
        from pyspark.sql import Window

        w = Window.partitionBy(*key_cols).orderBy(F.desc(seq_col))
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )

    # ---------- schema DDL ----------

    @staticmethod
    def _refuse_if_constrained(m: dict, col: str, action: str) -> None:
        """Renaming/dropping a column a CHECK expression references
        would silently break enforcement (Delta blocks this too)."""
        import re as _re

        hits = [n for n, e in m.get("constraints", {}).items()
                if _re.search(rf"\b{_re.escape(col)}\b", e)]
        if hits:
            raise SchemaEvolutionError(
                f"cannot {action} column {col!r}: referenced by CHECK "
                f"constraint(s) {hits}; drop_constraint first"
            )

    def constraints(self) -> dict[str, str]:
        return dict(self.manifest().get("constraints", {}))

    def add_constraint(self, name: str, expr: str) -> int:
        """ALTER TABLE ADD CONSTRAINT (Delta CHECK analog): validate
        EXISTING live rows in one aggregation (violations block the
        DDL — a constraint must never be born broken), then record the
        expression in a metadata-only commit. Every later merge /
        compact / rebucket enforces it on its write (``observe``)."""
        m = self.manifest()
        if name in m.get("constraints", {}):
            raise ValueError(f"constraint exists: {name}")
        bad = self.read().filter(
            ~F.coalesce(F.expr(expr), F.lit(True))
        ).count()
        if bad:
            raise ConstraintViolationError(
                f"cannot add {name!r}: {bad} existing rows violate {expr!r}"
            )
        m2 = {**m, "version": m["version"] + 1, "parent": m["version"],
              "constraints": {**m.get("constraints", {}), name: expr},
              "committed_at": time.time(), "note": f"add constraint {name}"}
        return self._commit(m2)

    def set_on_violation(self, mode: str) -> int:
        """Flip constraint handling between 'abort' (zero-cost, batch
        fails) and 'quarantine' (dead-letter routing) — metadata-only
        commit, effective from the next merge."""
        if mode not in ("abort", "quarantine"):
            raise ValueError(f"on_violation must be abort|quarantine, got {mode!r}")
        m = self.manifest()
        m2 = {**m, "version": m["version"] + 1, "parent": m["version"],
              "on_violation": mode,
              "committed_at": time.time(), "note": f"on_violation={mode}"}
        return self._commit(m2)

    def drop_constraint(self, name: str) -> int:
        m = self.manifest()
        cons = dict(m.get("constraints", {}))
        if name not in cons:
            raise ValueError(f"no such constraint: {name}")
        cons.pop(name)
        m2 = {**m, "version": m["version"] + 1, "parent": m["version"],
              "constraints": cons,
              "committed_at": time.time(), "note": f"drop constraint {name}"}
        return self._commit(m2)

    def rename_column(self, old: str, new: str) -> None:
        """Explicit rename DDL — METADATA-ONLY, like Iceberg's
        field-id rename: no data file is touched or rewritten. The new
        schema version records ``renamed_from: {new: old}``; ``read``
        composes these maps from each file's schema id up to the
        current schema to resolve which physical column backs each
        logical one. At 100 TB a rename is one manifest rename, not an
        O(table) rewrite (which a previous revision did)."""
        m = self.manifest()
        cur = T.StructType.fromJson(m["schemas"][m["current_schema_id"]])
        if old not in cur.names:
            raise SchemaEvolutionError(f"no such column: {old}")
        if new in cur.names:
            raise SchemaEvolutionError(f"column exists: {new}")
        if old in (m["seq_col"], _DELETED) or old in m["key_cols"]:
            raise SchemaEvolutionError(f"cannot rename key/internal column: {old}")
        self._refuse_if_constrained(m, old, "rename")
        new_schema = T.StructType(
            [T.StructField(new if f.name == old else f.name, f.dataType, f.nullable)
             for f in cur.fields]
        )
        schemas = m["schemas"] + [new_schema.jsonValue()]
        sid = len(schemas) - 1
        rename_maps = dict(m.get("rename_maps", {}))
        rename_maps[str(sid)] = {new: old}
        # derived-column specs follow the rename (dst or source column)
        derived = {
            (new if k == old else k): [v[0], new if v[1] == old else v[1]]
            for k, v in m.get("derived", {}).items()
        }
        m2 = {**m, "version": m["version"] + 1, "parent": m["version"],
              "schemas": schemas, "current_schema_id": sid,
              "rename_maps": rename_maps, "derived": derived,
              "committed_at": time.time(), "note": f"rename {old}->{new}"}
        self._commit(m2)

    def drop_column(self, name: str) -> None:
        """Metadata-only column drop (Iceberg-style): no data file is
        touched. The physical column in already-written files is
        unbound by recording a rename-map entry to a reserved
        never-written name, so a LATER re-add of the same column name
        binds to fresh NULLs — never to the dropped column's old
        values (the name-based-mapping resurrection hazard Iceberg
        solves with field ids, solved here with the same composed
        rename maps the rename DDL uses). Time travel to versions
        before the drop still reads the original values."""
        m = self.manifest()
        cur = T.StructType.fromJson(m["schemas"][m["current_schema_id"]])
        if name not in cur.names:
            raise SchemaEvolutionError(f"no such column: {name}")
        if name in (m["seq_col"], _DELETED, _CV) or name in m["key_cols"]:
            raise SchemaEvolutionError(f"cannot drop key/internal column: {name}")
        self._refuse_if_constrained(m, name, "drop")
        for dst, (fn, srccol) in m.get("derived", {}).items():
            if name in (dst, srccol):
                raise SchemaEvolutionError(
                    f"column {name!r} is part of derived spec {dst!r}; drop the spec first"
                )
        new_schema = T.StructType([f for f in cur.fields if f.name != name])
        schemas = m["schemas"] + [new_schema.jsonValue()]
        sid = len(schemas) - 1
        rename_maps = dict(m.get("rename_maps", {}))
        # unbind: any future column with this name resolves, for files
        # older than this sid, to a physical name no file ever wrote
        rename_maps[str(sid)] = {name: f"__dropped_v{sid}__{name}"}
        m2 = {**m, "version": m["version"] + 1, "parent": m["version"],
              "schemas": schemas, "current_schema_id": sid,
              "rename_maps": rename_maps,
              "committed_at": time.time(), "note": f"drop {name}"}
        self._commit(m2)

    def _physical_name(self, m: dict, logical: str, file_sid: int) -> str:
        """Resolve the physical column name a file written under
        ``file_sid`` uses for the current schema's ``logical`` column,
        by composing rename maps backward from the current schema."""
        name = logical
        for sid in range(m["current_schema_id"], file_sid, -1):
            name = m.get("rename_maps", {}).get(str(sid), {}).get(name, name)
        return name

    # ---------- write paths ----------

    def _write_buckets(
        self,
        df: DataFrame,
        version: int,
        schema: T.StructType,
        m: dict,
        pre_partitioned: bool = False,
        area: str = "data",
        refuse_deletes: bool = False,
    ) -> dict:
        """Write df (must contain _b) partitioned by bucket under
        ``area`` (``data``: base buckets, ``delta``: MOR deltas); return
        {bucket: {path, rows, tombstones, ...}} from the written files'
        parquet footers (_footer_stats) — no read-back scan. ``m`` is
        the snapshot the caller works from: its n_buckets, sort_cols,
        constraints and write options shape the write.

        Repartition by bucket BEFORE partitionBy: without it every
        input partition writes one file per bucket it touches
        (input_partitions x n_buckets tiny files — measured to make
        32 cores slower than 8); with it each bucket is one file and
        file count is bounded by n_buckets regardless of parallelism.
        Callers whose df is already hash-partitioned on the key
        columns (the merge paths) pass pre_partitioned=True and skip
        the extra shuffle entirely (bucket id == partition id by
        construction of _bucket_of). Partition == bucket either way,
        so clustering by ``sort_cols`` is a per-bucket local sort.

        CHECK constraints (a LIVE row violates when its expr is FALSE;
        NULL passes, per SQL; tombstones are exempt) and, with
        ``refuse_deletes``, the append-only no-deletes contract are
        enforced from one ``observe`` on the write itself: the only
        batch-wide figures a commit needs. A violating batch has its
        files removed and aborts before the manifest commit.

        The directory is unique PER ATTEMPT (v{N}-{token}), not per
        version: optimistic concurrency is decided later by the
        manifest's exclusive create, and data files land before that
        race is resolved — a deterministic per-version path would let
        the losing writer overwrite the winner's already-committed
        files. With unique paths the loser's files are orphans
        (collected by expire_versions); the manifest records the real
        paths."""
        from pyspark.sql import Observation

        data_dir = os.path.join(self.root, area, f"v{version}-{uuid.uuid4().hex[:8]}")
        ordered = [F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields]
        out_df = df.select(F.col(_BUCKET), *ordered)
        if not pre_partitioned:
            out_df = out_df.repartition(m["n_buckets"], F.col(_BUCKET))
        sort_cols = [c for c in m.get("sort_cols", []) if c in schema.names]
        if sort_cols:
            out_df = out_df.sortWithinPartitions(_BUCKET, *sort_cols)
        cons = list(m.get("constraints", {}).items())
        dead = F.coalesce(F.col(_DELETED), F.lit(False))
        checks = [
            F.sum(((~F.coalesce(F.expr(e), F.lit(True))) & ~dead).cast("long")).alias(f"viol{i}")
            for i, (_n, e) in enumerate(cons)
        ]
        if refuse_deletes:
            checks.append(F.sum(dead.cast("long")).alias("n_del"))
        obs = Observation() if checks else None
        if obs is not None:
            out_df = out_df.observe(obs, *checks)
        self._apply_write_options(out_df.write, m).partitionBy(_BUCKET).mode(
            "overwrite"
        ).parquet(data_dir)
        out = _footer_stats(data_dir, schema, m["seq_col"], sort_cols)
        if obs is not None and out:  # no files: no rows, nothing to check
            got = obs.get
            violations = {n: got[f"viol{i}"] for i, (n, _e) in enumerate(cons) if got[f"viol{i}"]}
            if violations:
                shutil.rmtree(data_dir, ignore_errors=True)
                raise ConstraintViolationError(
                    f"CHECK constraint(s) violated, commit aborted: "
                    f"{violations} (rows per constraint)"
                )
            if refuse_deletes and got["n_del"]:
                shutil.rmtree(data_dir, ignore_errors=True)
                raise ValueError(
                    f"append-only table refuses deletes ({got['n_del']} delete "
                    "events in batch); use write_mode=mor/cow for CDC keys"
                )
        return out

    def _apply_write_options(self, writer, m: dict):
        """Per-column parquet bloom filters for the manifest's
        ``bloom_cols`` — row-group skipping for point lookups — and
        ``target_file_rows``: cap rows per output file so one bucket
        rewrite emits size-bounded files instead of one monolith. At
        100 TB a hot bucket's single parquet file outgrows what a
        task should scan (or a shuffle-free re-read can parallelize
        over); maxRecordsPerFile splits it at write time with no extra
        shuffle, and every read path already globs the bucket DIR, so
        multi-file buckets need no manifest change (Delta/Iceberg
        target-file-size analog, row-count-based because the engine
        never sees encoded bytes until after the write)."""
        for c in m.get("bloom_cols", []):
            writer = writer.option(f"parquet.bloom.filter.enabled#{c}", "true")
        tfr = m.get("properties", {}).get("target_file_rows")
        if tfr:
            writer = writer.option("maxRecordsPerFile", int(tfr))
        return writer

    def _commit(self, new_manifest: dict) -> int:
        v = new_manifest["version"]
        # exclusive create: loses cleanly (CommitConflictError) if a
        # concurrent writer claimed version v first; CURRENT then
        # flips only after the manifest is durable (index-last commit).
        # The flip is the shared locked forward-only one so it cannot
        # race recovery's roll-forward into a CURRENT regression.
        _atomic_create(os.path.join(self._meta_dir, f"v{v}.json"), json.dumps(new_manifest))
        _flip_forward(self._meta_dir, v)
        return v

    # ---------- MERGE ----------

    def merge_cdc(
        self,
        source: DataFrame,
        op_col: str = "op",
        seq_col_src: str = "seq",
        epoch=None,
        extra_manifest: dict | None = None,
    ) -> dict:
        """Apply a staged CDC batch: latest-wins by seq, deletes drop.

        ``source`` columns: the table's user columns (any legal
        evolution thereof) + ``op`` + ``seq``. Must already be
        deduplicated to one row per key (etl_spark.cdc.replay does
        that); re-deduplication here is still safe because max_by is
        deterministic on unique seq.

        Returns stats {version, epoch, skipped, dirty_buckets,
        rows_written}. Idempotent per epoch (manifest fence) AND per
        content (re-merging the same rows yields the same state —
        at-least-once delivery + idempotent apply = exactly-once
        effect, the reference's checksum-fence contract).
        """
        m = self.manifest()
        if epoch is not None and str(epoch) in m.get("epochs", {}):
            return {"version": m["version"], "epoch": epoch, "skipped": True}

        # m is this commit's one manifest snapshot: every helper below
        # takes it instead of re-reading the current version
        seq = m["seq_col"]
        internal = {seq, _DELETED, _CV}
        # --- schema evolution (add/widen) from the staged batch ---
        incoming_user = T.StructType(
            [f for f in source.schema.fields if f.name not in (op_col, seq_col_src) and f.name not in internal]
        )
        cur_schema = T.StructType.fromJson(m["schemas"][m["current_schema_id"]])
        cur_user = T.StructType([f for f in cur_schema.fields if f.name not in internal])
        new_user, changed = evolve(cur_user, incoming_user)
        new_schema = T.StructType(
            list(new_user.fields)
            + [T.StructField(seq, T.LongType(), True),
               T.StructField(_DELETED, T.BooleanType(), True),
               T.StructField(_CV, T.LongType(), True)]
        )
        schemas = list(m["schemas"])
        if changed:
            schemas.append(new_schema.jsonValue())
            sid = len(schemas) - 1
        else:
            new_schema = cur_schema
            sid = m["current_schema_id"]

        # --- stage: align source to table schema, find dirty buckets ---
        src = source.withColumn(seq, F.col(seq_col_src).cast("long")).withColumn(
            _DELETED, F.lower(F.col(op_col)) == F.lit("delete")
        )
        aligned = [
            (F.col(f.name).cast(f.dataType) if f.name in src.columns
             else F.lit(None).cast(f.dataType)).alias(f.name)
            for f in new_schema.fields
        ]
        # NOT persisted: the batch is consumed twice (dirty-bucket
        # discovery, then the resolve union), but discovery prunes to
        # the key columns only (a cheap scan), while caching the full
        # payload (content strings) measurably thrashes the heap.
        src = src.select(*aligned).withColumn(_BUCKET, self._bucket_expr(m["key_cols"], m))
        # commit-version stamp: staged rows carry the version this merge
        # will commit; target rows keep theirs. The latest-wins window
        # keeps whole rows, so the winner's stamp rides along for free —
        # a row's _cv > V  <=>  its state changed after version V.
        src = src.withColumn(_CV, F.lit(m["version"] + 1).cast("long"))
        src, n_quar = self._screen_quarantine(m, src)
        if m.get("write_mode", "cow") in ("mor", "append"):
            out = self._merge_mor(m, src, new_schema, schemas, sid, epoch, extra_manifest)
        else:
            out = self._merge_resolve(m, src, new_schema, schemas, sid, epoch, extra_manifest)
        if n_quar:
            out = {**out, "rows_quarantined": n_quar}
        return out

    def _screen_quarantine(self, m: dict, src: DataFrame):
        """on_violation='quarantine': split the staged batch — live
        rows failing any CHECK constraint land in the quarantine area
        (with a ``_violated`` column naming the failed constraints),
        the clean remainder proceeds to the merge. One extra O(batch)
        pass, paid only by tables that opted in. Quarantine files are
        diagnostic side output, not table state: a retried merge may
        re-quarantine the same rows (at-least-once), and expire/GC
        never touches the area — triage and clean it explicitly."""
        cons = m.get("constraints", {})
        if not cons or m.get("on_violation", "abort") != "quarantine":
            return src, 0
        live = ~F.coalesce(F.col(_DELETED), F.lit(False))
        viol = F.lit(False)
        for e in cons.values():
            viol = viol | (~F.coalesce(F.expr(e), F.lit(True)))
        bad = live & viol
        failed = F.array_compact(F.array(*[
            F.when(~F.coalesce(F.expr(e), F.lit(True)), F.lit(n))
            for n, e in cons.items()
        ]))
        qdir = os.path.join(
            self.root, "_quarantine", f"v{m['version'] + 1}-{uuid.uuid4().hex[:8]}"
        )
        src.filter(bad).withColumn("_violated", failed).drop(_BUCKET).write.mode(
            "overwrite"
        ).parquet(qdir)
        n = int(self.spark.read.parquet(qdir).count())  # footer-only count
        if n == 0:
            shutil.rmtree(qdir, ignore_errors=True)
            return src, 0
        return src.filter(~bad), n

    def quarantined(self) -> DataFrame:
        """Everything the quarantine screen has routed aside (user
        columns + ``_violated``); empty DataFrame when nothing ever
        violated."""
        qroot = os.path.join(self.root, "_quarantine")
        dirs = (
            [os.path.join(qroot, d) for d in sorted(os.listdir(qroot))]
            if os.path.isdir(qroot) else []
        )
        if not dirs:
            schema = T.StructType(
                list(self.schema().fields)
                + [T.StructField("_violated", T.ArrayType(T.StringType()), True)]
            )
            return self.spark.createDataFrame([], schema)
        # mergeSchema: quarantine batches written before a schema
        # evolution carry fewer columns — without it Spark keys the
        # union off whichever directory it samples first and silently
        # drops columns that exist only in newer batches, hiding data
        # from triage
        return self.spark.read.option("mergeSchema", "true").parquet(*dirs)

    def clear_quarantine(self) -> int:
        """Drop everything in the quarantine area after triage (the
        rows were never table state, so no commit is involved).
        Returns the number of rows removed."""
        n = int(self.quarantined().count())
        shutil.rmtree(os.path.join(self.root, "_quarantine"), ignore_errors=True)
        return n

    def _merge_mor(self, m, src, new_schema, schemas, sid, epoch, extra_manifest) -> dict:
        """Merge-on-read ingest: dedup the batch (one shuffle), apply
        derived columns to batch winners, append the result as a
        bucket-partitioned DELTA — the target is never read, so a
        batch costs O(batch), not O(table). Readers resolve
        base+deltas by seq; ``compact()`` folds deltas into the base."""
        seq, keys = m["seq_col"], m["key_cols"]
        append_only = m.get("write_mode", "cow") == "append"
        part = src.repartition(m["n_buckets"], *[F.col(k) for k in keys])
        # append mode skips the latest-wins resolve entirely: no sort,
        # no window — the one repartition (bucket placement/locality)
        # is the batch's only wide transform
        kept = part if append_only else self._resolve_latest(part, seq, keys)
        live = ~F.coalesce(F.col(_DELETED), F.lit(False))
        for dst, (fn, srccol) in m.get("derived", {}).items():
            if fn != "sha256":
                raise ValueError(f"unknown derived fn: {fn}")
            if dst in kept.columns and srccol in kept.columns:
                kept = kept.withColumn(
                    dst,
                    F.when(live & F.col(dst).isNull() & F.col(srccol).isNotNull(),
                           F.sha2(F.col(srccol), 256)).otherwise(F.col(dst)),
                )
        v = m["version"] + 1
        # per-bucket seq stats and (with sort_cols) per-file ranges come
        # from the delta's footers, so ingest stays O(batch); in append
        # mode (no read-time resolve) `read(filters=...)` prunes delta
        # files with those ranges. The write refuses deletes in append
        # mode: reads never resolve, so a tombstone would silently vanish.
        out = self._write_buckets(
            kept, v, new_schema, m=m, pre_partitioned=True, area="delta",
            refuse_deletes=append_only,
        )
        # a delta entry counts every row it holds (tombstones included)
        # and every delta row is new, so max_cv == v
        for ent in out.values():
            n = ent.pop("rows") + ent.pop("tombstones")
            if "max_seq" in ent:
                ent["rows"] = n
            ent["max_cv"] = v
        bmx = max((e["max_seq"] for e in out.values() if "max_seq" in e), default=None)
        m2 = {
            **m,
            "version": v,
            "parent": m["version"],
            "schemas": schemas,
            "current_schema_id": sid,
            "max_seq": _max_opt(m.get("max_seq"), bmx),
            "deltas": [*m.get("deltas", []), {"sid": sid, "buckets": out}],
            "epochs": {**m.get("epochs", {}), **({str(epoch): v} if epoch is not None else {})},
            "committed_at": time.time(),
            **(extra_manifest or {}),
        }
        self._commit(m2)
        return {"version": v, "epoch": epoch, "skipped": False,
                "mode": m.get("write_mode", "mor"),
                "delta_buckets": sorted(int(b) for b in out)}

    def compact(self, max_restarts: int = 5) -> int:
        """Fold deltas into the base (the deferred COW merge) —
        PARTIALLY: only buckets some delta actually touches are
        resolved and rewritten; every other base bucket is carried
        forward by manifest pointer. A long-running MOR stream whose
        deltas concentrate on hot buckets compacts in O(touched
        buckets), not O(table) — the same dirty-bucket economics as
        the COW merge itself. Readers before/after see identical data.

        REBASE-COMMIT (round 5 — stall-free out-of-band maintenance):
        the fold runs against a PINNED snapshot (the manifest observed
        at entry), and the commit only re-points manifests. Deltas a
        concurrent streaming writer appended while the fold ran simply
        STAY deltas in the committed manifest (the fold never saw
        them), and losing a version race costs one manifest re-read +
        re-create — never a recompute. Without this, compact racing a
        hot committer livelocks: every lost race redid the full
        O(touched buckets) fold (observed in the 10M drain bench's
        sidecar, delta depth 20 with one landed compaction). The fold
        IS redone (bounded by ``max_restarts``) only when the base
        itself moved underneath — another compact, rebucket, restore,
        or merge_from — detected by bucket-pointer / delta-prefix
        comparison against the snapshot."""
        for _ in range(max_restarts):
            m0 = self.manifest()
            deltas0 = m0.get("deltas", [])
            if not deltas0:
                return m0["version"]
            n0 = len(deltas0)
            touched = {int(b) for d in deltas0 for b in d["buckets"]}
            resolved = self._scan(
                m0, buckets=touched, include_tombstones=True
            ).withColumn(_BUCKET, self._bucket_expr(m0["key_cols"], m0))
            schema = T.StructType.fromJson(m0["schemas"][m0["current_schema_id"]])
            written = self._write_buckets(resolved, m0["version"] + 1, schema, m=m0)
            for ent in written.values():
                ent["sid"] = m0["current_schema_id"]
            while True:
                mc = self.manifest()
                if (mc.get("buckets") != m0.get("buckets")
                        or mc.get("deltas", [])[:n0] != deltas0):
                    break  # base moved (another compact/rebucket/restore): refold
                new_buckets = dict(mc["buckets"])
                for b in touched:
                    new_buckets.pop(str(b), None)  # may end all-deleted
                new_buckets.update(written)
                m2 = {**mc, "version": mc["version"] + 1, "parent": mc["version"],
                      "buckets": new_buckets,
                      "deltas": list(mc.get("deltas", []))[n0:],
                      "committed_at": time.time(), "note": "compact"}
                try:
                    return self._commit(m2)
                except CommitConflictError:
                    continue  # manifest-only retry: re-read, re-point
        raise CommitConflictError(
            f"compact: base moved {max_restarts} times under the fold "
            f"(concurrent compact/rebucket?) at {self.root}"
        )

    def _merge_resolve(self, m, src, new_schema, schemas, sid, epoch, extra_manifest) -> dict:
        seq, keys = m["seq_col"], m["key_cols"]
        # one pruned scan discovers the dirty buckets AND the batch's
        # max seq (collect_set is bounded by n_buckets) — the manifest
        # tracks max_seq so upsert() never scans the table for it
        probe = src.agg(
            F.collect_set(F.col(_BUCKET)).alias("bs"), F.max(F.col(seq)).alias("mx")
        ).first()
        dirty = {int(b) for b in probe["bs"]}
        max_seq = _max_opt(m.get("max_seq"), probe["mx"])
        if not dirty:
            # empty batch: still record the epoch (fence) without data IO
            v = m["version"] + 1
            m2 = {**m, "version": v, "parent": m["version"], "max_seq": max_seq,
                  "epochs": {**m.get("epochs", {}), **({str(epoch): v} if epoch is not None else {})},
                  "committed_at": time.time(), **(extra_manifest or {})}
            self._commit(m2)
            return {"version": v, "epoch": epoch, "skipped": False,
                    "dirty_buckets": [], "rows_written": 0}

        # --- resolve: union target-dirty + staged, latest seq wins.
        # Tombstones ride along: a delete winner stays as a hidden row
        # (carrying its seq) so older out-of-order events can't resurrect
        # the key; reads filter them out.
        tgt_raw = self._scan(m, buckets=dirty, include_tombstones=True)
        target = tgt_raw.select(
            *[
                (F.col(f.name).cast(f.dataType) if f.name in tgt_raw.columns
                 else F.lit(None).cast(f.dataType)).alias(f.name)
                for f in new_schema.fields
            ]
        ).withColumn(_BUCKET, self._bucket_expr(keys, m))
        all_cols = [f.name for f in new_schema.fields] + [_BUCKET]
        union = target.select(*all_cols).unionByName(src.select(*all_cols))
        # latest-wins via ONE key-hash shuffle + Tungsten binary sort:
        # repartition(n_buckets, keys) both clusters each key (so the
        # window needs no further exchange — HashPartitioning on the
        # keys satisfies its distribution) and places every row in the
        # partition that IS its output bucket (see _bucket_of), so
        # the bucketed write below shuffles nothing. Catalyst turns the
        # rn=1 filter into WindowGroupLimit (top-1 per key during the
        # sort). A max_by(struct) aggregate computes the same thing but
        # via ObjectHashAggregate heap buffers — measured to GC-thrash
        # and anti-scale beyond ~8 threads on wide string payloads.
        # Alternative considered and measured: omitting the repartition
        # makes Spark insert a PARTIAL WindowGroupLimit below its own
        # exchange (map-side top-1 = built-in salting), but that costs
        # a full map-side sort — net slower at typical ~4 events/key,
        # and the explicit plan already absorbs a 50%-hot-key batch
        # (one reducer sorts it; measured no slowdown). For extreme
        # skew beyond that, apply_batch(salted=True) pre-shrinks hot
        # keys with the two-phase salted reduction.
        from pyspark.sql import Window

        part = union.repartition(m["n_buckets"], *[F.col(k) for k in keys])
        w = Window.partitionBy(*keys).orderBy(F.desc(seq))
        kept = (
            part.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        # derived columns (e.g. content checksums) are computed for
        # WINNER rows only — with the fused raw-event merge this does
        # ~1/events-per-key the hashing of a stage-then-merge design
        live = ~F.coalesce(F.col(_DELETED), F.lit(False))
        for dst, (fn, srccol) in m.get("derived", {}).items():
            if fn != "sha256":
                raise ValueError(f"unknown derived fn: {fn}")
            if dst in kept.columns and srccol in kept.columns:
                kept = kept.withColumn(
                    dst,
                    F.when(
                        live & F.col(dst).isNull() & F.col(srccol).isNotNull(),
                        F.sha2(F.col(srccol), 256),
                    ).otherwise(F.col(dst)),
                )

        # --- write only dirty buckets; carry the rest forward ---
        v = m["version"] + 1
        written = self._write_buckets(kept, v, new_schema, m=m, pre_partitioned=True)
        for ent in written.values():
            ent["sid"] = sid
        new_buckets = dict(m["buckets"])
        for b in dirty:
            new_buckets.pop(str(b), None)  # a dirty bucket may end empty (all deleted)
        new_buckets.update(written)

        m2 = {
            **m,
            "version": v,
            "parent": m["version"],
            "schemas": schemas,
            "current_schema_id": sid,
            "buckets": new_buckets,
            "max_seq": max_seq,
            "epochs": {**m.get("epochs", {}), **({str(epoch): v} if epoch is not None else {})},
            "committed_at": time.time(),
            **(extra_manifest or {}),
        }
        self._commit(m2)
        return {
            "version": v,
            "epoch": epoch,
            "skipped": False,
            "dirty_buckets": sorted(dirty),
            "rows_written": sum(e["rows"] for e in written.values()),
        }

    def merge_cdc_with_retry(self, source: DataFrame, max_retries: int = 3, **kw) -> dict:
        """Optimistic-concurrency loop: on CommitConflictError re-read
        the (now newer) CURRENT and re-apply the merge against it.
        Safe because (a) each attempt writes to a unique data dir (the
        loser's files are orphans, never clobbering the winner's) and
        (b) the merge itself is idempotent per epoch/content. This is
        the retry contract Iceberg commits document; the epoch fence
        makes a retried-but-actually-committed epoch a no-op.
        Manifest re-read happens inside merge_cdc; the shared loop
        adds randomized backoff so racing writers de-synchronize."""
        return with_conflict_retry(lambda: self.merge_cdc(source, **kw), max_retries)

    def upsert(self, source: DataFrame, epoch=None) -> dict:
        """Generic keyed upsert (source wins; no deletes) — the
        reference's upsert_table semantics (etl/grapher_import.py:186-306)
        without CDC ordering: rows get seq = max(existing)+1.

        max(existing) comes from the manifest's ``max_seq`` (O(1),
        maintained by every merge commit) — never a table scan. Tables
        created before max_seq existed fall back to one full scan
        INCLUDING tombstones (a tombstone may hold the max seq; the
        new row must outrank it) and the result is then persisted by
        the merge commit."""
        m = self.manifest()
        cur_max = m.get("max_seq")
        if cur_max is None and (m["buckets"] or m.get("deltas")):
            cur_max = (
                self.read(include_tombstones=True).agg(F.max(self.seq_col)).first()[0]
            )
        base = (cur_max or 0) + 1
        src = source.withColumn("op", F.lit("upsert")).withColumn("seq", F.lit(base).cast("long"))
        return self.merge_cdc(src, epoch=epoch)

    def delete_where(self, condition) -> int:
        """DELETE FROM ... WHERE — rewrite of affected buckets only."""
        return self._rewrite_without(
            ~F.coalesce(F.col(_DELETED), F.lit(False)) & condition, "delete_where")

    def _rewrite_without(self, drop, note: str) -> int:
        """Commit the table minus every physical row (tombstones
        included) for which ``drop`` is TRUE, rewriting only the
        buckets that hold such a row: one distinct bucket-id probe,
        then the dirty buckets' rewrite."""
        if self.manifest().get("deltas"):
            self.compact()  # bucket-level rewrite needs a delta-free base
        m = self.manifest()
        keys = m["key_cols"]
        drop = F.coalesce(drop, F.lit(False))
        dirty = {
            int(r["b"]) for r in
            self._scan(m, include_tombstones=True).filter(drop)
            .select(self._bucket_expr(keys, m).alias("b")).distinct().collect()
        }
        if not dirty:
            return m["version"]
        keep = self._scan(m, buckets=dirty, include_tombstones=True).filter(~drop)
        v = m["version"] + 1
        schema = T.StructType.fromJson(m["schemas"][m["current_schema_id"]])
        written = self._write_buckets(
            keep.withColumn(_BUCKET, self._bucket_expr(keys, m)), v, schema, m=m)
        for ent in written.values():
            ent["sid"] = m["current_schema_id"]
        new_buckets = {b: e for b, e in m["buckets"].items() if int(b) not in dirty}
        new_buckets.update(written)
        m2 = {**m, "version": v, "parent": m["version"], "buckets": new_buckets,
              "committed_at": time.time(), "note": note}
        return self._commit(m2)

    def clone(self, dst_root: str, version: int | None = None) -> "LakeTable":
        """Zero-copy shallow clone (Delta SHALLOW CLONE analog): the
        snapshot's manifest is copied to ``dst_root`` with ABSOLUTE
        data paths still pointing at the source's files — no data
        moves, however large the table. Reads share storage; every
        write into the clone lands under the clone's own root, so the
        two tables diverge copy-on-write. Version numbering carries
        over (the clone starts at the source's version, not 0) — the
        ``_cv`` stamps in shared files stay consistent with version
        arithmetic, so ``changes_since`` on the clone is sound across
        the clone point.

        The clone inherits the source's epoch fences: it genuinely
        contains those epochs' data, so replaying the same WAL into
        the clone skips already-applied batches exactly like the
        source would — a cloned ingest pipeline resumes, not
        re-applies.

        Retention: the cloned version is automatically PINNED on the
        source (pin name recorded in the clone's manifest under
        ``cloned_from``) so the source's ``expire_versions`` cannot
        reclaim files the clone still references. Dropping the clone
        should ``unpin`` that name. The clone's own expire/maintenance
        only ever sweeps dirs under the clone's root — it can never
        touch source storage."""
        v = self.current_version() if version is None else int(version)
        if LakeTable.exists(dst_root):
            raise ValueError(f"clone target already exists: {dst_root}")
        m = dict(self.manifest(v))
        # pin name carries a hash of the clone's ABSOLUTE root (same
        # scheme as incremental._consumer_pin): two clones whose dst
        # roots share a basename (mkdtemp()+'/t' patterns) must hold
        # two independent pins, or the second clone re-points the
        # first's and source expiry reclaims files it still reads
        import hashlib

        dst_abs = os.path.abspath(dst_root)
        pin_name = (
            f"clone:{os.path.basename(dst_abs)}:"
            f"{hashlib.sha256(dst_abs.encode()).hexdigest()[:10]}"
        )
        self.pin(pin_name, v)

        def _abs(buckets: dict) -> dict:
            return {b: {**ent, "path": os.path.abspath(ent["path"])}
                    for b, ent in buckets.items()}

        m["buckets"] = _abs(m["buckets"])
        m["deltas"] = [{**d, "buckets": _abs(d["buckets"])} for d in m.get("deltas", [])]
        m["cloned_from"] = {
            "root": os.path.abspath(self.root), "version": v, "pin": pin_name,
        }
        m["committed_at"] = time.time()
        t = LakeTable(self.spark, dst_root)
        os.makedirs(t._meta_dir, exist_ok=True)
        _atomic_write(os.path.join(t._meta_dir, f"v{v}.json"), json.dumps(m))
        _atomic_write(os.path.join(t._meta_dir, "CURRENT"), str(v))
        return t

    def restore(self, version: int, epoch=None) -> dict:
        """Roll the table back to snapshot ``version`` AS A CHANGE —
        a compensating merge, not a pointer flip. Delta-style
        metadata-only RESTORE (point CURRENT's manifest at the old
        files) would silently break every incremental consumer:
        restored files carry their original ``_cv`` stamps, so
        ``changes_since(v)`` max_cv-prunes them and a downstream sync
        never converges to the rolled-back state. Instead the diff
        between the current and target snapshots is computed
        (O(changed buckets): both sides restricted to buckets the
        manifests prove changed) and applied through the normal merge
        path with fresh seq/_cv stamps: keys that changed or died are
        upserted back to their old values, keys created since are
        tombstoned. The change feed, epoch fences, retention pins and
        downstream syncs all stay sound because the restore IS an
        ordinary change batch. Columns added since ``version``
        (widen-only evolution is irreversible) are NULLed on restored
        rows. Reference analog: re-running an old snapshot's step to
        overwrite a bad publish (etl/command.py force path) — here as
        one keyed diff instead of a full rebuild."""
        m_cur = self.manifest()
        m_old = self.manifest(version)  # ExpiredVersionError past horizon
        if m_old["version"] == m_cur["version"]:
            return {"version": m_cur["version"], "skipped": True, "rows_written": 0}
        changed = self._changed_buckets(m_old, m_cur)
        if not changed:
            return {"version": m_cur["version"], "skipped": True, "rows_written": 0}
        same_layout = m_old["n_buckets"] == m_cur["n_buckets"]
        # with a rebucket in between, bucket ids are not comparable
        # across versions -> diff the full snapshots on both sides
        restrict = changed if same_layout else None
        keys = m_cur["key_cols"]
        user = [f.name for f in self._user_fields(m_cur)]
        cur_types = {f.name: f.dataType for f in self._user_fields(m_cur)}
        old_cols = {f.name for f in T.StructType.fromJson(
            m_old["schemas"][m_old["current_schema_id"]]).fields}
        align_old = [
            (F.col(c).cast(cur_types[c]) if c in old_cols
             else F.lit(None).cast(cur_types[c])).alias(c)
            for c in user
        ]
        o_df = self.read(version=m_old["version"], buckets=restrict).select(*align_old)
        c_df = self.read(buckets=restrict).select(*user)
        diff = _state_diff(o_df, c_df, keys, user)
        cur_max = m_cur.get("max_seq")
        if cur_max is None and (m_cur["buckets"] or m_cur.get("deltas")):
            cur_max = (
                self.read(include_tombstones=True).agg(F.max(self.seq_col)).first()[0]
            )
        diff = diff.withColumn("seq", F.lit((cur_max or 0) + 1).cast("long"))
        return self.merge_cdc(
            diff, epoch=epoch,
            extra_manifest={"restored_from": int(m_old["version"])},
        )

    def merge_from(self, other: "LakeTable", epoch=None) -> dict:
        """Write-audit-publish: make this table's user-visible state
        equal ``other``'s, as ONE keyed diff merge. The WAP workflow
        this enables: ``clone()`` prod -> merge the candidate batch
        into the clone -> audit the clone (uniqueness, domains, row
        counts, frame_diff) -> ``prod.merge_from(clone)`` publishes
        exactly the audited state atomically. Because the publish is
        an ordinary change batch (fresh seq/_cv stamps), prod's change
        feed, epoch fences and downstream incremental syncs all stay
        sound — unlike an Iceberg branch fast-forward, consumers need
        no special handling.

        Cost is O(differing buckets) when both tables share a bucket
        layout: buckets whose base-file pointers are IDENTICAL (the
        clone's untouched buckets literally point at prod's files) are
        pruned by manifest compare alone; cross-table ``max_cv`` is
        never used (independent commit counters after divergence make
        it meaningless). Schema: the union of both tables' user
        columns, with the source's types for shared names — source-side
        adds/widens evolve this table transactionally with the merge;
        columns only this table has are NULLed on rows the publish
        touches."""
        m_cur = self.manifest()
        m_src = other.manifest()
        if m_src["key_cols"] != m_cur["key_cols"]:
            raise ValueError(
                f"merge_from requires identical key_cols: "
                f"{m_cur['key_cols']} vs {m_src['key_cols']}"
            )
        restrict = None
        if m_cur["n_buckets"] == m_src["n_buckets"]:
            base_cur = {b: e["path"] for b, e in m_cur["buckets"].items()}
            base_src = {b: e["path"] for b, e in m_src["buckets"].items()}
            changed = {
                int(b) for b in set(base_cur) | set(base_src)
                if base_cur.get(b) != base_src.get(b)
            }
            for m in (m_cur, m_src):
                for d in m.get("deltas", []):
                    changed |= {int(b) for b in d["buckets"]}
            if not changed:
                return {"version": m_cur["version"], "skipped": True,
                        "rows_written": 0, "buckets_compared": 0}
            restrict = changed
        keys = m_cur["key_cols"]
        src_fields = other._user_fields(m_src)
        cur_fields = self._user_fields(m_cur)
        src_names = {f.name for f in src_fields}
        cur_names = {f.name for f in cur_fields}
        user_fields = list(src_fields) + [f for f in cur_fields if f.name not in src_names]
        user = [f.name for f in user_fields]
        types = {f.name: f.dataType for f in user_fields}

        def _align(present: set) -> list:
            return [
                (F.col(c).cast(types[c]) if c in present
                 else F.lit(None).cast(types[c])).alias(c)
                for c in user
            ]

        o_df = other.read(buckets=restrict).select(*_align(src_names))
        c_df = self.read(buckets=restrict).select(*_align(cur_names))
        diff = _state_diff(o_df, c_df, keys, user)
        if diff.isEmpty():
            return {"version": m_cur["version"], "skipped": True, "rows_written": 0,
                    "buckets_compared": (len(restrict) if restrict is not None
                                         else int(m_cur["n_buckets"]))}
        cur_max = m_cur.get("max_seq")
        if cur_max is None and (m_cur["buckets"] or m_cur.get("deltas")):
            cur_max = (
                self.read(include_tombstones=True).agg(F.max(self.seq_col)).first()[0]
            )
        diff = diff.withColumn("seq", F.lit((cur_max or 0) + 1).cast("long"))
        res = self.merge_cdc(
            diff, epoch=epoch,
            extra_manifest={"merged_from": {
                "root": os.path.abspath(other.root),
                "version": int(m_src["version"]),
            }},
        )
        # evidence for the O(differing buckets) contract: how many of
        # the table's buckets the diff actually had to scan
        res["buckets_compared"] = (
            len(restrict) if restrict is not None else int(m_cur["n_buckets"])
        )
        return res

    # ---------- changelog / incremental read ----------

    def _user_fields(self, m: dict) -> list[T.StructField]:
        internal = {m["seq_col"], _DELETED, _CV}
        cur = T.StructType.fromJson(m["schemas"][m["current_schema_id"]])
        return [f for f in cur.fields if f.name not in internal]

    def _changed_buckets(self, m_from: dict, m_to: dict) -> set[int]:
        """Buckets that can hold rows changed after ``m_from``'s
        version, decided from the two manifests alone (no data IO):
        a bucket whose base-file pointer is unchanged is untouched by
        construction; a rewritten bucket is pruned anyway when its
        ``max_cv`` stat proves every row it holds predates ``m_from``
        (so compaction/rebucket/purge rewrites don't defeat pruning).
        MOR deltas carry ``max_cv`` per entry and prune the same way."""
        v_from = m_from["version"]
        base_from = {b: ent["path"] for b, ent in m_from["buckets"].items()}
        same_layout = m_from["n_buckets"] == m_to["n_buckets"]
        changed: set[int] = set()
        for b, ent in m_to["buckets"].items():
            if same_layout and base_from.get(b) == ent["path"]:
                continue  # pointer-identical: provably untouched
            if ent.get("max_cv") is not None and ent["max_cv"] <= v_from:
                continue  # rewritten, but stats prove no newer row
            changed.add(int(b))
        for d in m_to.get("deltas", []):
            for b, ent in d["buckets"].items():
                if ent.get("max_cv") is not None and ent["max_cv"] <= v_from:
                    continue
                changed.add(int(b))
        return changed

    def _base_manifest(self, v_from: int, m_to: dict) -> dict:
        """Resolve the FROM manifest of a change-feed read. ``v_from==0``
        is synthesized as the empty base every table starts from
        (``create`` commits v0 with no buckets) instead of being read
        from disk — so the documented bootstrap path, and ``sync()``
        attaching a brand-new consumer (defaults to v_from=0), keep
        working after ``expire_versions`` removed v0's manifest file,
        and work on CLONES, whose version numbering starts at the
        clone point (v0 never existed). Every commit stamps ``_cv >=
        1``, so against the empty base every live row is a change —
        exactly the full-table bootstrap contract."""
        if int(v_from) == 0:
            return {"version": 0, "buckets": {}, "deltas": [],
                    "n_buckets": m_to["n_buckets"], "key_cols": m_to["key_cols"]}
        return self.manifest(v_from)

    def changes_since(self, v_from: int, v_to: int | None = None) -> DataFrame:
        """Change feed between two snapshots — the Delta-CDF / Iceberg
        changelog analog, and the edge that lets lake tables chain into
        incremental pipelines (see etl_spark.lake.incremental; the
        reference's step-DAG dirty propagation, etl/steps/__init__.py:419-435,
        re-expressed as data flow).

        Returns the NET change per key: user columns + seq +
        ``_change_type`` ('upsert' | 'delete'), one row per key whose
        state changed strictly after version ``v_from``. Soundness does
        NOT rely on seq ordering: every merge stamps the rows it
        changes with its commit version (``_cv``), so a late-arriving
        out-of-order event that still wins is detected even though its
        seq predates ``v_from``'s max_seq. Cost is O(changed buckets):
        untouched buckets are pruned by manifest pointer equality, and
        rewritten-but-unchanged buckets (compaction, rebucket) by their
        ``max_cv`` stat; the ``_cv > v_from`` row filter is pushed to
        the parquet scan.

        Delivery contract: at-least-once per key (a content-identical
        re-merge without an epoch fence can re-stamp a row); consumers
        dedup naturally by merging keyed on (key, seq). Physical
        removals (``delete_where``, ``purge_tombstones`` past the
        consumer's watermark) are maintenance operations and do NOT
        emit change rows — consume before purging, exactly like the
        streaming tombstone watermark."""
        m_to = self.manifest(v_to)
        # raises ExpiredVersionError past the horizon: expire_versions
        # deletes expired manifests, so a consumer that lagged beyond
        # retention fails FAST here (not later at scan time) and must
        # bootstrap from changes_since(0)
        m_from = self._base_manifest(v_from, m_to)
        changed = self._changed_buckets(m_from, m_to)
        user = self._user_fields(m_to)
        seq = m_to["seq_col"]
        if not changed:
            return self.spark.createDataFrame(
                [],
                T.StructType(user + [T.StructField(seq, T.LongType(), True),
                                     T.StructField("_change_type", T.StringType(), False)]),
            )
        df = self.read(version=m_to["version"], buckets=changed, include_tombstones=True)
        df = df.filter(F.col(_CV) > F.lit(v_from))
        dead = F.coalesce(F.col(_DELETED), F.lit(False))
        return df.select(
            *[F.col(f.name) for f in user],
            F.col(seq),
            F.when(dead, F.lit("delete")).otherwise(F.lit("upsert")).alias("_change_type"),
        )

    def changes(
        self,
        v_from: int,
        v_to: int | None = None,
        preimage_cols: list[str] | None = None,
    ) -> DataFrame:
        """Classified change feed: like ``changes_since`` but splits
        upserts into insert vs update_postimage and suppresses
        deletes of keys that were not live at ``v_from`` (re-deletes).
        Costs one extra keyed join — against the OLD snapshot restricted
        to the same changed buckets (bucket ids are comparable unless a
        rebucket happened in between, in which case the old side falls
        back to a full read).

        ``preimage_cols`` additionally carries the OLD value of the
        named columns as ``_pre_<col>`` (NULL for inserts) — what a
        consumer needs to RETRACT the previous contribution of a key,
        i.e. the input contract of incremental aggregate maintenance
        (etl_spark.lake.incremental.sync_agg)."""
        m_to = self.manifest(v_to)
        m_from = self._base_manifest(v_from, m_to)
        changed = self._changed_buckets(m_from, m_to)
        keys = m_to["key_cols"]
        new = self.changes_since(v_from, v_to)
        if int(v_from) == 0 or m_to.get("write_mode", "cow") == "append":
            # nothing was live at the empty base — and on append-only
            # tables nothing is EVER updated or deleted, and a re-seen
            # key is a new independent fact row, not an update — so in
            # both cases every change is an insert with a NULL preimage:
            # no old-snapshot read, no join
            types = {f.name: f.dataType for f in self._user_fields(m_to)}
            out = new.filter(F.col("_change_type") == "upsert").withColumn(
                "_change_type", F.lit("insert")
            )
            for c in preimage_cols or []:
                out = out.withColumn(f"_pre_{c}", F.lit(None).cast(types[c]))
            return out
        old_buckets = changed if m_from["n_buckets"] == m_to["n_buckets"] else None
        pre = preimage_cols or []
        old_live = self.read(version=v_from, buckets=old_buckets).select(
            *[F.col(k).alias(f"__k_{k}") for k in keys],
            F.lit(True).alias("__was_live"),
            *[F.col(c).alias(f"_pre_{c}") for c in pre],
        )
        # null-safe key join: key columns are not declared non-null
        # (derived tables legitimately key on nullable group values)
        import functools

        cond = functools.reduce(
            lambda a, b: a & b,
            [F.col(k).eqNullSafe(F.col(f"__k_{k}")) for k in keys],
        )
        j = new.join(old_live, cond, "left").drop(*[f"__k_{k}" for k in keys])
        was = F.coalesce(F.col("__was_live"), F.lit(False))
        kind = (
            F.when((F.col("_change_type") == "delete") & was, F.lit("delete"))
            .when((F.col("_change_type") == "upsert") & was, F.lit("update_postimage"))
            .when(F.col("_change_type") == "upsert", F.lit("insert"))
        )
        return (
            j.withColumn("_change_type", kind)
            .filter(F.col("_change_type").isNotNull())
            .drop("__was_live")
        )

    def read_since(self, seq_gt: int, version: int | None = None) -> DataFrame:
        """Seq-watermark scan: live rows with ``seq > seq_gt``, pruning
        every bucket (base and delta) whose ``max_seq`` stat proves it
        holds nothing newer — O(touched buckets) from the manifest
        alone, with the residual seq filter pushed to the parquet scan.
        This is the ordered-tail read (process events past a
        checkpoint); for change capture under out-of-order delivery use
        ``changes_since`` (commit-version based) instead."""
        m = self.manifest(version)
        keep: set[int] = set()
        for b, ent in m["buckets"].items():
            if ent.get("max_seq") is None or ent["max_seq"] > seq_gt:
                keep.add(int(b))
        for d in m.get("deltas", []):
            for b, ent in d["buckets"].items():
                if ent.get("max_seq") is None or ent["max_seq"] > seq_gt:
                    keep.add(int(b))
        df = self.read(version=m["version"], buckets=keep)
        return df.filter(F.col(m["seq_col"]) > F.lit(seq_gt))

    def backport_events(self, version: int | None = None) -> DataFrame:
        """The reverse path (the reference's backport,
        apps/backport/backport.py:35-70, re-imagined for CDC): emit a
        WAL-shaped event frame (user columns + op + seq) that, replayed
        through ``merge_cdc`` into an empty table, reproduces this
        snapshot EXACTLY — live rows become 'upsert' events at their
        winning seq, retained tombstones become 'delete' events at
        theirs (so out-of-order safety survives the round trip). This
        is how a table re-seeds an event log, bootstraps a replica, or
        migrates to a new layout through the normal ingest path."""
        m = self.manifest(version)
        raw = self.read(version=version, include_tombstones=True)
        user = self._user_fields(m)
        dead = F.coalesce(F.col(_DELETED), F.lit(False))
        return raw.select(
            *[F.col(f.name) for f in user],
            F.when(dead, F.lit("delete")).otherwise(F.lit("upsert")).alias("op"),
            F.col(m["seq_col"]).cast("long").alias("seq"),
        )

    # ---------- metadata (the reference's YAML metadata patching,
    # lib/catalog/owid/catalog/datasets.py:186-204, as table/column
    # properties committed atomically like any other version) ----------

    @property
    def properties(self) -> dict:
        return self.manifest().get("properties", {})

    def set_properties(self, **props) -> int:
        """Merge table properties in a new atomic version (data files
        untouched — a metadata-only commit)."""
        m = self.manifest()
        m2 = {**m, "version": m["version"] + 1, "parent": m["version"],
              "properties": {**m.get("properties", {}), **props},
              "committed_at": time.time(), "note": "set_properties"}
        return self._commit(m2)

    def column_docs(self) -> dict:
        return self.manifest().get("column_docs", {})

    def set_column_docs(self, **docs) -> int:
        """Per-column documentation/metadata (the VariableMeta analog),
        validated against the current schema."""
        m = self.manifest()
        names = {f["name"] for f in m["schemas"][m["current_schema_id"]]["fields"]}
        unknown = set(docs) - names
        if unknown:
            raise ValueError(f"no such columns: {sorted(unknown)}")
        m2 = {**m, "version": m["version"] + 1, "parent": m["version"],
              "column_docs": {**m.get("column_docs", {}), **docs},
              "committed_at": time.time(), "note": "set_column_docs"}
        return self._commit(m2)

    def patch_metadata_from_yaml(
        self, text: str, table_name: str | None = None,
        extra_variables: str = "raise",
    ) -> int:
        """The reference's .meta.yml sidecar patching applied to the
        lake (Table.update_metadata_from_yaml tables.py:447-490 +
        Dataset.update_metadata datasets.py:186-204): per-variable
        annotations merge into ``column_docs`` and table-level fields
        into ``properties``, in ONE metadata-only atomic commit — the
        patch is transactional with the table state exactly as the
        reference re-saves the dataset after patching. ``table_name``
        defaults to this table's directory name; unknown variables
        raise unless ``extra_variables="ignore"``. YAML anchors and
        ``<< name >>`` templates against a ``definitions:`` block are
        the reuse mechanisms (dynamic_yaml analog)."""
        from etl_spark.meta import load_yaml_annotations

        m = self.manifest()
        names = {f["name"] for f in m["schemas"][m["current_schema_id"]]["fields"]}
        col_annots, table_annot = load_yaml_annotations(
            text, table_name or os.path.basename(self.root), names, extra_variables
        )
        docs = dict(m.get("column_docs", {}))
        for c, annot in col_annots.items():
            docs[c] = {**docs.get(c, {}), **annot}
        m2 = {**m, "version": m["version"] + 1, "parent": m["version"],
              "column_docs": docs,
              "properties": {**m.get("properties", {}), **table_annot},
              "committed_at": time.time(), "note": "patch_metadata_from_yaml"}
        return self._commit(m2)

    def export_metadata_yaml(self, table_name: str | None = None) -> str:
        """Inverse of ``patch_metadata_from_yaml`` — the reference's
        ``etl-metadata-export`` (etl/metadata_export.py: dump a
        dataset's table + column metadata as a ``.meta.yml`` starting
        point for manual editing). Emits the exact document shape the
        patch accepts, so export → edit → patch round-trips. Columns
        without docs are emitted as empty stubs (the export exists to
        be filled in); engine-internal columns are omitted."""
        import yaml

        m = self.manifest()
        internal = {m["seq_col"], "_deleted", "_cv"}
        docs = m.get("column_docs", {})
        variables = {
            f["name"]: dict(docs.get(f["name"], {}))
            for f in m["schemas"][m["current_schema_id"]]["fields"]
            if f["name"] not in internal
        }
        t_annot: dict = {k: v for k, v in m.get("properties", {}).items()}
        t_annot["variables"] = variables
        doc = {"tables": {table_name or os.path.basename(self.root): t_annot}}
        return yaml.safe_dump(doc, sort_keys=False, allow_unicode=True)

    # ---------- maintenance ----------

    def rebucket(self, n_buckets: int) -> int:
        """Atomically rewrite the table with a new bucket count — the
        scale knob as a table grows (more buckets => smaller COW
        rewrite units and more write parallelism). One full rewrite;
        readers see old or new layout, never a mix (manifest flip).
        The write is the shared bucket write, so bloom_cols, sort_cols
        clustering, per-file ranges and CHECK constraints survive it."""
        if self.manifest().get("deltas"):
            self.compact()  # fold deltas before changing the layout
        m = self.manifest()
        mn = {**m, "n_buckets": n_buckets}  # the new layout
        schema = T.StructType.fromJson(m["schemas"][m["current_schema_id"]])
        df = self._scan(m, include_tombstones=True).withColumn(
            _BUCKET, self._bucket_expr(m["key_cols"], mn))
        v = m["version"] + 1
        out = self._write_buckets(df, v, schema, m=mn)
        for ent in out.values():
            ent["sid"] = m["current_schema_id"]
        m2 = {**mn, "version": v, "parent": m["version"], "buckets": out,
              "committed_at": time.time(), "note": f"rebucket->{n_buckets}"}
        return self._commit(m2)

    def purge_tombstones(self, watermark_seq: int) -> int:
        """Drop retained delete tombstones with seq <= watermark.

        Tombstones exist to defeat out-of-order replay of OLDER events
        (SURVEY.md hard part #1); once the WAL reader guarantees no
        event below ``watermark_seq`` can still arrive (e.g. the
        streaming checkpoint has passed it), they are dead weight and
        compaction may remove them. Rewrites only buckets that hold
        purgeable tombstones; a tombstone with a NULL seq is never
        purgeable."""
        return self._rewrite_without(
            F.col(_DELETED) & (F.col(self.seq_col) <= watermark_seq),
            f"purge_tombstones<={watermark_seq}",
        )

    def advise(
        self,
        compact_deltas_over: int = 8,
        tombstone_frac_over: float = 0.2,
        rebucket_rows_over: int = 50_000_000,
        expire_versions_over: int = 16,
    ) -> list[dict]:
        """Maintenance advisor — recommendations from the MANIFEST
        alone (no data IO): compact when the MOR delta chain is long,
        purge when retained tombstones dominate live rows, rebucket
        when the average bucket outgrows its COW rewrite budget,
        expire when the version chain holds many unreferenced data
        dirs. Each row: {action, reason}; apply with the corresponding
        method. The streaming driver's ``maintain_every`` automates
        the first two; this surfaces the same signals for batch
        operators."""
        m = self.manifest()
        out = []
        n_deltas = len(m.get("deltas", []))
        if n_deltas > compact_deltas_over:
            out.append({"action": "compact", "reason":
                        f"{n_deltas} read-time deltas (> {compact_deltas_over})"})
        live = sum(b.get("rows", 0) for b in m["buckets"].values())
        dead = sum(b.get("tombstones", 0) for b in m["buckets"].values())
        if live + dead and dead / (live + dead) > tombstone_frac_over:
            out.append({"action": "purge_tombstones", "reason":
                        f"{dead} tombstones vs {live} live rows "
                        f"({dead / (live + dead):.0%} > {tombstone_frac_over:.0%}); "
                        "pass the consumer watermark seq"})
        if m["buckets"]:
            avg = live / max(len(m["buckets"]), 1)
            if avg > rebucket_rows_over:
                out.append({"action": "rebucket", "reason":
                            f"avg {avg:.0f} live rows/bucket (> {rebucket_rows_over}); "
                            f"COW rewrite unit too large at {m['n_buckets']} buckets"})
        chain = 0
        v = m.get("parent")
        while v is not None:
            chain += 1
            try:
                v = self.manifest(v).get("parent")
            except FileNotFoundError:
                break
        if chain > expire_versions_over:
            out.append({"action": "expire_versions", "reason":
                        f"{chain} retained parent versions (> {expire_versions_over})"})
        return out

    def repair(self) -> int:
        """Roll CURRENT forward over complete manifests a crashed
        writer left unflipped (crash between the manifest's exclusive
        create and the CURRENT flip wedges every later writer into
        CommitConflictError on that claimed version — flipping is
        exactly the crashed writer's next instruction, so roll-forward
        is always correct). Returns the resulting CURRENT."""
        from etl_spark.lake.txn import repair

        return repair(self)

    def expire_versions(self, keep_last: int = 2, orphan_grace_sec: float = 3600.0) -> None:
        """Expire old versions: drop data/delta dirs (and manifest
        JSONs) only referenced by expired versions. Retained always:
        the last ``keep_last`` versions, tagged versions (a tag is a
        promise the snapshot stays readable), and PINNED versions —
        the per-consumer retention watermarks incremental syncs hold
        (``pin``/``pins``), so a lagging downstream's next
        ``changes(v_from)`` preimage read survives expiry.

        Expired manifests are deleted too, so the change feed's
        horizon is REAL: ``changes_since(v_from)`` on an expired
        v_from fails fast at the manifest read (ExpiredVersionError)
        instead of later at scan time with a missing path.

        Orphan grace window: a concurrent writer's data dir lands on
        disk BEFORE its manifest commit (_write_buckets), so a dir
        referenced by NO manifest is either a loser's abandoned
        attempt or an in-flight write about to be committed — the two
        are indistinguishable from the filesystem alone. Dirs
        referenced by some (expired) manifest are reclaimed
        immediately; never-referenced dirs are reclaimed only once
        older than ``orphan_grace_sec`` (Delta VACUUM's retention
        check, scoped to the uncommitted window). Grace must exceed
        the longest write-to-commit latency of any live writer."""
        cur = self.current_version()
        live: set[str] = set()
        keep_vs = set(range(max(0, cur - keep_last + 1), cur + 1))
        keep_vs.update(int(v) for v in self.tags().values())
        for p in self._pin_records():
            keep_vs.add(int(p["version"]))
            if p.get("onward"):
                # changelog-consumer watermark: everything from the
                # pin forward stays reclaimable-never (see pin())
                keep_vs.update(range(int(p["version"]), cur + 1))
        referenced: set[str] = set()  # dirs referenced by ANY manifest on disk

        def _dirs_of(m: dict, into: set) -> None:
            for ent in m["buckets"].values():
                into.add(os.path.dirname(ent["path"]))
            for d in m.get("deltas", []):
                for ent in d["buckets"].values():
                    into.add(os.path.dirname(ent["path"]))

        for fn in os.listdir(self._meta_dir):
            if fn.startswith("v") and fn.endswith(".json"):
                try:
                    v = int(fn[1:-5])
                except ValueError:
                    continue
                try:
                    m = self.manifest(v)
                except FileNotFoundError:
                    continue
                _dirs_of(m, referenced)
                if v > cur:
                    # a writer committed v(cur+1) AFTER our CURRENT read
                    # — under optimistic concurrency that commit is (or
                    # is about to become) live; treating it as expired
                    # would delete a just-committed version with zero
                    # grace. Newer-than-cur versions are always retained.
                    keep_vs.add(v)
                if v in keep_vs:
                    _dirs_of(m, live)
        now = time.time()
        for sub in ("data", "delta"):
            root = os.path.join(self.root, sub)
            if os.path.isdir(root):
                for d in os.listdir(root):
                    full = os.path.join(root, d)
                    if full in live:
                        continue
                    if full not in referenced:
                        try:
                            age = now - os.path.getmtime(full)
                        except OSError:
                            continue
                        if age < orphan_grace_sec:
                            continue  # possibly an in-flight write
                    shutil.rmtree(full, ignore_errors=True)
        # manifests of expired versions go last: data-dir removal above
        # never depends on them, and a crash in between leaves only
        # harmless extra manifests (re-run converges)
        for fn in os.listdir(self._meta_dir):
            if fn.startswith("v") and fn.endswith(".json"):
                try:
                    v = int(fn[1:-5])
                except ValueError:
                    continue
                if v not in keep_vs and v <= cur:  # > cur: committed after our CURRENT read
                    try:
                        os.remove(os.path.join(self._meta_dir, fn))
                    except FileNotFoundError:
                        pass


class LakeCatalog:
    """Folder-of-tables catalog (the reference's catalog-as-directory,
    lib/catalog/owid/catalog/catalogs.py:112-153, minus the feather
    index — manifests are the index)."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def table(self, name: str) -> LakeTable:
        return LakeTable(self.spark, os.path.join(self.root, name))

    def create_table(self, name: str, schema, key_cols, **kw) -> LakeTable:
        return LakeTable.create(self.spark, os.path.join(self.root, name), schema, key_cols, **kw)

    def exists(self, name: str) -> bool:
        return LakeTable.exists(os.path.join(self.root, name))

    def publish_dataset(self, tables, key_cols, **kw) -> dict:
        """Validated atomic multi-table publish — see
        etl_spark.lake.dataset.publish_dataset (the reference's
        create_dataset flow)."""
        from etl_spark.lake.dataset import publish_dataset

        return publish_dataset(self, tables, key_cols, **kw)

    def drop_table(self, name: str, force: bool = False) -> None:
        """DROP TABLE: delete the table's directory (data + metadata)
        after safety gates. Refused while retention pins exist — pins
        mark live consumers (clones, incremental syncs, stream feeds)
        whose reads would break when the files vanish — and while a
        transaction holds a prepared (claimed-but-unflipped) version.
        ``force=True`` overrides the pin gate (never the txn gate:
        dropping under an in-flight prepare corrupts the commit
        protocol, not just a consumer)."""
        root = os.path.join(self.root, name)
        if not LakeTable.exists(root):
            raise FileNotFoundError(f"no table {name!r} in {self.root}")
        t = LakeTable(self.spark, root)
        v = t.current_version() + 1
        while os.path.exists(os.path.join(t._meta_dir, f"v{v}.json")):
            with open(os.path.join(t._meta_dir, f"v{v}.json")) as f:
                if json.load(f).get("txn") is not None:
                    raise RuntimeError(
                        f"table {name!r} has a prepared transaction version "
                        f"v{v}; commit/abort it (or recover()) first"
                    )
            v += 1
        pins = t.pins()
        if pins and not force:
            raise RuntimeError(
                f"table {name!r} is pinned by consumers {sorted(pins)}; "
                "release them or pass force=True"
            )
        shutil.rmtree(root)

    def list_tables(self) -> list[str]:
        return sorted(
            d for d in os.listdir(self.root) if LakeTable.exists(os.path.join(self.root, d))
        )

    def clone_catalog(self, dst_root: str) -> "LakeCatalog":
        """Zero-copy dev catalog: shallow-clone every table into
        ``dst_root`` (see LakeTable.clone — metadata-only, CoW
        divergence, auto-pins on each source table). The unit a
        staging environment actually wants: a whole catalog snapshot
        to experiment against, costing one manifest copy per table
        regardless of data size."""
        dst = LakeCatalog(self.spark, dst_root)
        for name in self.list_tables():
            self.table(name).clone(os.path.join(dst_root, name))
        return dst

    def snapshot(self) -> dict[str, int]:
        """A consistent point-in-time handle over the whole catalog:
        {table: current_version} captured in one metadata pass. Pass
        to ``sql(..., at=snap)`` / ``register_views(at=snap)`` for
        repeatable reads across multiple queries — every table is
        read at its captured version no matter what commits land in
        between (versions are immutable; pin or keep_last must cover
        the snapshot's age, like any time-travel read)."""
        return {name: self.table(name).current_version() for name in self.list_tables()}

    def register_views(
        self,
        names: list[str] | None = None,
        at: dict[str, int] | None = None,
    ) -> list[str]:
        """Register each table's snapshot as a Spark temp view (name =
        table name) — the CURRENT version by default, or the versions
        captured by a ``snapshot()`` handle via ``at``. A view pins
        the manifest read at registration time — commits after that
        are invisible until the next ``register_views``/``sql`` call,
        so one registration gives a query a stable per-table snapshot
        set. Cost is one manifest read per table (metadata only); the
        data plan behind each view is the ordinary lazy ``read()``,
        so filters and projections a query applies still
        prune/pushdown like any DataFrame read."""
        out = []
        for name in names if names is not None else self.list_tables():
            v = at.get(name) if at is not None else None
            self.table(name).read(version=v).createOrReplaceTempView(name)
            out.append(name)
        return out

    def sql(self, query: str, at: dict[str, int] | None = None) -> DataFrame:
        """ANSI SQL over the catalog: every table is visible under its
        own name, reflecting the latest commit at call time — or, with
        ``at=catalog.snapshot()``, a consistent point-in-time view
        (repeatable read across queries). The reference's
        catalog-of-DataFrames surface
        (lib/catalog/owid/catalog/catalogs.py:112-153) exposed the
        Spark-native way, so users query lake tables exactly like any
        registered source (joins across tables, window functions, CTEs
        — the full Spark SQL dialect, optimized by Catalyst like the
        DataFrame API)."""
        self.register_views(at=at)
        return self.spark.sql(query)

    def begin(self, txn_id: str | None = None):
        """Open a multi-table atomic transaction (the reference's
        publish-a-whole-Dataset-as-one-unit contract,
        lib/catalog/owid/catalog/datasets.py:48-124 + etl/publish.py:
        99-176, lifted to the catalog). Usable as a context manager:
        commits on clean exit, aborts on exception. See
        etl_spark.lake.txn for the crash-safe commit protocol."""
        from etl_spark.lake.txn import CatalogTransaction

        return CatalogTransaction(self, txn_id)

    def recover(self, grace_sec: float = 3600.0) -> list[dict]:
        """Heal crashed commits: finish committed transactions' pending
        CURRENT flips, roll forward plain manifests a crashed
        single-table writer left above CURRENT, and (past the grace
        window) roll back prepared-but-never-committed transaction
        versions so their claimed version numbers stop blocking
        writers. Run at catalog open / on a schedule."""
        from etl_spark.lake.txn import recover

        return recover(self, grace_sec)

    def maintain_all(self, apply: bool = False, keep_last: int = 4, **advise_kw) -> list[dict]:
        """Catalog-wide maintenance sweep: run every table's
        manifest-only ``advise`` and (optionally) apply the SAFE
        subset — ``compact`` and ``expire_versions`` are applied when
        ``apply=True`` (both respect retention pins and the orphan
        grace window); ``purge_tombstones`` (needs the slowest
        consumer's watermark) and ``rebucket`` (needs a target bucket
        count) are surfaced but never auto-applied. Returns one row
        per recommendation: {table, action, reason, applied}. The
        per-table streaming driver automates its own table's upkeep
        (``maintain_every``); this is the operator's whole-catalog
        sweep for batch estates. The sweep heals first: crashed
        commits are rolled forward / rolled back (see ``recover``)
        before any advice is computed, so advice never reads a
        wedged table."""
        report = [
            {"table": a["table"], "action": a["action"],
             "reason": "crash recovery (lake/txn.py protocol)", "applied": True}
            for a in self.recover()
        ]
        for name in self.list_tables():
            t = self.table(name)
            for rec in t.advise(**advise_kw):
                row = {"table": name, **rec, "applied": False}
                if apply and rec["action"] == "compact":
                    t.compact()
                    row["applied"] = True
                elif apply and rec["action"] == "expire_versions":
                    t.expire_versions(keep_last=keep_last)
                    row["applied"] = True
                report.append(row)
        return report

    def info(self) -> DataFrame:
        """One row per table from the current manifests — the
        reference's catalog frame (`reindex`/`find`,
        lib/catalog/owid/catalog/catalogs.py:43-109) over this
        catalog: name, version, rows, layout and freshness. Queryable
        like any DataFrame (find == filter)."""
        rows = []
        for name in self.list_tables():
            t = self.table(name)
            m = t.manifest()
            rows.append((
                name, int(m["version"]),
                int(sum(b["rows"] for b in m["buckets"].values())),
                int(m["n_buckets"]), m.get("write_mode", "cow"),
                len(m.get("deltas", [])), len(m.get("epochs", {})),
                ",".join(m["key_cols"]), float(m["committed_at"]),
            ))
        return self.spark.createDataFrame(
            rows,
            "table string, version int, rows long, n_buckets int, write_mode string, "
            "n_deltas int, n_epochs int, key_cols string, committed_at double",
        ).withColumn("committed_at", F.timestamp_seconds(F.col("committed_at")))
