"""Structured Streaming ingestion + incremental index maintenance.

The reference rebuilds its BM25 index synchronously on every single
write — O(corpus) per mutation (``/root/reference/app.py:771-773``).
The Spark-native equivalent of "indexes follow writes" is a stream of
document batches driving incremental maintenance of the derived
tables (embeddings here; the BM25 corpus-stat frames the same way)
via ``foreachBatch`` — O(batch) work per batch, with exactly-once
progress via checkpointing.

Every ``incremental_*_maintenance`` function is a fold over one
kernel, :func:`_maintain`, which owns the parquet file-source stream,
the ``foreachBatch`` sink, the empty-batch guard and the awaited
``availableNow`` trigger. The fold contract: ``apply_batch`` sees only
non-empty micro-batches, and the state it derives publishes through
:func:`commit_state` (usually via :func:`_merge_into`, which reads the
live state, merges or starts fresh, and commits).
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# ---------------------------------------------------------------------------
# Transactional state store: versioned data dirs + atomic pointer.
#
# Layout of a state_dir:
#
#     state_dir/
#       _CURRENT        one line: name of the live version dir
#       v000001/        immutable parquet snapshot
#       v000002/
#
# Commit protocol: (1) write the new snapshot into a FRESH version
# dir — the live version is never touched; (2) atomically flip
# _CURRENT onto it via write-to-temp + os.replace (an atomic rename
# on POSIX; an object-store deployment swaps in a conditional-put /
# Delta commit); (3) garbage-collect versions older than the
# previous one. A crash at ANY point leaves a readable store:
#
#   - before the flip: _CURRENT still names the old complete
#     snapshot; the half-written version dir is an invisible orphan
#     that the NEXT commit simply overwrites (version numbering
#     derives from the live pointer, not from what's on disk).
#   - during the flip: os.replace is all-or-nothing; a leftover
#     ._CURRENT.tmp is ignored by readers.
#   - during GC: an extra old version dir lingers unreferenced,
#     harmless, and is swept by a later commit.
#
# The previous (n-1) version is retained so an in-flight reader that
# resolved the pointer just before a flip can finish its scan.
# ---------------------------------------------------------------------------

_CURRENT = "_CURRENT"
_LOCK = "_COMMIT_LOCK"
# A lock whose mtime is older than this is a crashed writer's
# leftover and is reclaimed. A LIVE writer — however long its
# snapshot write takes (700s+ parquet writes observed on contended
# boxes) — never looks stale, because the held lease refreshes the
# lock's mtime every _LOCK_STALE_SECS/10 seconds from a heartbeat
# thread; only a writer that actually died stops heartbeating.
_LOCK_STALE_SECS = 600.0


class ConcurrentWriterError(RuntimeError):
    """A second writer attempted to commit while a commit was live.

    The store is SINGLE-WRITER BY CONTRACT (like a Delta/Iceberg
    table with one streaming job as its owner); this error makes the
    contract explicit instead of letting two writers silently race
    the version counter and orphan each other's snapshots."""


class _CommitLease:
    """Held commit lock: owner token + mtime heartbeat + ownership check.

    Three hardenings over a bare O_EXCL pid file:

    - the lock body is a unique OWNER TOKEN (pid + random nonce), so a
      holder can distinguish "still mine" from "reclaimed by someone
      else" — a pid alone cannot (pids recycle).
    - a daemon thread refreshes the lock's mtime every
      ``_LOCK_STALE_SECS / 10`` seconds, so a commit whose snapshot
      write outlives the stale TTL (observed: 700s+ parquet writes on
      contended boxes) still presents as LIVE to other writers instead
      of silently failing open to reclaim.
    - :meth:`verify` re-reads the lock and compares the token; the
      committer calls it immediately before the pointer flip and
      aborts (no flip) if the lease was lost, so even a mistaken
      reclaim yields one flipped pointer, never two. The verify→flip
      window is the irreducible lease race every mtime-based lock has;
      an object-store deployment closes it with a conditional put.
    """

    def __init__(self, path: str, token: str) -> None:
        import threading  # noqa: PLC0415

        self.path = path
        self.token = token
        self._stop = threading.Event()
        self._beat = threading.Thread(
            target=self._heartbeat, name="commit-lock-heartbeat", daemon=True
        )
        self._beat.start()

    def _heartbeat(self) -> None:
        while not self._stop.wait(_LOCK_STALE_SECS / 10):
            try:
                os.utime(self.path)
            except OSError:
                pass  # lock gone (reclaimed) — verify() will catch it

    def verify(self) -> bool:
        """True iff the on-disk lock still carries OUR token."""
        try:
            with open(self.path) as f:
                return f.read().strip() == self.token
        except OSError:
            return False

    def release(self) -> None:
        self._stop.set()
        self._beat.join(timeout=2.0)
        if self.verify():  # never unlink a lock another writer now owns
            try:
                os.unlink(self.path)
            except FileNotFoundError:
                pass


def _acquire_commit_lock(state_dir: str) -> _CommitLease:
    """O_EXCL lock file with an owner token — the single-writer assertion.

    A leftover lock from a crashed writer (mtime older than
    ``_LOCK_STALE_SECS``, and never heartbeat-refreshed, so truly
    abandoned) is reclaimed; a YOUNG lock means a live concurrent
    writer and raises. Reclaim is ARBITRATED: the stale file is first
    atomically renamed (``os.replace``) to a per-reclaimer tombstone,
    which exactly one of any concurrent reclaimers wins — the losers'
    rename raises FileNotFoundError and they loop back to contend on
    the fresh O_EXCL create, so no writer ever unlinks a lock another
    writer just created."""
    import secrets  # noqa: PLC0415
    import time  # noqa: PLC0415

    path = os.path.join(state_dir, _LOCK)
    token = f"{os.getpid()}:{secrets.token_hex(8)}"
    for _ in range(64):  # bounded retry; contention resolves in 1-2 spins
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            try:
                age = time.time() - os.path.getmtime(path)
            except OSError:  # released between probe and stat → retry
                continue
            if age < _LOCK_STALE_SECS:
                raise ConcurrentWriterError(
                    f"{state_dir} has a live commit in flight ({path} is "
                    f"{age:.0f}s old); this state store is single-writer "
                    "by contract"
                ) from None
            tombstone = f"{path}.reclaimed.{token.replace(':', '.')}"
            try:
                os.replace(path, tombstone)  # atomic: ONE reclaimer wins
            except FileNotFoundError:
                continue  # another reclaimer won; re-contend on O_EXCL
            try:
                os.unlink(tombstone)
            except FileNotFoundError:
                pass
            continue
        with os.fdopen(fd, "w") as f:
            f.write(token + "\n")
            f.flush()
            os.fsync(f.fileno())
        return _CommitLease(path, token)
    raise ConcurrentWriterError(
        f"could not acquire {path} after 64 attempts (livelock — "
        "persistent reclaim contention)"
    )


def _current_version(state_dir: str) -> str | None:
    """Name of the live version dir, or None if never committed."""
    ptr = os.path.join(state_dir, _CURRENT)
    if not os.path.exists(ptr):
        return None
    with open(ptr) as f:
        return f.read().strip()


def _is_legacy_layout(state_dir: str) -> bool:
    """True iff state_dir holds pre-versioning flat parquet (data
    files directly in the dir, no _CURRENT pointer)."""
    if not os.path.isdir(state_dir):
        return False
    if os.path.exists(os.path.join(state_dir, _CURRENT)):
        return False
    return any(
        e.endswith(".parquet") or e == "_SUCCESS"
        for e in os.listdir(state_dir)
    )


def read_state(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """Live committed state, or None if none was ever committed.

    Absence is decided by an explicit pointer probe — NOT by catching
    read errors: a transient IO failure, permission problem, or
    corrupt footer must raise, never be silently treated as 'no prior
    state' (which would replace the accumulated state with just the
    current batch — data loss). For the same reason, a directory
    holding PRE-VERSIONING flat parquet (data files but no _CURRENT
    pointer) raises instead of reading as empty: silently returning
    None would make the next maintenance commit publish only the
    current batch, dropping the accumulated state. Run
    :func:`migrate_state` once to adopt such a directory. A version
    dir that exists WITHOUT the pointer naming it is an uncommitted
    orphan and is never read.
    """
    version = _current_version(state_dir)
    if version is None:
        if _is_legacy_layout(state_dir):
            raise ValueError(
                f"{state_dir} holds flat pre-versioning state with no "
                f"{_CURRENT} pointer; run migrate_state() to adopt it "
                "(refusing to treat accumulated state as absent)"
            )
        return None
    return spark.read.parquet(os.path.join(state_dir, version))


def migrate_state(spark: SparkSession, state_dir: str) -> str | None:
    """One-time adoption of a pre-versioning flat state dir: read the
    flat parquet, publish it as the first committed version, then
    remove the legacy data files. Crash-safe in the same way as any
    commit — until the pointer flip the legacy files are untouched,
    and the legacy cleanup after the flip is idempotent (re-running
    migrate_state on a half-cleaned dir is a no-op: the pointer
    already exists). Returns the committed version, or None if the
    dir was not legacy-layout.
    """
    if not _is_legacy_layout(state_dir):
        return None
    legacy = [
        e
        for e in os.listdir(state_dir)
        if e.endswith(".parquet") or e in ("_SUCCESS",) or e.startswith("part-")
    ]
    version = commit_state(spark.read.parquet(state_dir), state_dir)
    for e in legacy:
        p = os.path.join(state_dir, e)
        if os.path.isdir(p):
            shutil.rmtree(p, ignore_errors=True)
        elif os.path.exists(p):
            os.remove(p)
    return version


def commit_state(
    df: DataFrame, state_dir: str, keep_last: int = 2
) -> str:
    """Transactionally publish ``df`` as the new live state snapshot.

    Returns the committed version name. See the protocol note above:
    killing the process at any step leaves the previously committed
    snapshot served by ``read_state``. Single-writer by contract —
    a concurrent commit raises :class:`ConcurrentWriterError` via
    the O_EXCL lock file (crashed writers' stale locks reclaimed).

    ``keep_last`` is the retention window: the newest N committed
    versions survive each commit (default 2 = live + previous, the
    minimum that keeps one time-travel step); older snapshot dirs are
    vacuumed inside the held lease, so retention never races another
    writer. A maintained 100 TB index sets this to its debugging /
    audit horizon (the VERSION-AS-OF window) and pays exactly
    keep_last× live-state storage.
    """
    os.makedirs(state_dir, exist_ok=True)
    lease = _acquire_commit_lock(state_dir)
    try:
        cur = _current_version(state_dir)
        cur_n = int(cur[1:]) if cur else 0
        version = f"v{cur_n + 1:06d}"
        df.write.mode("overwrite").parquet(os.path.join(state_dir, version))
        # Ownership check at the point of no return: if the lease was
        # lost (e.g. a reclaimer raced the heartbeat), ABORT before the
        # flip — our snapshot dir becomes a harmless orphan the next
        # commit overwrites, and exactly one writer publishes.
        if not lease.verify():
            raise ConcurrentWriterError(
                f"commit lease on {state_dir} lost before pointer flip "
                "(another writer reclaimed the lock); aborting without "
                "publishing — the previously committed snapshot is "
                "untouched"
            )
        tmp = os.path.join(state_dir, "._CURRENT.tmp")
        with open(tmp, "w") as f:
            f.write(version + "\n")
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, os.path.join(state_dir, _CURRENT))
        keep = set(list_state_versions(state_dir)[-max(keep_last, 1):])
        for entry in os.listdir(state_dir):
            if entry.startswith("v") and entry not in keep:
                shutil.rmtree(
                    os.path.join(state_dir, entry), ignore_errors=True
                )
        return version
    finally:
        lease.release()

# events.parquet stores ts as timestamp[us] — Spark's native
# microsecond timestamp, read directly. (Earlier testdata generations
# stored TIMESTAMP(NANOS), which needed a long read + /1000 convert;
# the batch loader keeps that fallback, see sources/loaders.py.)
EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def stream_events(
    spark: SparkSession, sf_dir: str, with_watermark: str | None = "30 minutes"
) -> DataFrame:
    """events.parquet as an unbounded stream (file source).

    Streaming file sources need an explicit schema; the watermark
    bounds state for downstream windowed aggregations and drops
    late data past the threshold.
    """
    df = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if with_watermark:
        df = df.withWatermark("ts", with_watermark)
    return df


def _maintain(
    spark: SparkSession,
    source_dir: str,
    schema: str | StructType,
    checkpoint_dir: str,
    apply_batch: Callable[[DataFrame], None],
):
    """The one streaming-maintenance kernel: parquet files under
    ``source_dir`` as a file-source stream, each NON-EMPTY micro-batch
    handed to ``apply_batch`` through ``foreachBatch``, run with
    ``trigger(availableNow=True)`` and awaited, so callers can use it
    in batch jobs and tests alike. Returns the finished
    StreamingQuery."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.take(1):
            apply_batch(batch_df)

    q = (
        spark.readStream.schema(schema)
        .parquet(source_dir)
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def _merge_into(
    spark: SparkSession,
    state_dir: str,
    fresh: DataFrame,
    merge: Callable[[DataFrame, DataFrame], DataFrame],
) -> str:
    """Fold ``fresh`` into the live state: ``merge(current, fresh)``,
    or ``fresh`` alone when nothing was committed yet, published
    transactionally — a new immutable version dir plus an atomic
    pointer flip, so a crash anywhere leaves the prior snapshot live
    (protocol note at the top of this module)."""
    current = read_state(spark, state_dir)
    return commit_state(
        fresh if current is None else merge(current, fresh), state_dir
    )


def _agg_merge(agg, col: str, *keys: str):
    """Monoid fold: union the partials and re-aggregate ``col`` per
    ``keys`` with ``agg`` (``F.sum`` for counters, ``F.max`` for
    registers)."""
    return lambda cur, fresh: (
        cur.unionByName(fresh).groupBy(*keys).agg(agg(col).alias(col))
    )


def incremental_index_maintenance(
    spark: SparkSession,
    source_dir: str,
    doc_schema: str | StructType,
    state_dir: str,
    checkpoint_dir: str,
):
    """Documents stream → per-batch upsert of the hash-embedding table.

    Each micro-batch re-embeds ONLY its own documents and merges them
    into the persisted embeddings state (latest wins) — the
    incremental version of the reference's rebuild-everything-on-write.
    Returns the (already awaited) StreamingQuery, run with
    trigger(availableNow=True) so callers can use it in batch jobs
    and tests alike.
    """
    from ..functions.textfn import embed_hash_df
    from ..operators.crud import upsert

    def apply_batch(batch_df: DataFrame) -> None:
        # latest state of each doc id within the batch wins
        latest = batch_df.groupBy("id").agg(
            F.max_by("text", "seq").alias("text")
        )
        new_emb = embed_hash_df(latest).select(
            F.col("id").alias("node_id"), "vector", "dim"
        )
        _merge_into(
            spark,
            state_dir,
            new_emb,
            lambda cur, fresh: upsert(cur, fresh, "node_id"),
        )

    return _maintain(
        spark, source_dir, doc_schema, checkpoint_dir, apply_batch
    )


def incremental_vector_maintenance(
    spark: SparkSession,
    source_dir: str,
    vec_schema: str | StructType,
    state_dir: str,
    checkpoint_dir: str,
):
    """Embedding-vector stream → per-batch latest-wins upsert of the
    raw vector table (node_id, vector) through the transactional
    state store — the ANN counterpart of
    ``incremental_index_maintenance`` (which re-embeds text; this one
    ingests externally-produced vectors, the common shape when an
    embedding service emits updates). Per batch: keep the max-seq
    vector per id within the batch, merge latest-wins onto the
    persisted state, publish via the atomic versioned commit. O(batch)
    work per trigger; vectors roundtrip parquet float32 bit-exactly,
    so a downstream index build over the maintained state is
    indistinguishable from one over the batch table.
    """
    from ..operators.crud import upsert

    def apply_batch(batch_df: DataFrame) -> None:
        latest = batch_df.groupBy("node_id").agg(
            F.max_by("vector", "seq").alias("vector")
        )
        _merge_into(
            spark,
            state_dir,
            latest,
            lambda cur, fresh: upsert(cur, fresh, "node_id"),
        )

    return _maintain(
        spark, source_dir, vec_schema, checkpoint_dir, apply_batch
    )


def incremental_vector_cdc_maintenance(
    spark: SparkSession,
    source_dir: str,
    vec_schema: str | StructType,
    state_dir: str,
    checkpoint_dir: str,
):
    """Embedding-vector CDC stream (node_id, vector, op, seq; op ∈
    {'I','D'}) → per-batch apply of upserts AND DELETES onto the
    persisted vector state — ``incremental_vector_maintenance`` plus
    the delete half of the reference's mutation surface
    (``app.py:322-344``'s delete routes) so the vector index's state
    follows the FULL write API, not just inserts. Per batch: the
    max-seq row per id wins; a winning 'D' removes the id, anything
    else replaces it (the changelog_apply rule, applied through the
    transactional snapshot commit). The state side is touched only by
    a broadcast anti-join on the batch's id set — O(batch) work."""

    def apply_batch(batch_df: DataFrame) -> None:
        winners = batch_df.groupBy("node_id").agg(
            F.max_by(F.struct("vector", "op"), "seq").alias("w")
        ).select("node_id", F.col("w.vector").alias("vector"),
                 F.col("w.op").alias("op"))
        ups = winners.filter(F.col("op") != "D").drop("op")
        _merge_into(
            spark,
            state_dir,
            ups,
            lambda cur, fresh: cur.join(
                F.broadcast(winners.select("node_id")), "node_id", "left_anti"
            ).unionByName(fresh),
        )

    return _maintain(
        spark, source_dir, vec_schema, checkpoint_dir, apply_batch
    )


def incremental_bm25_maintenance(
    spark: SparkSession,
    source_dir: str,
    doc_schema: str | StructType,
    state_dir: str,
    checkpoint_dir: str,
):
    """Documents stream → per-batch maintenance of the BM25 posting
    state (id, tok, tf).

    Per micro-batch: tokenize ONLY the batch's docs, drop the prior
    postings of re-written ids (anti-join on the small batch id set,
    broadcast), append the fresh rows — O(batch) work. Scoring reads
    the state via ``bm25.stats_from_posting``; results are identical
    to recomputing over the full corpus (test-asserted), which is the
    reference's rebuild-the-index-on-every-write invariant
    (``/root/reference/app.py:771-773``) at O(batch) instead of
    O(corpus) cost. State publishes through ``commit_state`` —
    versioned snapshot + atomic pointer flip, crash-safe at every
    step. At scale the snapshot is additionally partitioned by
    ``tok``.
    """
    from ..operators.bm25 import posting_frame

    def apply_batch(batch_df: DataFrame) -> None:
        latest = batch_df.groupBy("id").agg(
            F.max_by("text", "seq").alias("text")
        )
        _merge_into(
            spark,
            state_dir,
            posting_frame(latest),
            lambda cur, fresh: cur.join(
                F.broadcast(latest.select("id")), "id", "left_anti"
            ).unionByName(fresh),
        )

    return _maintain(
        spark, source_dir, doc_schema, checkpoint_dir, apply_batch
    )


def dedup_stream(
    events: DataFrame,
    key_cols: list[str],
    watermark_col: str = "ts",
    delay: str = "30 minutes",
) -> DataFrame:
    """Streaming exact dedup with BOUNDED state.

    ``dropDuplicatesWithinWatermark`` keeps a key's state only for the
    watermark horizon — the streaming twin of ``dedup_exact``.
    Unbounded-state ``dropDuplicates`` on a stream grows state with
    corpus cardinality and is a non-starter at 100 TB; bounding by
    event-time delay is the scale-safe contract (duplicates farther
    apart than ``delay`` in event time may both survive, by design).
    """
    return events.withWatermark(
        watermark_col, delay
    ).dropDuplicatesWithinWatermark(key_cols)


def incremental_cms_maintenance(
    spark: SparkSession,
    source_dir: str,
    doc_schema: str | StructType,
    state_dir: str,
    checkpoint_dir: str,
    depth: int = 4,
    width: int = 256,
):
    """Documents stream → per-batch maintenance of count-min-sketch
    counters (d, b, cnt) by element-wise SUM merge.

    CMS counters form a commutative monoid, so per-batch partial
    sketches merge into exactly the full-corpus sketch regardless of
    batch boundaries or arrival order — the mergeability contract
    that makes sketches THE streaming aggregate at 100 TB (per-batch
    partials are depth×width rows, constant size, however large the
    batch). Append-only by contract: a CMS cannot retract, so unlike
    the latest-wins BM25/embedding maintenance there is no
    drop-and-replace path. State publishes through ``commit_state``
    (versioned snapshot + atomic pointer flip, crash-safe).
    """
    from ..operators.sketch import cms_partial_counters

    def apply_batch(batch_df: DataFrame) -> None:
        _merge_into(
            spark,
            state_dir,
            cms_partial_counters(batch_df, "text", depth=depth, width=width),
            _agg_merge(F.sum, "cnt", "d", "b"),
        )

    return _maintain(
        spark, source_dir, doc_schema, checkpoint_dir, apply_batch
    )


def incremental_hll_maintenance(
    spark: SparkSession,
    source_dir: str,
    event_schema: str | StructType,
    state_dir: str,
    checkpoint_dir: str,
    group_col: str,
    value_col: str,
    m: int = 64,
):
    """Event stream → per-batch maintenance of HyperLogLog register
    state (grp, reg, mrho) by element-wise MAX merge.

    The max-merge twin of ``incremental_cms_maintenance`` (sum-merge):
    together they pin the two sketch-monoid laws a 100 TB telemetry
    pipeline lives on — registers from any batch split max-merge to
    exactly the full-data registers, so per-batch state is
    constant-size (≤ groups×m rows) no matter how large the batch,
    and daily states roll up to monthly with no rescan. State
    publishes through ``commit_state`` (versioned snapshot + atomic
    pointer flip).
    """
    from ..operators.sketch import hll_registers

    def apply_batch(batch_df: DataFrame) -> None:
        _merge_into(
            spark,
            state_dir,
            hll_registers(batch_df, group_col, value_col, m=m),
            _agg_merge(F.max, "mrho", "grp", "reg"),
        )

    return _maintain(
        spark, source_dir, event_schema, checkpoint_dir, apply_batch
    )


def incremental_kmv_maintenance(
    spark: SparkSession,
    source_dir: str,
    event_schema: str | StructType,
    state_dir: str,
    checkpoint_dir: str,
    group_col: str,
    value_col: str,
    k: int = 64,
):
    """Event stream → per-batch maintenance of KMV distinct-sketch
    state (group, u) by union-then-keep-k-smallest merge.

    The min-k twin of the CMS (sum) and HLL (max) maintenance:
    min-k sets are a monoid, so per-batch states merge to exactly
    the full-data sketch and the state stays ≤ k rows per group
    forever. State publishes through ``commit_state`` (versioned
    snapshot + atomic pointer flip).
    """
    from ..operators.sketch import kmv_merge_states, kmv_state

    def apply_batch(batch_df: DataFrame) -> None:
        _merge_into(
            spark,
            state_dir,
            kmv_state(batch_df, group_col, value_col, k=k),
            lambda cur, fresh: kmv_merge_states(cur, fresh, group_col, k=k),
        )

    return _maintain(
        spark, source_dir, event_schema, checkpoint_dir, apply_batch
    )


def list_state_versions(state_dir: str) -> list[str]:
    """Version dirs present on disk, oldest first. The commit
    protocol retains the previous version alongside the live one, so
    the last two entries are (n−1, n) — the time-travel window this
    store guarantees. Orphan dirs newer than _CURRENT (from a crashed
    commit) are excluded: only versions at or before the live pointer
    are readable history."""
    cur = _current_version(state_dir)
    if cur is None:
        return []

    def _vnum(d: str) -> int:
        try:
            return int(d[1:])
        except ValueError:
            return -1

    # Integer comparison, not lexicographic: names outgrow the v%06d
    # zero-padding at commit 1,000,000 and raw-string order breaks.
    cur_n = _vnum(cur)
    return sorted(
        (
            d
            for d in os.listdir(state_dir)
            if d.startswith("v") and 0 <= _vnum(d) <= cur_n
            and os.path.isdir(os.path.join(state_dir, d))
        ),
        key=_vnum,
    )


def read_state_version(
    spark: SparkSession, state_dir: str, version: str
) -> DataFrame:
    """Time-travel read of a specific committed snapshot (same
    contract as a Delta VERSION AS OF over the retained window).
    Raises if the version is not on disk or is an uncommitted
    orphan (newer than _CURRENT)."""
    if version not in list_state_versions(state_dir):
        raise ValueError(
            f"version {version!r} not readable in {state_dir} "
            f"(have {list_state_versions(state_dir)})"
        )
    return spark.read.parquet(os.path.join(state_dir, version))

def incremental_markov_maintenance(
    spark: SparkSession,
    source_dir: str,
    event_schema: str | StructType,
    counts_dir: str,
    carry_dir: str,
    checkpoint_dir: str,
):
    """Event stream (time-ordered micro-batches) → maintained Markov
    transition counts WITH cross-batch continuity.

    The transition count frame (src, dst, n) is sum-mergeable, but
    unlike the CMS/HLL monoids a naive per-batch count LOSES every
    transition that straddles a batch boundary (a user's last event
    of batch i → first event of batch i+1). The fix is the canonical
    keyed carry-over state: alongside the counts, the maintenance
    keeps a second state frame (user_id, last_type) — each batch
    first emits its internal lead()-pairs, then joins the carried
    last-event of every user onto the batch's first-event to emit the
    boundary pairs, then replaces the carry rows of users seen in the
    batch (latest wins). With batches partitioned by event-time range
    the maintained counts equal the batch Markov matrix exactly —
    value-asserted against the ``events_markov_transitions`` oracle,
    which knows nothing about batches.

    Scale shape: per batch, one user-keyed window over the BATCH
    (not the history), one broadcast-sized join against the carry
    frame, and a counts merge that is |types|²-sized. The carry frame
    is one row per ever-seen user — the bounded keyed state a
    transformWithState deployment would hold; here it lives in the
    transactional snapshot store so the maintenance is crash-safe
    (at-least-once caveat: the counts and carry commits are two
    snapshots, so a crash between them can double-count one batch's
    boundary pairs on replay — same at-least-once contract as the
    other foreachBatch maintainers).
    """
    from pyspark.sql.window import Window

    def apply_batch(batch_df: DataFrame) -> None:
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        seq = batch_df.select(
            "user_id",
            "event_type",
            F.lead("event_type").over(w).alias("nxt"),
        )
        pairs = seq.filter(F.col("nxt").isNotNull()).select(
            F.col("event_type").alias("src"), F.col("nxt").alias("dst")
        )
        firsts = (
            batch_df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("user_id", F.col("event_type").alias("first_type"))
        )
        carry = read_state(spark, carry_dir)
        if carry is not None:
            boundary = carry.join(firsts, "user_id").select(
                F.col("last_type").alias("src"),
                F.col("first_type").alias("dst"),
            )
            pairs = pairs.unionByName(boundary)
        _merge_into(
            spark,
            counts_dir,
            pairs.groupBy("src", "dst").agg(F.count("*").alias("n")),
            _agg_merge(F.sum, "n", "src", "dst"),
        )
        wl = Window.partitionBy("user_id").orderBy(
            F.desc("ts"), F.desc("event_id")
        )
        lasts = (
            batch_df.withColumn("rn", F.row_number().over(wl))
            .filter(F.col("rn") == 1)
            .select("user_id", F.col("event_type").alias("last_type"))
        )
        new_carry = (
            carry.join(lasts.select("user_id"), "user_id", "left_anti")
            .unionByName(lasts)
            if carry is not None
            else lasts
        )
        commit_state(new_carry, carry_dir)

    return _maintain(
        spark, source_dir, event_schema, checkpoint_dir, apply_batch
    )

def incremental_group_count_maintenance(
    spark: SparkSession,
    source_dir: str,
    row_schema: str | StructType,
    state_dir: str,
    checkpoint_dir: str,
    group_col: str,
):
    """Row stream → maintained per-group counts (grp, n) by SUM merge.

    The simplest useful monoid in the maintenance family — and the
    one mixture sampling lives on: temperature-mix keep fractions
    are a pure function of the per-group counts, so a streaming
    pipeline maintains THIS tiny frame and re-derives the mixture
    after every batch instead of rescanning the corpus
    (``tmix_incremental_equiv`` value-asserts the equivalence).
    Per batch: one map-side-combinable count of the BATCH, one
    |groups|-sized merge, one transactional snapshot commit.
    """

    def apply_batch(batch_df: DataFrame) -> None:
        _merge_into(
            spark,
            state_dir,
            batch_df.groupBy(F.col(group_col).alias("grp")).agg(
                F.count("*").alias("n")
            ),
            _agg_merge(F.sum, "n", "grp"),
        )

    return _maintain(spark, source_dir, row_schema, checkpoint_dir, apply_batch)
