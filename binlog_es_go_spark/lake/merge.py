"""Copy-on-write MERGE with a monotonic-offset guard (exactly-once LWW).

Semantics (the DataFrame re-expression of the reference's sink pair
``UpsertBulk``/``DeleteBulk`` + ES doc versioning,
``pkg/es/writer.go:57-81,156-193``, and of deleteOnDelete routing,
``pkg/realtime/loop.go:317-321``):

    MERGE INTO target t USING source s ON <key_cols>
      WHEN MATCHED AND (s.offset, s.seq) > (t.last_offset, t.last_seq)
                   AND s.op = 'delete'                              THEN DELETE
      WHEN MATCHED AND (s.offset, s.seq) > (t.last_offset, t.last_seq)
                                                                    THEN UPDATE *
      WHEN NOT MATCHED AND s.op <> 'delete'                         THEN INSERT *

with two strengthenings over the reference:

* the strict ``(s.offset, s.seq) > (t.last_offset, t.last_seq)`` guard
  (lexicographic; seq persisted so split transactions order across
  batches) makes re-applied batches
  (at-least-once delivery, foreachBatch re-run after crash) no-ops —
  exactly-once state without a transactional sink;
* DELETE writes a tombstone (``_deleted=true``, ``last_offset`` kept)
  instead of physically removing the row, so a *stale* insert replayed
  after a delete cannot resurrect the key (SURVEY §7 hard part 1).

Physical plan, deliberately:

    1. distinct buckets of source keys          (tiny driver collect,
                                                 bounded by n_buckets)
    2. target read pruned to those buckets      (file skipping — O(batch),
                                                 not O(table))
    3. union(target-subset, source) → window by key ordered by (offset
       desc, seq desc, target wins ties) → rank 1 — within-batch LWW
       dedup, the cross-batch guard, and the target tie-break in ONE
       window; Spark 4's WindowGroupLimit runs a map-side partial top-1
       so at most one candidate row per key per input partition crosses
       the wide shuffle
    4. winners → repartition (bucket, key-salt): a second, winners-only
       exchange that makes the write BUCKET-ALIGNED (one file per bucket
       per write group; see the layout comment in _merge_once for the
       measured 3x cost of every one-exchange alternative)
    5. rewrite only affected buckets, atomic manifest commit

Write skew: the salt is crc32(key) % n_out, modular-aligned with the
bucket id, so raising salt_partitions above n_buckets splits each hot
bucket into exactly n_out/n_buckets write groups without inflating the
file count for cold ones. Explicit pre-aggregation salting remains in
operators/salting.py.

At 100 TB the cost of a micro-batch is proportional to the number of
buckets its keys hash into, never to table size; raising ``n_buckets``
trades smaller rewrites against more files (Iceberg's bucket(N, key)
tuning knob, same math).
"""

from __future__ import annotations

import bisect
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from binlog_es_go_spark.lake.table import (
    BUCKET_COL,
    DELETED_COL,
    GUARD_TIE_COL,
    KHASH_COL,
    CommitConflict,
    LakeTable,
    align_to_schema,
    bucket_expr,
    keep_guard_winners,
    khash_expr,
    merge_schemas,
)

OFFSET_COL = "offset"
OP_COL = "op"
SEQ_COL = "seq_in_tx"
TS_COL = "ts"
ENGINE_COLS = ("last_offset", "last_seq", "last_op", DELETED_COL, "updated_at", KHASH_COL)

# Per-bucket cap on the exact batch-key-hash set shipped to the driver for
# file pruning: above it, pruning falls back to the [lo, hi] range. Bounds
# the driver transfer at n_buckets * (cap+1) longs regardless of batch size.
KEY_PRUNE_CAP = 1024

# Target bytes per write task when the exchange width adapts to a small
# pruned batch (see _merge_once): enough to keep tasks meaningful, small
# enough that a single rewritten file never serializes a whole commit.
WRITE_TARGET_BYTES = 64 << 20

# Rewrites at or under this estimate are SURGICAL: one write group per
# bucket (see _merge_once) — range-splitting kilobyte commits into
# k_groups files per bucket paid per-file writer overhead for layout
# granularity a later compaction discards anyway.
SMALL_COMMIT_BYTES = 8 << 20

# Merge commits are planned with AQE disabled by default (round-6 floor
# attack, measured ~0.1-0.2 s/commit at sf0.1): the merge already sizes
# both of its exchanges itself (shuffle_partitions for the guard window,
# the adaptive (bucket, group) width for the write), AQE's skew-join
# splitting never applies (no joins in the merge plan), so all AQE buys
# here is per-stage materialization barriers + driver re-planning — pure
# serial floor per micro-batch at ANY table size. Parameterized so a
# deployment whose merge batches are huge and mis-partitioned can turn
# coalescing back on ("on" keeps the session setting untouched).
MERGE_AQE = os.environ.get("BINLOG_SPARK_MERGE_AQE", "off")


@contextmanager
def scoped_merge_conf(spark):
    """Plan the enclosed merge actions with AQE off (see MERGE_AQE)."""
    if MERGE_AQE != "off":
        yield
        return
    key = "spark.sql.adaptive.enabled"
    prev = spark.conf.get(key)
    if prev == "false":
        yield
        return
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, prev)


@dataclass
class BatchKeyInfo:
    """Which key hashes a batch touches within one bucket — the driver-side
    handle for file-granular COW. ``khashes``: the exact sorted distinct
    crc32 set when it fit under KEY_PRUNE_CAP, else None (use [lo, hi])."""

    khashes: list[int] | None
    lo: int
    hi: int

    def may_hit(self, file_min: int, file_max: int) -> bool:
        """Could this batch touch a file whose stored _khash range is
        [file_min, file_max]? Conservative: False ONLY when provably
        disjoint."""
        if self.khashes is not None:
            i = bisect.bisect_left(self.khashes, file_min)
            return i < len(self.khashes) and self.khashes[i] <= file_max
        return not (self.hi < file_min or self.lo > file_max)


@dataclass
class MergeResult:
    version: int
    affected_buckets: list[int]
    source_rows: int | None = None
    wall_sec: float | None = None
    rewritten_files: int | None = None
    carried_files: int | None = None


def dedup_last_writer(
    source: DataFrame, key_cols: list[str], offset_col: str = OFFSET_COL, seq_col: str | None = SEQ_COL
) -> DataFrame:
    """Within-batch last-writer-wins: keep the max-(offset, seq) event per key.

    The reference dedups pending key batches order-preservingly
    (``pkg/realtime/helpers.go:39-53``) and relies on binlog total order;
    here ordering is explicit: ties on offset break by ``seq_in_tx``
    (SURVEY §7 hard part 2).

    A full (offset, seq) tie between DIFFERENT events cannot occur in the
    domain (a binlog position identifies one physical event; duplicate
    delivery re-ships identical bytes, where any pick is the same row) —
    the trailing ``op`` tiebreak is defensive determinism so that even a
    malformed feed yields a winner that is a pure function of the batch
    content, not of partition scheduling.
    """
    order = [F.col(offset_col).desc()]
    if seq_col and seq_col in source.columns:
        order.append(F.col(seq_col).desc())
    if "op" in source.columns:
        order.append(F.col("op").desc())
    w = Window.partitionBy(*key_cols).orderBy(*order)
    return (
        source.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def merge_into(
    table: LakeTable,
    source: DataFrame,
    offset_col: str = OFFSET_COL,
    op_col: str = OP_COL,
    seq_col: str | None = SEQ_COL,
    ts_col: str | None = TS_COL,
    properties_update: dict | None = None,
    salt_partitions: int | None = None,
    max_commit_retries: int = 5,
    already_deduped: bool = False,
    affected_buckets: list[int] | None = None,
    properties_fn=None,
    bucket_khashes: dict[int, BatchKeyInfo] | None = None,
) -> MergeResult:
    """Apply a changelog micro-batch to ``table`` (see module docstring).

    ``source`` columns: the table's key columns, any payload columns,
    ``offset`` (long, monotonic per stream partition), ``op`` in
    {insert, update, delete}; optional ``seq_in_tx``, ``ts``.

    ``salt_partitions``: number of write tasks; files per commit are
    bounded by max(n_buckets, salt_partitions). Hot buckets (Zipf-skewed
    repos all hashing into few buckets) split across write tasks once
    salt_partitions exceeds n_buckets — see the module docstring's
    write-skew note.
    """
    for attempt in range(max_commit_retries):
        try:
            with scoped_merge_conf(table.spark):
                return _merge_once(
                    table, source, offset_col, op_col, seq_col, ts_col,
                    properties_update, salt_partitions, already_deduped, affected_buckets,
                    properties_fn, bucket_khashes,
                )
        except CommitConflict:
            # Optimistic-concurrency retry: re-read the new snapshot and
            # recompute — the analog of Iceberg commit.retry and of the
            # reference's conflict recompute
            # (pkg/pipeline/sink/bulkwriter.go:188-266).
            if attempt == max_commit_retries - 1:
                raise
            time.sleep(0.2 * (2**attempt))  # reference backoff ladder, retry.go:13-15
    raise AssertionError("unreachable")


def _merge_once(
    table: LakeTable,
    source: DataFrame,
    offset_col: str,
    op_col: str,
    seq_col: str | None,
    ts_col: str | None,
    properties_update: dict | None,
    salt_partitions: int | None,
    already_deduped: bool,
    affected_buckets: list[int] | None = None,
    properties_fn=None,
    bucket_khashes: dict[int, BatchKeyInfo] | None = None,
) -> MergeResult:
    snap = table.snapshot()
    key_cols = snap.key_cols

    payload_cols = [
        c for c in source.columns
        if c not in key_cols
        and c not in (offset_col, op_col, seq_col, ts_col, BUCKET_COL)
        and c not in ENGINE_COLS
    ]

    # Within-batch dedup is FUSED into the merge window below (one wide
    # shuffle total): the window's GUARD_ORDER_SQL (offset desc, seq
    # desc, target wins ties) resolves batch-internal LWW and the
    # cross-batch guard in a single rank. A separate dedup pass would
    # shuffle the full content twice for nothing.
    src = source.withColumn(BUCKET_COL, bucket_expr(key_cols, snap.n_buckets))

    # Affected-bucket discovery: at most n_buckets ints — a safe collect.
    # Callers that already know the set (the apply core computes it in the
    # same scan as partition offsets) pass it in — with per-bucket key-hash
    # info when they have it — to save a job. The self-computed job gathers
    # both in ONE pass: the distinct buckets AND, per bucket, the batch's
    # distinct key hashes (capped at KEY_PRUNE_CAP; overflow degrades to a
    # [lo, hi] range), which drive file-granular COW below.
    kinfo: dict[int, BatchKeyInfo] = bucket_khashes or {}
    if affected_buckets is not None:
        affected = list(affected_buckets)
    else:
        rows = (
            src.select(BUCKET_COL, khash_expr(key_cols).alias(KHASH_COL))
            .groupBy(BUCKET_COL)
            .agg(
                F.slice(F.sort_array(F.collect_set(KHASH_COL)), 1, KEY_PRUNE_CAP + 1).alias("khs"),
                F.min(KHASH_COL).alias("lo"),
                F.max(KHASH_COL).alias("hi"),
            )
            .collect()
        )
        affected = [int(r[BUCKET_COL]) for r in rows]
        kinfo = {
            int(r[BUCKET_COL]): BatchKeyInfo(
                khashes=list(r["khs"]) if len(r["khs"]) <= KEY_PRUNE_CAP else None,
                lo=int(r["lo"]),
                hi=int(r["hi"]),
            )
            for r in rows
        }
    if not affected:
        return MergeResult(version=snap.version, affected_buckets=[])

    # File-granular copy-on-write: within each affected bucket, REWRITE
    # only files whose stored _khash range (manifest file_stats, tight
    # because writes are khash-sorted) can contain a batch key; CARRY the
    # rest forward untouched. Files without stats — pre-khash data, failed
    # harvest — conservatively rewrite. At 100 TB this turns "one hot key
    # costs a full-bucket rewrite" into "one hot key costs one file" (the
    # lake analog of the reference's row-level upsert,
    # pkg/es/writer.go:156-193).
    fstats = snap.file_stats or {}
    overlap_files: list[str] = []
    carry_map: dict[int, list[str]] = {}
    rewritten = carried = 0
    for b in affected:
        info = kinfo.get(b)
        for rel in snap.buckets.get(b, []):
            st = fstats.get(rel, {}).get(KHASH_COL)
            hit = True
            if info is not None and st and st[0] is not None and st[1] is not None and not st[2]:
                hit = info.may_hit(int(st[0]), int(st[1]))
            if hit:
                overlap_files.append(rel)
                rewritten += 1
            else:
                carry_map.setdefault(b, []).append(rel)
                carried += 1

    # Schema evolution: new payload columns widen the table schema.
    incoming = T.StructType(
        [f for f in src.schema.fields if f.name in key_cols]
        + [f for f in src.schema.fields if f.name in payload_cols]
    )
    new_schema = merge_schemas(snap.schema, incoming)

    src_norm = _normalize_source(
        src, key_cols, payload_cols, offset_col, op_col, seq_col, ts_col,
        extra_exprs=[f"`{BUCKET_COL}`", f"0 AS {GUARD_TIE_COL}"],
    )

    # Tombstones included: they hold the offset guard for their key.
    # Only the overlap files are read: a batch key can never live in a
    # carried file (pruning is conservative), so the window below still
    # sees every guard row that matters.
    target = table.read(files=overlap_files, include_deleted=True, resolve_deltas=False)
    # Pending merge-on-read deltas can hold a NEWER (offset, seq) for a
    # batch key than any base file: fold the affected buckets' delta rows
    # into the target side so the guard window sees them. The delta files
    # stay listed (they span unaffected buckets); their now-folded rows
    # tie with the rewritten base copies at read time and base wins ties,
    # so leaving them is correct — compact_deltas reclaims them.
    if snap.deltas:
        target = target.unionByName(
            table.delta_rows(version=snap.version, buckets=affected), allowMissingColumns=True
        )
    target = align_to_schema(target, new_schema)
    tgt_norm = (
        target.withColumn(BUCKET_COL, bucket_expr(key_cols, snap.n_buckets))
        .withColumn(GUARD_TIE_COL, F.lit(1))
    )

    combined = align_union(src_norm, tgt_norm, new_schema)

    # Write layout: winners land partitioned by (bucket, khash RANGE
    # group). The group is floor(crc32(key) / ceil(2^32 / k)) with k =
    # n_out / n_buckets: when n_out == n_buckets every bucket is ONE
    # write group (one file per bucket per commit), and when n_out =
    # k*n_buckets each bucket splits into k groups — same task/file
    # bounds as the round-3 modular salt (crc32 is uniform, so range
    # groups load-balance exactly as well), but each group covers a
    # CONTIGUOUS key-hash range, so combined with the khash-local sort in
    # write_buckets every data file gets a tight, DISJOINT min/max in the
    # manifest — which is what makes the next merge's file-granular
    # pruning selective.
    n_out = salt_partitions or table.spark.sparkContext.defaultParallelism
    k_groups = max(1, n_out // max(1, snap.n_buckets))
    span = -(-(1 << 32) // k_groups)  # ceil(2^32 / k)
    # Exchange width adapts to the DATA, not the layout dial: a (bucket,
    # group) combo always hashes to exactly one task, so file layout and
    # file COUNT are fixed by k_groups (directory-encoded in
    # write_buckets) no matter how few tasks run — scheduling n_out tasks
    # for a 200-event batch was pure serial floor (measured ~4s of an
    # ~5s small-batch commit at n_out=512, local[8]). Shrink only when
    # the batch is PROVABLY small — every bucket's key set exact under
    # KEY_PRUNE_CAP — sized by the bytes actually rewritten (manifest
    # file_sizes; files with unknown size count one full target each).
    # Bulk paths (no/overflowed key info) keep the full width.
    n_tasks = max(1, n_out)
    narrow = bool(kinfo) and bool(affected) and all(
        kinfo.get(b) is not None and kinfo[b].khashes is not None for b in affected
    )
    if narrow:
        sizes = snap.file_sizes or {}
        overlap_bytes = sum(sizes.get(rel, WRITE_TARGET_BYTES) for rel in overlap_files)
        n_keys = sum(len(kinfo[b].khashes) for b in affected)
        est_bytes = overlap_bytes + n_keys * 1024  # generous per-row estimate
        # SURGICAL commits (rewriting under SMALL_COMMIT_BYTES) collapse
        # to ONE write group per bucket: at k_groups range groups such a
        # commit opened affected x k_groups parquet writers (~10-20 ms
        # each of open/codec/footer — the dominant slice of a tiny
        # commit's write stage) to lay out kilobyte files whose range
        # granularity buys nothing (compaction folds them anyway). Big
        # rewrites and delta folds keep the full k_groups granularity, so
        # steady-state file-COW selectivity at scale is untouched.
        if est_bytes <= SMALL_COMMIT_BYTES:
            k_groups = 1
            span = 1 << 32
        n_tasks = min(n_out, max(k_groups, -(-est_bytes // WRITE_TARGET_BYTES)))
    # A/B knob (bench_extra experiments): force the single-exchange shape
    # for bulk batches too (at full width) — full batch rows cross the one
    # exchange instead of partial-top-1-reduced rows plus a winners-only
    # exchange.
    small = narrow or os.environ.get("BINLOG_SPARK_BULK_ONE_EXCHANGE") == "1"

    # ONE window resolves everything: max (offset, seq) per key wins —
    # ``last_seq`` is PERSISTED so a transaction split across micro-batches
    # (same offset, later seq arriving in a later batch) still applies; the
    # target wins only a FULL (offset, seq) tie, which is exactly the
    # strict "(offset, seq) >" guard of the sequential oracle
    # (cdc/oracle.py; SURVEY §7 hard part 2).
    #
    # Exchange count (round-6): for a PROVABLY SMALL batch the union is
    # hash-partitioned ONCE by (bucket, write group) — both pure
    # functions of the key, so adding them to the window's partitionBy
    # changes nothing per key, while the explicit repartition satisfies
    # the window's clustering requirement (hash on a subset of the
    # partitionBy columns) AND is already the write layout: the guard
    # window inserts no second exchange and winners flow straight into
    # the bucket-aligned write — one narrow exchange total per commit
    # (plan-asserted in tests/test_r06_optimizations.py). Bulk batches keep
    # the round-3 two-exchange shape: window partitioned by key alone —
    # Spark 4 plans the row_number()==1 filter as WindowGroupLimit, a
    # map-side partial top-1 BEFORE the shuffle, so at most one candidate
    # row per key per input partition crosses the wire; winners-only
    # (much smaller) second exchange aligns the write. (A
    # max_by(struct(row)) aggregation was measured 3x slower — sort-agg
    # fallback; writing the key-hash-distributed window output directly
    # explodes into n_tasks*n_buckets files, also 3x slower — BENCH.md
    # round-3 table.)
    wg = F.floor(F.col(KHASH_COL) / F.lit(span)).cast("int")
    if small:
        combined = combined.withColumn(KHASH_COL, khash_expr(key_cols)).withColumn("_wg", wg)
        combined = combined.repartition(n_tasks, F.col(BUCKET_COL), F.col("_wg"))
        winners = keep_guard_winners(combined, [BUCKET_COL, "_wg", *key_cols]).drop("_wg")
    else:
        winners = keep_guard_winners(combined, key_cols)
        winners = winners.withColumn(KHASH_COL, khash_expr(key_cols))
        winners = winners.repartition(n_tasks, F.col(BUCKET_COL), wg)

    new_snap = table.write_buckets(
        winners,
        replaced_buckets=affected,
        new_schema=new_schema,
        properties_update=properties_update,
        expected_version=snap.version,
        properties_fn=properties_fn,
        carry_files=carry_map,
        n_write_groups=k_groups,
    )
    return MergeResult(
        version=new_snap.version,
        affected_buckets=sorted(affected),
        rewritten_files=rewritten,
        carried_files=carried,
    )


def estimate_overlap_bytes(snap, kinfo: dict[int, BatchKeyInfo]) -> int:
    """Bytes of base files a batch would rewrite (manifest-only, driver
    math — the same conservative may_hit pruning _merge_once applies).
    Drives the auto rewrite-vs-delta choice in cdc/apply.py: delta pays
    off exactly when this dwarfs the batch itself."""
    fstats = snap.file_stats or {}
    sizes = snap.file_sizes or {}
    total = 0
    for b, info in kinfo.items():
        for rel in snap.buckets.get(b, []):
            st = fstats.get(rel, {}).get(KHASH_COL)
            hit = True
            if st and st[0] is not None and st[1] is not None and not st[2]:
                hit = info.may_hit(int(st[0]), int(st[1]))
            if hit:
                total += sizes.get(rel, WRITE_TARGET_BYTES)
    return total


def _normalize_source(
    src: DataFrame,
    key_cols: list[str],
    payload_cols: list[str],
    offset_col: str,
    op_col: str,
    seq_col: str | None,
    ts_col: str | None,
    extra_exprs: list[str] | None = None,
) -> DataFrame:
    """Changelog events → engine row shape (payload + last_offset/last_seq/
    last_op/_deleted/updated_at). Built as SQL expression strings in ONE
    selectExpr call (Column objects cost ~3 py4j round trips each; this
    runs per micro-batch — see align_to_schema for the measured per-commit
    driver floor). Delete events carry no after-image: their payload is
    nulled so a delete winner becomes a pure tombstone."""
    has_seq = bool(seq_col) and seq_col in src.columns
    is_delete_sql = f"`{op_col}` = 'delete'"
    ts_sql = (
        f"CAST(`{ts_col}` AS timestamp)"
        if ts_col and ts_col in src.columns
        else "CAST(NULL AS timestamp)"
    )
    seq_sql = f"CAST(`{seq_col}` AS bigint)" if has_seq else "CAST(0 AS bigint)"
    return src.selectExpr(
        *[f"`{k}`" for k in key_cols],
        *[
            f"CASE WHEN {is_delete_sql} "
            f"THEN CAST(NULL AS {src.schema[c].dataType.simpleString()}) "
            f"ELSE `{c}` END AS `{c}`"
            for c in payload_cols
        ],
        f"CAST(`{offset_col}` AS bigint) AS last_offset",
        f"{seq_sql} AS last_seq",
        f"`{op_col}` AS last_op",
        f"({is_delete_sql}) AS `{DELETED_COL}`",
        f"{ts_sql} AS updated_at",
        *(extra_exprs or []),
    )


def merge_into_delta(
    table: LakeTable,
    source: DataFrame,
    offset_col: str = OFFSET_COL,
    op_col: str = OP_COL,
    seq_col: str | None = SEQ_COL,
    ts_col: str | None = TS_COL,
    properties_update: dict | None = None,
    max_commit_retries: int = 5,
    properties_fn=None,
) -> MergeResult:
    """Merge-on-read apply: the O(batch) tail write path.

    Where ``merge_into`` rewrites every base file a batch key might live
    in (~160 file read+writes for a 200-event batch on a fragmented
    table — the measured ~2.5 s/batch floor the round-4 verdict flagged),
    this appends the batch's within-batch LWW winners as ONE small delta
    file and touches no base file. The cross-batch (offset, seq) guard
    DEFERS to readers (``resolve_merge_on_read``) and to the next
    rewrite/compaction, both of which order by the same window — so
    delta-apply-then-read is state-identical to rewrite-apply-then-read
    (pinned against the sequential oracle in tests/test_delta_merge.py).

    This is the Hudi/Paimon merge-on-read trade expressed on this lake
    format: write cost O(batch) at the price of a bounded read-side
    resolve, with ``maintenance.compact_deltas`` folding the debt back
    into base files. The apply core auto-picks it for small batches and
    auto-folds past a debt threshold (cdc/apply.py).
    """
    snap = table.snapshot()
    key_cols = snap.key_cols
    payload_cols = [
        c for c in source.columns
        if c not in key_cols
        and c not in (offset_col, op_col, seq_col, ts_col, BUCKET_COL)
        and c not in ENGINE_COLS
    ]
    incoming = T.StructType(
        [f for f in source.schema.fields if f.name in key_cols]
        + [f for f in source.schema.fields if f.name in payload_cols]
    )
    new_schema = merge_schemas(snap.schema, incoming)
    winners = _normalize_source(
        source, key_cols, payload_cols, offset_col, op_col, seq_col, ts_col
    )
    # NO within-batch dedup: the reader's resolution window picks the
    # max-(offset, seq) row per key anyway, so a dedup here would spend a
    # whole shuffle (~0.4 s of a ~1 s append, measured: 64 scheduled
    # window tasks for 200 rows) to shave a few duplicate rows off a
    # kilobyte-scale file. Delta files carry all batch rows; dedup debt
    # is settled at read/fold time like the rest of the guard.
    for attempt in range(max_commit_retries):
        try:
            with scoped_merge_conf(table.spark):
                new_snap = table.append_delta(
                    winners,
                    properties_update=properties_update,
                    expected_version=None,
                    properties_fn=properties_fn,
                    new_schema=new_schema,
                )
            return MergeResult(
                version=new_snap.version,
                affected_buckets=[],
                rewritten_files=0,
                carried_files=sum(len(fl) for fl in snap.buckets.values()),
            )
        except CommitConflict:
            if attempt == max_commit_retries - 1:
                raise
            time.sleep(0.2 * (2**attempt))
    raise AssertionError("unreachable")


def align_union(a: DataFrame, b: DataFrame, schema: T.StructType) -> DataFrame:
    extras = [BUCKET_COL, GUARD_TIE_COL]

    def proj(df: DataFrame) -> DataFrame:
        # SQL expression strings, one selectExpr call: Column objects cost
        # ~3 py4j round trips each, and this runs per micro-batch commit
        # (see align_to_schema for the measured driver-floor numbers).
        have = set(df.columns)
        exprs = []
        for f in schema.fields:
            t = f.dataType.simpleString()
            if f.name in have:
                exprs.append(f"CAST(`{f.name}` AS {t}) AS `{f.name}`")
            else:
                exprs.append(f"CAST(NULL AS {t}) AS `{f.name}`")
        exprs += [f"`{c}`" for c in extras]
        return df.selectExpr(*exprs)

    return proj(a).unionByName(proj(b))
