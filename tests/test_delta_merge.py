"""Merge-on-read delta path: O(batch) tail writes with deferred guard.

The contract under test: for ANY interleaving of rewrite-merges, delta
appends, folds, and replays, `table.read()` equals the sequential oracle
(cdc/oracle.py) — i.e. delta-apply is state-indistinguishable from
rewrite-apply; only the physical cost moves (write-time file rewrites →
bounded read-time resolution, reclaimed by compact_deltas)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from binlog_es_go_spark.cdc.apply import apply_batch, applied_offsets
from binlog_es_go_spark.cdc.events import generate_changelog
from binlog_es_go_spark.cdc.oracle import apply_sequential, table_digest
from binlog_es_go_spark.lake.changes import snapshot_changes
from binlog_es_go_spark.lake.maintenance import compact, compact_deltas
from binlog_es_go_spark.lake.table import LakeTable

PAYLOAD = T.StructType(
    [T.StructField(n, T.StringType()) for n in ["repo", "path", "commit", "lang", "content"]]
)


def fresh(spark, tmp_path, name="t", n_buckets=8):
    return LakeTable.create(
        spark, str(tmp_path / name), PAYLOAD, key_cols=["repo", "path"], n_buckets=n_buckets
    )


@pytest.fixture(scope="module")
def log(spark):
    df = generate_changelog(spark, 3000, n_repos=25, paths_per_repo=12, seed=5)
    df.cache().count()
    return df


def _slice(log, lo, hi):
    return log.filter((F.col("offset") >= lo) & (F.col("offset") < hi))


def _digest(table):
    return table_digest(table.read().select("repo", "path", "content").toPandas())


def test_delta_appends_match_sequential_oracle(spark, tmp_path, log):
    t = fresh(spark, tmp_path)
    apply_batch(t, _slice(log, 0, 2000), batch_id=0)           # bulk → rewrite
    assert not t.snapshot().deltas, "bulk load must not delta-append"
    for i in range(4):                                          # tail → delta
        apply_batch(t, _slice(log, 2000 + i * 250, 2250 + i * 250),
                    batch_id=1 + i, write_mode="delta")
    snap = t.snapshot()
    assert len(snap.deltas) == 4
    # every delta file knows which buckets it touches (diff scoping)
    assert all(rel in snap.delta_buckets for rel in snap.deltas)

    oracle = apply_sequential(log.toPandas())
    got = t.read().select("repo", "path", "content").toPandas()
    assert len(got) == len(oracle)
    assert table_digest(got) == table_digest(oracle[["repo", "path", "content"]])
    # offsets recorded atomically with the delta commit
    assert applied_offsets(t)


def test_delta_replay_is_noop_and_fold_preserves_state(spark, tmp_path, log):
    t = fresh(spark, tmp_path)
    apply_batch(t, _slice(log, 0, 2500), batch_id=0)
    apply_batch(t, _slice(log, 2500, 3000), batch_id=1, write_mode="delta")
    d1 = _digest(t)
    # duplicate delivery of the SAME batch as another delta commit
    apply_batch(t, _slice(log, 2500, 3000), batch_id=2, write_mode="delta")
    assert _digest(t) == d1
    # stale partial replay (subset of already-applied offsets)
    apply_batch(t, _slice(log, 2600, 2800), batch_id=3, write_mode="delta")
    assert _digest(t) == d1
    v = compact_deltas(t)
    assert v is not None and not t.snapshot().deltas
    assert _digest(t) == d1
    # fold is idempotent / empty-safe
    assert compact_deltas(t) is None


def test_delta_tombstone_shadows_base_row(spark, tmp_path):
    t = fresh(spark, tmp_path, n_buckets=4)
    schema = (
        "offset long, partition_id int, seq_in_tx int, op string, repo string, path string, "
        "before struct<commit:string,lang:string,content:string>, "
        "after struct<commit:string,lang:string,content:string>, ts timestamp"
    )

    def ev(offset, op, repo, path, content):
        after = None if op == "delete" else ("c" * 40, "py", content)
        return (offset, 0, 0, op, repo, path, None, after, None)

    apply_batch(t, spark.createDataFrame(
        [ev(1, "insert", "r1", "a.py", "v1"), ev(2, "insert", "r2", "b.py", "w1")], schema
    ), batch_id=0)
    # delete via delta: tombstone must hide the base row immediately
    apply_batch(t, spark.createDataFrame([ev(10, "delete", "r1", "a.py", None)], schema),
                batch_id=1, write_mode="delta")
    state = {(r["repo"], r["path"]) for r in t.read().collect()}
    assert state == {("r2", "b.py")}
    # point lookup agrees (delta-aware khash pruning path)
    assert t.read_keys([("r1", "a.py")]).count() == 0
    assert t.read_keys([("r2", "b.py")]).collect()[0]["content"] == "w1"
    # a STALE insert replayed after the delete must stay dead, through the
    # fold and after it
    apply_batch(t, spark.createDataFrame([ev(1, "insert", "r1", "a.py", "v1")], schema),
                batch_id=2, write_mode="delta")
    assert t.read_keys([("r1", "a.py")]).count() == 0
    compact_deltas(t)
    assert t.read_keys([("r1", "a.py")]).count() == 0


def test_rewrite_merge_sees_pending_delta_guard(spark, tmp_path, log):
    """A bulk rewrite arriving while deltas are pending must not let a
    STALE source row beat a NEWER delta-held offset."""
    t = fresh(spark, tmp_path)
    apply_batch(t, _slice(log, 0, 2900), batch_id=0)
    newer = _slice(log, 2900, 3000).withColumn("offset", F.col("offset") + 1000)
    newer.cache().count()
    apply_batch(t, newer, batch_id=1, write_mode="delta")
    big = log.withColumn("offset", F.col("offset") + 500)  # overlaps, partly stale
    big.cache().count()
    apply_batch(t, big, batch_id=2, prune_buckets=False)   # bulk rewrite
    full = pd.concat([_slice(log, 0, 2900).toPandas(), newer.toPandas(), big.toPandas()])
    oracle = apply_sequential(full)
    got = t.read().select("repo", "path", "content").toPandas()
    assert len(got) == len(oracle)
    assert table_digest(got) == table_digest(oracle[["repo", "path", "content"]])


def test_snapshot_diff_across_delta_commits(spark, tmp_path, log):
    """Diffs spanning delta commits fall back to bucket-granular resolved
    reads and stay EXACT; applying the diff to a replica converges it."""
    t = fresh(spark, tmp_path)
    apply_batch(t, _slice(log, 0, 2000), batch_id=0)
    v1 = t.current_version()
    apply_batch(t, _slice(log, 2000, 2500), batch_id=1, write_mode="delta")
    apply_batch(t, _slice(log, 2500, 3000), batch_id=2, write_mode="delta")
    v3 = t.current_version()

    ch = snapshot_changes(t, v1, v3)
    # replaying the diff onto a copy of v1 yields the v3 state
    replica = fresh(spark, tmp_path, "replica")
    apply_batch(replica, _slice(log, 0, 2000), batch_id=0)
    from binlog_es_go_spark.lake.changes import replicate_changes

    replicate_changes(t, replica, from_version=v1, to_version=v3)
    assert _digest(replica) == _digest(t)
    # and a diff across the FOLD (deltas dropped, base rewritten) is empty
    # of spurious rows: fold changes files, not state
    v_before_fold = t.current_version()
    compact_deltas(t)
    assert snapshot_changes(t, v_before_fold, t.current_version()).count() == 0
    assert ch.count() > 0


def test_full_compaction_reclaims_deltas(spark, tmp_path, log):
    t = fresh(spark, tmp_path)
    apply_batch(t, _slice(log, 0, 2500), batch_id=0)
    apply_batch(t, _slice(log, 2500, 3000), batch_id=1, write_mode="delta")
    d = _digest(t)
    compact(t, target_files_per_bucket=1)
    assert not t.snapshot().deltas, "full compaction folds and drops deltas"
    assert _digest(t) == d


def test_auto_mode_picks_delta_only_when_rewrite_dwarfs_batch(spark, tmp_path, log):
    """auto: bulk loads and cheap rewrites stay copy-on-write; a small
    batch against a table whose overlap would rewrite >=32x the batch (and
    >=8 MB) delta-appends. Threshold knobs are exposed for tests."""
    t = fresh(spark, tmp_path)
    apply_batch(t, log, batch_id=0)          # bulk: rewrite
    assert not t.snapshot().deltas
    small = _slice(log, 0, 50).withColumn("offset", F.col("offset") + 10_000)
    # tiny table -> overlap bytes below the floor -> still rewrite
    apply_batch(t, small, batch_id=1)
    assert not t.snapshot().deltas
    # force the economics: drop the floor so the same batch delta-appends
    import binlog_es_go_spark.cdc.apply as apply_mod

    old = apply_mod.DELTA_MIN_REWRITE_BYTES, apply_mod.DELTA_MIN_AMPLIFICATION
    apply_mod.DELTA_MIN_REWRITE_BYTES = 0
    apply_mod.DELTA_MIN_AMPLIFICATION = 0
    try:
        small2 = _slice(log, 0, 50).withColumn("offset", F.col("offset") + 20_000)
        apply_batch(t, small2, batch_id=2)
        assert len(t.snapshot().deltas) == 1
    finally:
        apply_mod.DELTA_MIN_REWRITE_BYTES, apply_mod.DELTA_MIN_AMPLIFICATION = old


def test_delta_fold_after_threshold_bounds_debt(spark, tmp_path, log):
    t = fresh(spark, tmp_path)
    apply_batch(t, _slice(log, 0, 2000), batch_id=0)
    for i in range(3):
        apply_batch(t, _slice(log, 2000 + i * 100, 2100 + i * 100),
                    batch_id=1 + i, write_mode="delta", delta_fold_after=2)
    # 3rd delta apply first folded the 2 pending commits, then appended
    assert len(t.snapshot().deltas) == 1
    oracle = apply_sequential(_slice(log, 0, 2300).toPandas())
    got = t.read().select("repo", "path", "content").toPandas()
    assert table_digest(got) == table_digest(oracle[["repo", "path", "content"]])


# Keys a SQL string literal must carry escaped: quote, backslash, backtick,
# non-ASCII, and a backslash sequence Spark's parser would otherwise unescape.
ODD_KEYS = [("o'brien", "a\\b.py"), ("back`tick", "ünï/碼.py"), ("r'\\`", "'"), ("x\\u0041", "\\'y")]
EV_SCHEMA = (
    "offset long, partition_id int, seq_in_tx int, op string, repo string, path string, "
    "before struct<commit:string,lang:string,content:string>, "
    "after struct<commit:string,lang:string,content:string{}>, ts timestamp"
)


def _odd_events(spark, offset, op, content, size=None):
    """One event per ODD_KEYS key; ``size`` adds the evolved column."""
    rows = []
    for i, (repo, path) in enumerate(ODD_KEYS):
        after = None if op == "delete" else ("c" * 40, "py", f"{content}-{i}")
        if after is not None and size is not None:
            after = (*after, size + i)
        rows.append((offset + i, 0, 0, op, repo, path, None, after, None))
    extra = ", size_bytes:long" if size is not None else ""
    return spark.createDataFrame(rows, EV_SCHEMA.format(extra))


def _assert_lookup_equals_read(t, keys):
    """read_keys == read() filtered to the keys, row for row, both ways."""
    from collections import Counter

    key_cols = t.snapshot().key_cols
    want = {tuple(k) if isinstance(k, (tuple, list)) else (k,) for k in keys}
    for include_deleted in (False, True):
        full = t.read(include_deleted=include_deleted).collect()
        cols = full[0].__fields__ if full else None
        expect = Counter(tuple(r) for r in full if tuple(r[c] for c in key_cols) in want)
        got = t.read_keys(keys, include_deleted=include_deleted).collect()
        assert not got or got[0].__fields__ == cols
        assert Counter(tuple(r) for r in got) == expect, include_deleted


def _strip_khash_from_a_file(t, bucket):
    """Replace one base file of ``bucket`` with a copy that has no
    ``_khash`` column and no stats — a file written before ``_khash``
    existed."""
    import glob
    import json
    import os

    snap = t.snapshot()
    rel = snap.buckets[bucket][0]
    out = os.path.join(t.root, "data", "legacy")
    t.spark.read.parquet(os.path.join(t.root, rel)).drop("_khash").coalesce(1).write.parquet(out)
    [new_rel] = [os.path.relpath(p, t.root) for p in glob.glob(os.path.join(out, "*.parquet"))]
    mpath = os.path.join(t.root, f"manifest-{snap.version}.json")
    with open(mpath) as f:
        m = json.load(f)
    m["buckets"][str(bucket)][0] = new_rel
    m["file_stats"].pop(rel, None)
    m["file_sizes"].pop(rel, None)
    with open(mpath, "w") as f:
        json.dump(m, f)


def test_read_keys_equals_filtered_read(spark, tmp_path, log):
    """Across a random sequence of delta appends — deletes, verbatim
    redelivery, a schema-evolved column, a pre-_khash base file, a fold
    whose delta drop crashed — a point lookup returns exactly the rows of
    a full merge-on-read scan for those keys, tombstones included or not."""
    import random
    import zlib

    from binlog_es_go_spark.lake.table import KEY_SEP

    rng = random.Random(7)
    t = fresh(spark, tmp_path)
    apply_batch(t, _slice(log, 0, 1500).unionByName(_odd_events(spark, 0, "insert", "v0")),
                batch_id=0, write_mode="rewrite")
    odd_bucket = zlib.crc32(KEY_SEP.join(ODD_KEYS[0]).encode()) % t.snapshot().n_buckets
    _strip_khash_from_a_file(t, odd_bucket)

    known = [(r["repo"], r["path"]) for r in t.read(include_deleted=True).select("repo", "path").collect()]
    keys = rng.sample(known, 30) + ODD_KEYS + [("nope", "x.py")]
    _assert_lookup_equals_read(t, keys)

    lo, batch = 1500, 1
    for step in range(6):
        hi = lo + rng.choice([100, 250, 400])
        apply_batch(t, _slice(log, lo, hi), batch_id=batch, write_mode="delta")
        if rng.random() < 0.5:  # verbatim redelivery of the same events
            apply_batch(t, _slice(log, lo, hi), batch_id=batch + 1, write_mode="delta")
        odd = ("delete", None) if step == 2 else ("update", None if step < 3 else 1000 * step)
        apply_batch(t, _odd_events(spark, hi + 10_000 * step, odd[0], f"s{step}", odd[1]),
                    batch_id=batch + 2, write_mode="delta")
        lo, batch = hi, batch + 3
        if step % 2:
            _assert_lookup_equals_read(t, keys)
    assert "size_bytes" in t.snapshot().schema.fieldNames()

    # a fold that committed but crashed before dropping its deltas
    def crash(*_a, **_k):
        raise RuntimeError("crash between fold and drop")

    pending = list(t.snapshot().deltas)
    t.drop_deltas = crash
    with pytest.raises(RuntimeError):
        compact_deltas(t)
    del t.drop_deltas
    assert t.snapshot().deltas == pending
    _assert_lookup_equals_read(t, keys)
    apply_batch(t, _odd_events(spark, 900_000, "update", "after-fold"), batch_id=batch,
                write_mode="delta")
    _assert_lookup_equals_read(t, keys)


def test_read_keys_integer_key_equals_filtered_read(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "ints"),
                         T.StructType([T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]),
                         key_cols=["id"], n_buckets=4)

    def ev(rows):
        return spark.createDataFrame(
            [(off, 0, 0, op, k, None if op == "delete" else (f"v{off}",), None) for off, op, k in rows],
            "offset long, partition_id int, seq_in_tx int, op string, id long, "
            "after struct<v:string>, ts timestamp",
        )

    apply_batch(t, ev([(k, "insert", k) for k in range(200)]), batch_id=0, write_mode="rewrite")
    apply_batch(t, ev([(1000 + k, "update", k) for k in range(0, 200, 3)]), batch_id=1, write_mode="delta")
    apply_batch(t, ev([(2000 + k, "delete", k) for k in range(0, 200, 5)]), batch_id=2, write_mode="delta")
    apply_batch(t, ev([(5, "insert", 5), (7, "insert", 7)]), batch_id=3, write_mode="delta")  # stale
    keys = [(k,) for k in (0, 3, 5, 7, 10, 11, 199, 500)]
    _assert_lookup_equals_read(t, keys)
    assert sorted(r["id"] for r in t.read_keys([3, 5, 7, 500]).collect()) == [3, 7]
