"""``tail``: the realtime mode — an open loop at a fixed offered rate into a
pre-built, bucketed lake table, with a read-your-writes point lookup after
every commit.

Set-up (timed as ``setup_s``): session, generated changelogs written to
parquet, the base table built by one ``replay_changelog`` backfill (5%
verbatim redelivery, a mid-stream schema change), and untimed warm-up
commits + lookups on the same code path as the window.

Window: every ``TICK_S`` the loop commits the events whose due time has
passed with ``apply_batch`` (default ``write_mode="auto"``), then reads
``LOOKUP_KEYS`` keys of that batch back with ``read_keys``. A commit that
overruns the tick starts the next tick at once.

After the window: a full ``LakeTable.read()`` aggregate scan (with the
window's merge-on-read deltas pending), in the traced run one
``compact_deltas`` fold, and the final state is checked against a DuckDB
last-writer-wins over the same parquet changelogs.
"""

from __future__ import annotations

import os
import random
import time

from perfbench.common import Failures, median, pct

BASE_EVENTS = 12_000
N_REPOS = 400
PATHS_PER_REPO = 250
STREAM_PARTITIONS = 8
N_BUCKETS = 64
OFFERED_RATE = 100.0  # events/s
TICK_S = 0.5          # bulk.flush_interval_ms in configs/example.yaml
LOOKUP_KEYS = 20
WARMUP_COMMITS = 2
WARMUP_EVENTS = 400
SCAN_REPEATS = 2
# An incompressible ``body`` of BODY_HASHES sha256 hex digests rides in each
# after-image (~3 KB of real file content). apply_batch's auto mode takes
# the merge-on-read delta path only when a batch overlaps >= 8 MB of base
# files and >= 32 KB per batch key; with ~500 KB per bucket file, every
# window batch (50 to ~800 events) lands inside that range, as tail batches
# do on a production-sized table.
BODY_HASHES = 48


def _changelog(spark, n, seed, **kw):
    from pyspark.sql import functions as F

    from binlog_es_go_spark.cdc.events import generate_changelog

    ev = generate_changelog(
        spark, n, n_repos=N_REPOS, paths_per_repo=PATHS_PER_REPO,
        n_partitions=STREAM_PARTITIONS, delete_ratio=0.1, skew=3.0, seed=seed, **kw,
    )
    body = F.concat_ws("", F.transform(
        F.sequence(F.lit(1), F.lit(BODY_HASHES)),
        lambda i: F.sha2(F.concat_ws("|", F.col("offset").cast("string"), F.lit(str(seed)),
                                     i.cast("string")), 256),
    ))
    return ev.withColumn("after", F.when(F.col("after").isNotNull(), F.col("after").withField("body", body)))


def run(spark, tracer, run_dir: str, seed: int, seconds: float, t_start: float) -> dict:
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from binlog_es_go_spark.cdc import apply as cdc_apply
    from binlog_es_go_spark.lake import maintenance
    from binlog_es_go_spark.lake.table import LakeTable

    phases = {"session": time.perf_counter() - t_start}
    fails = Failures()
    rng = random.Random(seed)
    base_path = os.path.join(run_dir, "base_events.parquet")
    tail_path = os.path.join(run_dir, "tail_events.parquet")

    # ---------------------------------------------------------------- inputs
    _changelog(
        spark, BASE_EVENTS, seed, duplicate_ratio=0.05,
        evolve_after_offset=BASE_EVENTS // 2,
    ).write.parquet(base_path)
    n_window = int(OFFERED_RATE * seconds) + 1
    n_tail = WARMUP_EVENTS + n_window
    _changelog(spark, n_tail, seed + 1_000_003, evolve_after_offset=-1).withColumn(
        "offset", F.col("offset") + BASE_EVENTS
    ).write.parquet(tail_path)
    tail = spark.read.parquet(tail_path).cache()
    ev = (
        tail.select("offset", "seq_in_tx", "op", "repo", "path", F.col("after.commit").alias("commit"))
        .orderBy("offset").toPandas()
    )
    tail.count()

    # -------------------------------------------------- backfill base table
    # created without size_bytes and body: the table schema evolves on write
    payload = T.StructType(
        [T.StructField(c, T.StringType()) for c in ("repo", "path", "commit", "lang", "content")]
    )
    table = LakeTable.create(spark, os.path.join(run_dir, "lake"), payload,
                             key_cols=["repo", "path"], n_buckets=N_BUCKETS)
    base = spark.read.parquet(base_path)
    phases["inputs"] = time.perf_counter() - t_start - sum(phases.values())
    with tracer.op("replay"):
        # one commit: a multi-commit backfill costs ~4 s per extra commit
        cdc_apply.replay_changelog(table, base, boundaries=[])
    phases["replay"] = time.perf_counter() - t_start - sum(phases.values())

    def commit_and_lookup(lo: int, hi: int, kind: str) -> tuple[float, float]:
        """Commit tail events [lo, hi), then read back LOOKUP_KEYS of their
        keys; returns (commit return time, lookup seconds)."""
        batch = tail.filter(
            (F.col("offset") >= BASE_EVENTS + lo) & (F.col("offset") < BASE_EVENTS + hi)
        ).coalesce(1)
        with tracer.op(kind, events=hi - lo):
            cdc_apply.apply_batch(table, batch)
        done = time.perf_counter()
        rows = ev.iloc[lo:hi]
        last = rows.sort_values(["offset", "seq_in_tx"]).groupby(["repo", "path"]).tail(1)
        pick = last.sample(n=min(LOOKUP_KEYS, len(last)), random_state=rng.randrange(1 << 30))
        keys = list(zip(pick["repo"], pick["path"]))
        if tracer.enabled:
            pending = len(table.snapshot().deltas or [])
        t0 = time.perf_counter()
        with tracer.op("lookup" if kind == "commit" else kind + "_lookup") as op:
            got = table.read_keys(keys).select(
                "repo", "path", "last_offset", F.col("commit")
            ).collect()
            if tracer.enabled:
                op["pending_deltas"] = pending
        dt = time.perf_counter() - t0
        seen = {(r["repo"], r["path"]): (r["last_offset"], r["commit"]) for r in got}
        for r in pick.itertuples(index=False):
            want = None if r.op == "delete" else (int(r.offset), r.commit)
            fails.check(seen.get((r.repo, r.path)) == want,
                        f"read-your-writes mismatch for {(r.repo, r.path)}")
        return done, dt

    # ------------------------------------------------------------- warm-up
    per = WARMUP_EVENTS // WARMUP_COMMITS
    for i in range(WARMUP_COMMITS):
        commit_and_lookup(i * per, (i + 1) * per, "warmup")
    setup_s = time.perf_counter() - t_start
    phases["warmup"] = setup_s - sum(phases.values())
    pending_before = len(table.snapshot().deltas or [])

    # -------------------------------------------------------------- window
    fresh: list[float] = []  # per event: commit return time minus due time
    lookups: list[float] = []
    w0 = time.perf_counter()
    due = lambda i: w0 + (i - WARMUP_EVENTS) / OFFERED_RATE  # noqa: E731
    sent = WARMUP_EVENTS
    tick = w0 + TICK_S
    commits = 0
    late: list[float] = []  # how far behind its schedule each tick started
    while True:
        now = time.perf_counter()
        if now < tick:
            time.sleep(tick - now)
            now = tick
        late.append(now - tick)
        if now - w0 >= seconds:
            break
        upto = min(n_tail, WARMUP_EVENTS + int((now - w0) * OFFERED_RATE))
        if upto > sent:
            done, dt = commit_and_lookup(sent, upto, "commit")
            commits += 1
            fresh.extend(done - due(i) for i in range(sent, upto))
            lookups.append(dt)
            sent = upto
        tick = now + TICK_S
    window_s = time.perf_counter() - w0
    delivered = sent - WARMUP_EVENTS

    # ---------------------------------------------------------- full scan
    scans = []
    for _ in range(SCAN_REPEATS):
        t0 = time.perf_counter()
        with tracer.op("scan"):
            # aggregates over every payload column, so none is pruned
            agg = table.read().agg(
                F.count("*").alias("rows"),
                F.sum(F.length("content") + F.length("body") + F.length("commit")).alias("chars"),
                F.count("size_bytes").alias("evolved"),
            ).first()
        scans.append(time.perf_counter() - t0)
    snap = table.snapshot()
    bytes_on_disk = sum(snap.file_sizes.get(p, 0) for files in snap.buckets.values() for p in files)
    bytes_on_disk += sum(snap.file_sizes.get(p, 0) for p in snap.deltas or [])
    pending_after = len(snap.deltas or [])

    # The default fold policy (32 pending deltas) does not fire within a
    # window on a 4-core host, so the traced run folds the window's deltas
    # once here: maintenance is then timed, and the final-state check
    # below also covers a folded table.
    fold_s = None
    if tracer.enabled:
        t0 = time.perf_counter()
        with tracer.op("fold"):
            maintenance.compact_deltas(table)
        fold_s = time.perf_counter() - t0

    # -------------------------------------------------------- correctness
    state_path = os.path.join(run_dir, "final_state.parquet")
    table.read(include_deleted=True).select(
        "repo", "path", "last_offset", "_deleted", "commit", "content", "size_bytes", "body"
    ).write.parquet(state_path)
    ok, why = _check_final_state(base_path, tail_path, state_path, BASE_EVENTS + sent, agg)
    fails.check(ok, why)

    return {
        "fails": fails,
        "metrics": {
            "setup_s": (setup_s, "s", 1),
            "latency_p50_s": (median(fresh), "s", len(fresh)),
            "latency_p90_s": (pct(fresh, 90), "s", len(fresh)),
            "read_p50_s": (median(lookups), "s", len(lookups)),
            "pass_s": (median(scans), "s", len(scans)),
            "throughput_per_s": (delivered / window_s, "1/s", commits),
            "bytes_per_row": (bytes_on_disk / max(1, agg["rows"]), "B", 1),
        },
        "trace_latency": median(fresh),
        "conditions": {
            "offered_rate_per_s": OFFERED_RATE,
            "tick_s": TICK_S,
            "base_events": BASE_EVENTS,
            "window_commits": commits,
            "window_events": delivered,
            "tick_late_s_median": round(median(late), 4),
            "lookups": len(lookups),
            "pending_deltas_after_window": pending_after,
            # commits whose batch the auto mode sent down the copy-on-write
            # path (too many keys for the table's size) instead of a delta
            "window_rewrite_commits": commits - (pending_after - pending_before),
            "fold_s": fold_s,
            "live_rows": agg["rows"],
            "setup_phases_s": {k: round(v, 3) for k, v in phases.items()},
        },
    }


def _check_final_state(base_path, tail_path, state_path, offset_hi, agg) -> tuple[bool, str]:
    """Independent oracle: last-writer-wins per (repo, path) by max
    (offset, seq_in_tx) over every committed event, in DuckDB. Live rows
    must match exactly (payload, schema-evolved column, last offset);
    every tombstone must be the key's winning delete."""
    import duckdb

    con = duckdb.connect()
    con.execute(f"""
        CREATE VIEW ev AS
        SELECT "offset", seq_in_tx, op, repo, path, after.commit AS commit,
               after.content AS content, after.size_bytes AS size_bytes, after.body AS body
        FROM read_parquet(['{base_path}/*.parquet', '{tail_path}/*.parquet'], union_by_name=true)
        WHERE "offset" < {int(offset_hi)};
        CREATE VIEW oracle AS
        SELECT repo, path, "offset" AS last_offset, op = 'delete' AS deleted, commit, content,
               size_bytes, body
        FROM (SELECT *, row_number() OVER (PARTITION BY repo, path
                                           ORDER BY "offset" DESC, seq_in_tx DESC) AS rn FROM ev)
        WHERE rn = 1;
        CREATE VIEW got AS
        SELECT repo, path, last_offset, coalesce(_deleted, false) AS deleted, commit, content,
               size_bytes, body
        FROM read_parquet('{state_path}/*.parquet');
    """)
    live = "SELECT repo, path, last_offset, commit, content, size_bytes, body FROM {} WHERE NOT deleted"
    extra = con.execute(f"SELECT count(*) FROM ({live.format('got')} EXCEPT ALL {live.format('oracle')})").fetchone()[0]
    missing = con.execute(f"SELECT count(*) FROM ({live.format('oracle')} EXCEPT ALL {live.format('got')})").fetchone()[0]
    bad_tomb = con.execute("""
        SELECT count(*) FROM got g LEFT JOIN oracle o USING (repo, path)
        WHERE g.deleted AND NOT (coalesce(o.deleted, false) AND o.last_offset = g.last_offset)
    """).fetchone()[0]
    n_live = con.execute("SELECT count(*) FROM oracle WHERE NOT deleted").fetchone()[0]
    n_evolved = con.execute("SELECT count(size_bytes) FROM oracle WHERE NOT deleted").fetchone()[0]
    ok = (extra == 0 and missing == 0 and bad_tomb == 0
          and agg["rows"] == n_live and agg["evolved"] == n_evolved)
    return ok, (f"final state vs LWW oracle: {extra} extra, {missing} missing, {bad_tomb} bad "
                f"tombstones, scan rows {agg['rows']}/{n_live}, evolved {agg['evolved']}/{n_evolved}")
