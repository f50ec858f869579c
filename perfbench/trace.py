"""Traced-run instrumentation: timing-only wrappers around the public
functions at the layer boundaries, plus one Spark job group per benchmark
operation.

A wrapper records a span (name, start, end, parent, operation id) and
returns exactly what the wrapped function returned, called with exactly
the arguments it was given. Private functions are never wrapped. Spans
stay in memory and are written to ``spans.json`` in the run directory
when the run ends.

The untraced run installs none of this: ``NullTracer`` keeps only the
operation bookkeeping the workloads need.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import time


class NullTracer:
    """Operation bookkeeping without spans or job groups (untraced run)."""

    enabled = False

    @contextlib.contextmanager
    def op(self, kind: str, **attrs):
        yield attrs


class Tracer:
    enabled = True

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[list] = []  # [name, start, end, parent, op_id, attrs]
        self.ops: list[dict] = []
        self._stack: list[int] = []
        self._op: dict | None = None
        self._originals: list[tuple[object, str, object]] = []
        self.side_s = 0.0  # time spent in side readings and job-count queries

    # ------------------------------------------------------------- spans
    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        op_id = self._op["id"] if self._op else None
        rec = [name, time.perf_counter(), None, parent, op_id, {}]
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            rec[2] = time.perf_counter()
            self._stack.pop()

    @contextlib.contextmanager
    def op(self, kind: str, **attrs):
        """One benchmark operation: a span plus its own Spark job group;
        job and task counts are read back through ``statusTracker``."""
        op = {"id": len(self.ops), "kind": kind, **attrs}
        self.ops.append(op)
        group = f"perfbench-op-{op['id']}"
        self.sc.setJobGroup(group, kind)
        prev, self._op = self._op, op
        try:
            with self.span(f"op:{kind}") as rec:
                yield op
        finally:
            self._op = prev
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            op["dur"] = rec[2] - rec[1]
            t0 = time.perf_counter()
            op.update(self._job_counts(group))
            self.side_s += time.perf_counter() - t0

    def _job_counts(self, group: str) -> dict:
        st = self.sc.statusTracker()
        jobs = tasks = failed = 0
        for jid in st.getJobIdsForGroup(group):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                si = st.getStageInfo(sid)
                if si is not None:
                    tasks += si.numCompletedTasks + si.numFailedTasks
                    failed += si.numFailedTasks
        return {"jobs": jobs, "tasks": tasks, "tasks_failed": failed}

    # ---------------------------------------------------------- wrappers
    def _wrap(self, owner, attr: str, name: str, before=None, after=None) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as rec:
                t0 = time.perf_counter()
                ctx = before(args, kwargs) if before else None
                tracer.side_s += time.perf_counter() - t0
                out = orig(*args, **kwargs)
                if after:
                    t0 = time.perf_counter()
                    rec[5].update(after(ctx, args, kwargs, out) or {})
                    tracer.side_s += time.perf_counter() - t0
                return out

        self._originals.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def install(self) -> None:
        """Wrap the layer-boundary entry points (module attributes and
        public methods) of cdc.apply, lake.merge, lake.table,
        lake.maintenance, operators.lsh_index, operators.dedup and
        operators.similarity."""
        mod = importlib.import_module
        apply = mod("binlog_es_go_spark.cdc.apply")
        merge = mod("binlog_es_go_spark.lake.merge")
        maint = mod("binlog_es_go_spark.lake.maintenance")
        table = mod("binlog_es_go_spark.lake.table")
        lsh = mod("binlog_es_go_spark.operators.lsh_index")
        dedup = mod("binlog_es_go_spark.operators.dedup")
        sim = mod("binlog_es_go_spark.operators.similarity")
        LakeTable = table.LakeTable
        snapshot = LakeTable.snapshot  # unwrapped: side readings only

        def merge_counts(_ctx, _a, _k, out):
            return {"carried": out.carried_files, "rewritten": out.rewritten_files}

        def base_files(args, kwargs):
            return set(snapshot(args[0]).file_sizes or {})

        def written(base, _a, _k, out):
            new = {p: s for p, s in (out.file_sizes or {}).items() if p not in base}
            return {"files_written": len(new), "bytes_written": sum(new.values())}

        def read_files(_ctx, args, kwargs, _out):
            files = kwargs.get("files")
            if files is not None:
                return {"files": len(files)}
            snap = snapshot(args[0], kwargs.get("version"))
            return {"files": sum(len(v) for v in snap.buckets.values()) + len(snap.deltas or [])}

        def folded(_ctx, _a, _k, out):
            return {"folded": out is not None}

        for owner, attr, name, before, after in [
            (apply, "apply_batch", "apply_batch", None, None),
            (apply, "replay_changelog", "replay_changelog", None, None),
            (apply, "merge_into", "merge_into", None, merge_counts),
            (merge, "merge_into", "merge_into", None, merge_counts),
            (merge, "merge_into_delta", "merge_into_delta", None, None),
            (maint, "compact_deltas", "compact_deltas", None, folded),
            (LakeTable, "snapshot", "snapshot", None, None),
            (LakeTable, "write_buckets", "write_buckets", base_files, written),
            (LakeTable, "append_delta", "append_delta", base_files, written),
            (LakeTable, "read", "read", None, read_files),
            (LakeTable, "read_keys", "read_keys", None, None),
            (lsh, "apply_batch", "apply_batch", None, None),
            (lsh.LshIndex, "apply_doc_batch", "lsh.apply_doc_batch", None, None),
            (lsh.LshIndex, "candidate_pairs", "lsh.candidate_pairs", None, None),
            (dedup, "minhash_lsh_candidates", "minhash_lsh_candidates", None, None),
            (dedup, "fingerprint_overlap", "fingerprint_overlap", None, None),
            (sim, "cosine_topk", "cosine_topk", None, None),
            (sim, "ivf_kmeans_topk", "ivf_kmeans_topk", None, None),
        ]:
            self._wrap(owner, attr, name, before, after)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._originals):
            setattr(owner, attr, orig)
        self._originals.clear()

    def span_cost_s(self, n: int = 20000) -> float:
        """Measured cost of one empty span (enter + exit)."""
        saved_stack, saved_op, saved_len = list(self._stack), self._op, len(self.spans)
        self._op = None
        t0 = time.perf_counter()
        for _ in range(n):
            with self.span("calibrate"):
                pass
        cost = (time.perf_counter() - t0) / n
        del self.spans[saved_len:]
        self._stack, self._op = saved_stack, saved_op
        return cost

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "fields": ["name", "start", "end", "parent", "op", "attrs"],
                    "spans": self.spans,
                    "ops": self.ops,
                },
                f,
            )


# ------------------------------------------------------------ per-layer
class SpanIndex:
    """Queries over a finished trace: durations, self time (span minus the
    time its direct children cover), filtered by operation kind."""

    def __init__(self, tracer: Tracer):
        self.spans = tracer.spans
        self.ops = tracer.ops
        self.child_time = [0.0] * len(self.spans)
        for s in self.spans:
            if s[3] is not None:
                self.child_time[s[3]] += s[2] - s[1]

    def _select(self, name: str, kinds: tuple[str, ...] | None):
        for i, s in enumerate(self.spans):
            if s[0] != name:
                continue
            if kinds is not None and (s[4] is None or self.ops[s[4]]["kind"] not in kinds):
                continue
            yield i, s

    def mean(self, name: str, kinds=None) -> float:
        d = [s[2] - s[1] for _, s in self._select(name, kinds)]
        return sum(d) / len(d) if d else 0.0

    def self_mean(self, name: str, kinds=None) -> float:
        d = [s[2] - s[1] - self.child_time[i] for i, s in self._select(name, kinds)]
        return sum(d) / len(d) if d else 0.0

    def total(self, name: str, kinds=None) -> float:
        return sum(s[2] - s[1] for _, s in self._select(name, kinds))

    def count(self, name: str, kinds=None) -> int:
        return sum(1 for _ in self._select(name, kinds))

    def attr_sum(self, name: str, key: str, kinds=None) -> float:
        return sum(s[5].get(key) or 0 for _, s in self._select(name, kinds))

    def attr_mean(self, name: str, key: str, kinds=None) -> float:
        v = [s[5][key] for _, s in self._select(name, kinds) if s[5].get(key) is not None]
        return sum(v) / len(v) if v else 0.0

    def ops_of(self, kinds: tuple[str, ...]) -> list[dict]:
        return [o for o in self.ops if o["kind"] in kinds]

    def op_mean(self, kinds: tuple[str, ...], key: str) -> float:
        v = [o[key] for o in self.ops_of(kinds) if o.get(key) is not None]
        return sum(v) / len(v) if v else 0.0


COMMIT_OPS = ("commit", "lsh_apply")
TIMED_OPS = COMMIT_OPS + ("lookup", "fold", "scan", "lsh_probe")
PASS_OPS = ("pass_minhash", "pass_fingerprint", "pass_cosine", "pass_ivf")


def per_layer_metrics(tracer: Tracer) -> dict[str, tuple[float, str]]:
    """Every per-layer metric (same names for every workload; a layer a
    workload never calls reads 0)."""
    ix = SpanIndex(tracer)
    n_commit = max(1, len(ix.ops_of(COMMIT_OPS)))
    window = TIMED_OPS + PASS_OPS
    carried = ix.attr_sum("merge_into", "carried", window)
    rewritten = ix.attr_sum("merge_into", "rewritten", window)
    probes = ix.ops_of(("lsh_probe",))
    cands = sum(o.get("candidates", 0) for o in probes)
    verified = sum(o.get("verified", 0) for o in probes)
    return {
        "apply.commit_s": (ix.mean("apply_batch", COMMIT_OPS), "s"),
        "apply.self_s": (ix.self_mean("apply_batch", COMMIT_OPS), "s"),
        "spark.jobs_per_commit": (ix.op_mean(COMMIT_OPS, "jobs"), "count"),
        "spark.tasks_per_commit": (ix.op_mean(COMMIT_OPS, "tasks"), "count"),
        "table.snapshot_calls_per_commit": (ix.count("snapshot", COMMIT_OPS) / n_commit, "count"),
        "table.snapshot_s_per_commit": (ix.total("snapshot", COMMIT_OPS) / n_commit, "s"),
        "merge.delta_append_s": (ix.mean("merge_into_delta", window), "s"),
        "table.append_delta_s": (ix.mean("append_delta", window), "s"),
        "maintenance.fold_s": (ix.mean("compact_deltas", window), "s"),
        "maintenance.folds": (ix.attr_sum("compact_deltas", "folded", window), "count"),
        "table.lookup_s": (ix.op_mean(("lookup",), "dur"), "s"),
        "table.lookup_files_scanned": (ix.attr_mean("read", "files", ("lookup",)), "count"),
        "table.pending_deltas_at_lookup": (ix.op_mean(("lookup",), "pending_deltas"), "count"),
        "spark.jobs_per_lookup": (ix.op_mean(("lookup",), "jobs"), "count"),
        "merge.rewrite_s": (ix.mean("merge_into", window), "s"),
        "table.write_buckets_s": (ix.mean("write_buckets", window), "s"),
        "replay.self_s": (ix.self_mean("replay_changelog"), "s"),
        "replay.commit_s": (ix.mean("apply_batch", ("replay",)), "s"),
        "merge.files_carried_ratio": (
            carried / (carried + rewritten) if carried + rewritten else 0.0, "ratio"),
        "table.bytes_written": (
            ix.attr_sum("write_buckets", "bytes_written", window)
            + ix.attr_sum("append_delta", "bytes_written", window), "B"),
        "table.files_written": (
            ix.attr_sum("write_buckets", "files_written", window)
            + ix.attr_sum("append_delta", "files_written", window), "count"),
        "table.scan_files": (ix.attr_mean("read", "files", ("scan",)), "count"),
        "lsh_index.apply_doc_batch_s": (ix.mean("lsh.apply_doc_batch", window), "s"),
        "lsh_index.self_s": (ix.self_mean("lsh.apply_doc_batch", window), "s"),
        "lsh_index.candidate_pairs_s": (ix.op_mean(("lsh_probe",), "dur"), "s"),
        "lsh_index.candidates_per_batch": (cands / len(probes) if probes else 0.0, "count"),
        "lsh_index.verified_ratio": (verified / cands if cands else 0.0, "ratio"),
        "dedup.minhash_lsh_s": (ix.op_mean(("pass_minhash",), "dur"), "s"),
        "dedup.fingerprint_overlap_s": (ix.op_mean(("pass_fingerprint",), "dur"), "s"),
        "similarity.cosine_topk_s": (ix.op_mean(("pass_cosine",), "dur"), "s"),
        "similarity.ivf_kmeans_topk_s": (ix.op_mean(("pass_ivf",), "dur"), "s"),
        "spark.tasks_failed": (sum(o.get("tasks_failed", 0) for o in ix.ops), "count"),
        "trace.spans": (len(ix.spans), "count"),
    }
