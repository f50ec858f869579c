"""``corpus``: near-dup maintenance over a seeded document corpus, then a
full pass of the near-dup and similarity operators.

Set-up (timed as ``setup_s``): session, a generated corpus (documents with
planted near-duplicates, clustered embeddings with planted near-copies)
and every document change batch as cached DataFrames, an ``LshIndex``
built from the initial documents, and one untimed run of the probe path.

Window (closed loop, one client): per batch, ``LshIndex.apply_doc_batch``
then ``candidate_pairs(probe_ids=changed docs)``, collected.

After the window: one full pass of ``minhash_lsh_candidates`` and
``fingerprint_overlap`` (window 8, the ``gram_strings`` path) over the
final documents, and ``cosine_topk`` and ``ivf_kmeans_topk`` over the
embeddings. Checks: the incremental index's pairs equal the from-scratch
``minhash_lsh_candidates`` pass; ``cosine_topk`` equals, and every
``ivf_kmeans_topk`` score matches, a NumPy recompute that sums in Spark's
left-to-right order, so the comparison is exact; probe pairs involve a
probed document; ``fingerprint_overlap`` finds the planted edits.
"""

from __future__ import annotations

import os
import time

import numpy as np

from perfbench.common import Failures, median, pct

N_DOCS = 1000
DOC_WORDS = (25, 60)
VOCAB = 400
DOC_CHANGES = 40      # per batch: 15% deletes, 15% inserts, 30% copy another doc
MAX_BATCHES = 8
MIN_BATCHES = 2
N_VECS = 600
DIM = 64
N_CLUSTERS = 40
N_QUERIES = 40
N_EVAL_DOCS = 200
LSH_K, LSH_BANDS = 32, 8  # LshIndex signature length and bands
MIN_EST = 0.5             # LSH candidates at or above this estimate count as verified
TOPK = 10


# ------------------------------------------------------------------ inputs
def _perturb(words: list[str], rng, vocab: list[str], max_edits: int = 3) -> list[str]:
    out = list(words)
    for _ in range(rng.integers(1, max_edits + 1)):
        out[rng.integers(len(out))] = vocab[rng.integers(len(vocab))]
    return out


def _generate(seed: int):
    """Driver-side inputs, a pure function of the seed: the document
    change stream as (batch, offset, op, doc_id, text) tuples (batch 0 is
    the initial load), the vocabulary, and the embedding corpus."""
    rng = np.random.default_rng(seed)
    syl = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "po", "qu", "de", "fa", "gi", "ho",
           "ju", "be", "co", "du", "el"]
    vocab = [a + b + c for a in syl for b in syl for c in syl[:5]][:VOCAB]
    zipf = 1.0 / np.arange(1, VOCAB + 1) ** 0.8
    zipf /= zipf.sum()

    def fresh_doc() -> list[str]:
        return [vocab[i] for i in rng.choice(VOCAB, size=rng.integers(*DOC_WORDS), p=zipf)]

    docs: dict[int, list[str]] = {}
    for i in range(N_DOCS):
        # a quarter of the corpus: near-copies of an earlier document
        copy = i > 10 and rng.random() < 0.25
        docs[i] = _perturb(docs[rng.integers(i)], rng, vocab) if copy else fresh_doc()
    events = [(0, i, "insert", i, docs[i]) for i in range(N_DOCS)]
    offset, next_id = N_DOCS, N_DOCS
    for b in range(1, MAX_BATCHES + 1):
        for _ in range(DOC_CHANGES):
            live = sorted(docs)
            r = rng.random()
            if r < 0.15:
                victim = live[rng.integers(len(live))]
                del docs[victim]
                events.append((b, offset, "delete", victim, None))
            else:
                target = next_id if r < 0.3 else live[rng.integers(len(live))]
                op = "insert" if target == next_id else "update"
                next_id += op == "insert"
                src = live[rng.integers(len(live))] if rng.random() < 0.3 else target
                docs[target] = _perturb(docs[src], rng, vocab) if src in docs else fresh_doc()
                events.append((b, offset, op, target, docs[target]))
            offset += 1
    events = [(b, o, op, i, None if w is None else " ".join(w)) for b, o, op, i, w in events]

    centers = rng.standard_normal((N_CLUSTERS, DIM))
    vecs: list[np.ndarray] = []
    for i in range(N_VECS):
        # a fifth: near-copies of an earlier vector
        if i > 10 and rng.random() < 0.2:
            vecs.append(vecs[rng.integers(i)] + 0.02 * rng.standard_normal(DIM))
        else:
            vecs.append(centers[rng.integers(N_CLUSTERS)] + 0.5 * rng.standard_normal(DIM))
    return events, vocab, np.array(vecs)


def _probes(final_docs: dict, vecs: np.ndarray, vocab: list[str], seed: int):
    """Eval documents (one-word edits of corpus documents, keeping the
    source id) and top-k query vectors (near-copies of corpus vectors)."""
    rng = np.random.default_rng(seed + 1)
    src = rng.choice(sorted(final_docs), size=N_EVAL_DOCS, replace=False)
    eval_docs = [(int(s), " ".join(_perturb(final_docs[int(s)].split(), rng, vocab, 1))) for s in src]
    src = rng.choice(len(vecs), size=N_QUERIES, replace=False)
    queries = vecs[src] + 0.02 * rng.standard_normal((N_QUERIES, DIM))
    return eval_docs, queries


def _replay(events, upto_batch: int) -> dict:
    state = {}
    for b, _o, op, i, text in events:
        if b > upto_batch:
            break
        if op == "delete":
            state.pop(i, None)
        else:
            state[i] = text
    return state


# -------------------------------------------------------------- oracles
def _seq_dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Row-wise dot products summed left to right, as Spark's
    ``aggregate(zip_with(a, b, x * y), 0.0, acc + x)`` does."""
    return np.add.accumulate(a * b, axis=-1)[..., -1]


def _cosines(vecs: np.ndarray, q: np.ndarray) -> np.ndarray:
    """dot / (norm_doc * norm_query), in similarity.cosine_topk's order."""
    return _seq_dot(vecs, q[None, :]) / (np.sqrt(_seq_dot(vecs, vecs)) * np.sqrt(_seq_dot(q, q)))


# ---------------------------------------------------------------- workload
def run(spark, tracer, run_dir: str, seed: int, seconds: float, t_start: float) -> dict:
    import pandas as pd
    from pyspark.sql import functions as F

    from binlog_es_go_spark.operators import dedup, similarity
    from binlog_es_go_spark.operators.lsh_index import LshIndex

    phases = {"session": time.perf_counter() - t_start}
    fails = Failures()
    events, vocab, vecs = _generate(seed)

    ev_pdf = pd.DataFrame(events, columns=["batch", "offset", "op", "doc_id", "text"])
    docs_ev = spark.createDataFrame(
        ev_pdf, "batch int, offset long, op string, doc_id long, text string"
    ).select(
        "batch", "offset", F.lit(0).alias("partition_id"), F.lit(0).alias("seq_in_tx"), "op",
        F.lit(None).cast("timestamp").alias("ts"), "doc_id",
        F.when(F.col("op") != "delete", F.struct("text")).alias("after"),
    ).cache()
    docs_ev.count()
    lsh = LshIndex.create(spark, os.path.join(run_dir, "lsh"), k=LSH_K, bands=LSH_BANDS)
    phases["inputs"] = time.perf_counter() - t_start - sum(phases.values())

    with tracer.op("build"):
        lsh.apply_doc_batch(docs_ev.filter(F.col("batch") == 0).drop("batch"), batch_id=0)
    phases["build"] = time.perf_counter() - t_start - sum(phases.values())
    # warm-up: the build ran the apply path; run the probe path once
    with tracer.op("warmup"):
        ids = spark.createDataFrame([(i,) for i in range(20)], "id long")
        lsh.candidate_pairs(probe_ids=ids).collect()
    setup_s = time.perf_counter() - t_start
    phases["warmup"] = setup_s - sum(phases.values())

    # -------------------------------------------------------------- window
    batch_lat: list[float] = []
    probe_lat: list[float] = []
    cands_total = verified_total = 0
    w0 = time.perf_counter()
    b = 0
    # at least MIN_BATCHES; past that, a batch starts while the window has
    # more than half a batch left
    while b < MAX_BATCHES and (
        b < MIN_BATCHES or time.perf_counter() - w0 + median(batch_lat) / 2 < seconds
    ):
        b += 1
        batch = docs_ev.filter(F.col("batch") == b).drop("batch").coalesce(1)
        changed = [e[3] for e in events if e[0] == b and e[2] != "delete"]
        t0 = time.perf_counter()
        with tracer.op("lsh_apply"):
            lsh.apply_doc_batch(batch, batch_id=b)
        t1 = time.perf_counter()
        with tracer.op("lsh_probe") as op:
            probe = spark.createDataFrame([(i,) for i in changed], "id long")
            got = lsh.candidate_pairs(probe_ids=probe).collect()
            n_ok = sum(1 for r in got if r["est_jaccard"] >= MIN_EST)
            op.update(candidates=len(got), verified=n_ok)
        t2 = time.perf_counter()
        batch_lat.append(t2 - t0)
        probe_lat.append(t2 - t1)
        cands_total += len(got)
        verified_total += n_ok
        want = set(changed)
        fails.check(all(r["id_a"] in want or r["id_b"] in want for r in got),
                    f"probe pairs of batch {b} must involve a changed doc")
    window_s = time.perf_counter() - w0

    # ------------------------------------------------------------ full pass
    final_docs = _replay(events, b)
    eval_docs, queries = _probes(final_docs, vecs, vocab, seed)
    docs_df = spark.createDataFrame(sorted(final_docs.items()), "doc_id long, text string")
    eval_df = spark.createDataFrame(eval_docs, "doc_id long, text string")
    vecs_df = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(N_VECS), "embedding": list(vecs)}),
        "vec_id long, embedding array<double>")
    q_df = spark.createDataFrame(
        pd.DataFrame({"query_id": range(N_QUERIES), "embedding": list(queries)}),
        "query_id long, embedding array<double>")
    passes = {}

    def timed_pass(kind, fn):
        t0 = time.perf_counter()
        with tracer.op(kind):
            out = fn().collect()
        passes[kind] = time.perf_counter() - t0
        return out

    mh = timed_pass("pass_minhash", lambda: dedup.minhash_lsh_candidates(
        docs_df, "text", "doc_id", k=LSH_K, bands=LSH_BANDS))
    fp = timed_pass("pass_fingerprint", lambda: dedup.fingerprint_overlap(
        docs_df, eval_df, text_col="text", id_col="doc_id", window=8))
    ct = timed_pass("pass_cosine", lambda: similarity.cosine_topk(
        vecs_df, q_df, "embedding", "vec_id", "query_id", k=TOPK))
    iv = timed_pass("pass_ivf", lambda: similarity.ivf_kmeans_topk(
        vecs_df, q_df, "embedding", "vec_id", "query_id", k=TOPK))

    # -------------------------------------------------------- correctness
    with tracer.op("check"):
        idx = {(r["id_a"], r["id_b"], r["est_jaccard"]) for r in lsh.candidate_pairs().collect()}
    scratch = {(r["id_a"], r["id_b"], r["est_jaccard"]) for r in mh}
    fails.check(idx == scratch,
                f"index pairs ({len(idx)}) != from-scratch minhash_lsh_candidates ({len(scratch)})")
    planted = {(s, s) for s, _ in eval_docs}
    found = {(r["id_a"], r["id_b"]) for r in fp} & planted
    fails.check(len(found) >= 0.95 * len(planted),
                f"fingerprint_overlap found {len(found)}/{len(planted)} planted edits")
    exact = {}
    for q in range(N_QUERIES):
        cos = _cosines(vecs, queries[q])
        order = sorted(range(N_VECS), key=lambda j: (-cos[j], j))[:TOPK]
        exact[q] = (cos, [(j, float(cos[j])) for j in order])
    got_ct: dict[int, list] = {}
    for r in sorted(ct, key=lambda r: (r["query_id"], r["rank"])):
        got_ct.setdefault(r["query_id"], []).append((r["doc_id"], r["cosine"]))
    fails.check(got_ct == {q: top for q, (_c, top) in exact.items()},
                "cosine_topk != NumPy exact top-k")
    fails.check(all(r["rank"] <= TOPK and float(exact[r["query_id"]][0][r["doc_id"]]) == r["cosine"]
                    for r in iv),
                "ivf_kmeans_topk scores != NumPy recompute")

    snap = lsh.table.snapshot()
    index_bytes = sum(snap.file_sizes.get(p, 0) for fl in snap.buckets.values() for p in fl)
    index_bytes += sum(snap.file_sizes.get(p, 0) for p in snap.deltas or [])
    n = len(batch_lat)
    return {
        "fails": fails,
        "metrics": {
            "setup_s": (setup_s, "s", 1),
            "latency_p50_s": (median(batch_lat), "s", n),
            "latency_p90_s": (pct(batch_lat, 90), "s", n),
            "read_p50_s": (median(probe_lat), "s", n),
            "pass_s": (sum(passes.values()), "s", len(passes)),
            "throughput_per_s": (n * DOC_CHANGES / sum(batch_lat), "1/s", n),
            "bytes_per_row": (index_bytes / (len(final_docs) * LSH_BANDS), "B", 1),
        },
        "trace_latency": median(batch_lat),
        "conditions": {
            "docs": N_DOCS,
            "doc_changes_per_batch": DOC_CHANGES,
            "vectors": N_VECS,
            "queries": N_QUERIES,
            "window_batches": n,
            "window_s": round(window_s, 3),
            "candidates": cands_total,
            "verified": verified_total,
            "passes_s": {k: round(v, 4) for k, v in passes.items()},
            "setup_phases_s": {k: round(v, 3) for k, v in phases.items()},
        },
    }
