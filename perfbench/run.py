"""perfbench: the seeded end-to-end benchmark of binlog_es_go_spark.

Run modes (from the root of a checkout; one JVM, ``nproc`` Spark cores,
heap from SPARK_DRIVER_MEM, default 1g):

  untimed layers, end-to-end metrics (the measured run):
    python3 perfbench/run.py --workload tail --seed 1 --seconds 10 --trace 0

  traced run, per-layer metrics (timing wrappers + Spark job groups):
    python3 perfbench/run.py --workload tail --seed 1 --seconds 10 --trace 1

Workloads: ``tail`` (realtime open loop + read-your-writes lookups) and
``corpus`` (incremental near-dup index maintenance + full operator pass).
See perfbench/README.md for what each metric means on each workload.

The last stdout line is one JSON object:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {name: {"value", "unit"}}}
The run record (host conditions, CPU canary before/after, sample counts,
every metric) is written to .perfbench_work/<workload>-<seed>-t<trace>/record.json.

Reading the span dump of a traced run (.perfbench_work/<run>/spans.json):
  spans are [name, start, end, parent, op, attrs] rows; ``parent`` and
  ``op`` index into ``spans`` and ``ops``. For example, self time of every
  apply_batch call inside window commits:

    import json
    d = json.load(open(".perfbench_work/tail-1-t1/spans.json"))
    S, ops = d["spans"], d["ops"]
    kids = {}
    for s in S:
        if s[3] is not None:
            kids[s[3]] = kids.get(s[3], 0) + s[2] - s[1]
    print([round(s[2] - s[1] - kids.get(i, 0), 3) for i, s in enumerate(S)
           if s[0] == "apply_batch" and s[4] is not None and ops[s[4]]["kind"] == "commit"])

Exit status is 0 only when every check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

T0 = time.perf_counter()
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common  # noqa: E402

WORKLOADS = ("tail", "corpus")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    import importlib

    import binlog_es_go_spark  # noqa: F401  (fail fast outside a checkout)

    run_dir = common.prepare_env(f"{args.workload}-{args.seed}-t{args.trace}")
    canary_before = common.canary_s()
    workload = importlib.import_module(f"perfbench.{args.workload}")
    from perfbench.trace import NullTracer, Tracer, per_layer_metrics

    with common.RssSampler() as rss:
        spark = common.start_session(f"perfbench-{args.workload}")
        try:
            tracer = Tracer(spark) if args.trace else NullTracer()
            if args.trace:
                tracer.install()
            try:
                res = workload.run(spark, tracer, run_dir, args.seed, args.seconds, T0)
            finally:
                if args.trace:
                    tracer.uninstall()
        finally:
            common.stop_spark(spark)
    canary_after = common.canary_s()

    fails = res["fails"]
    e2e = dict(res["metrics"])
    e2e["peak_rss_mb"] = (rss.peak_kb / 1024.0, "MB", 1)
    if args.trace:
        metrics = per_layer_metrics(tracer)
        n_spans = len(tracer.spans)
        metrics["trace.latency_p50_s"] = (res["trace_latency"], "s")
        metrics["trace.overhead_s"] = (tracer.side_s + n_spans * tracer.span_cost_s(), "s")
        tracer.dump(os.path.join(run_dir, "spans.json"))
    else:
        metrics = {k: (v, u) for k, (v, u, _n) in e2e.items()}

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "conditions": {
            "nproc": common.nproc(),
            "mem_total_mb": round(common.mem_total_mb(), 1),
            "heap": os.environ.get("SPARK_DRIVER_MEM"),
            "parallelism": common.nproc(),
            "canary_s": [round(canary_before, 4), round(canary_after, 4)],
            "peak_rss_kb_by_process": rss.peak_procs,
            **res["conditions"],
        },
        "samples": {k: n for k, (_v, _u, n) in e2e.items()},
        "failures": fails.messages,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    with open(os.path.join(run_dir, "record.json"), "w") as f:
        json.dump(record, f, indent=1)
    common.drop_data(run_dir)
    for k, (v, u, n) in sorted(e2e.items()):
        print(f"# {args.workload} {k} = {v:.6g} {u} (n={n})")
    ok = fails.failed == 0
    print(json.dumps({
        "correct": ok,
        "attempted": fails.attempted,
        "failed": fails.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
