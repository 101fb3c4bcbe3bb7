"""Benchmark of record: batch ETL, speed-layer freshness and corpus
curation on local[nproc].

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Inputs are generated from the seed (and
cached per seed under perfbench/.cache); scratch files go under
perfbench/.work and are removed at the end. The last line of standard
output is one JSON object with ``correct``, ``attempted``, ``failed``
and ``metrics``: the end-to-end metrics untraced, the per-layer metrics
traced. See perfbench/README.md for what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

import bootstrap

HERE = os.path.dirname(os.path.abspath(__file__))

#: (name, unit) of the end-to-end metrics in the result line, reported by
#: every workload. op_tail_ms is printed by name only: with the few tens
#: of operations a run affords, it is too close to the median (or the
#: maximum of a handful) to gate on.
END_TO_END = [
    ("setup_s", "s"),
    ("job_s", "s"),
    ("op_p50_ms", "ms"),
    ("peak_rss_mb", "MB"),
]


def _end_to_end(result: dict) -> dict:
    import stats

    lat_ms = [1e3 * s for s in result["op_lat_s"]]
    print(f"operation latencies (ms): {[round(v) for v in lat_ms]}", file=sys.stderr)
    tail_ms, pct = stats.tail(lat_ms)
    return {"job_s": result["job_s"], "op_p50_ms": statistics.median(lat_ms),
            "op_tail_ms": tail_ms, "op_tail_pct": pct, "op_samples": len(lat_ms)}


def _print_named(title: str, rows: dict) -> None:
    print(f"# {title}")
    for k, (v, unit) in rows.items():
        print(f"{k:56s} {v:14.6g} {unit}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    bootstrap.prepare_env(work)
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str) -> int:
    steal0, total0 = bootstrap.cpu_ticks()
    t0 = time.perf_counter()
    spark = bootstrap.start_session(os.path.join(work, "main"))
    get_spark_s = time.perf_counter() - t0
    setup_s = bootstrap.process_age_s()
    print(f"session ready after {setup_s:.2f}s", file=sys.stderr, flush=True)

    import layers
    import workloads
    from tracing import Attribution, NullTracer, SparkStatus, Tracer

    if args.workload not in workloads.WORKLOADS:
        bootstrap.stop_session(spark)
        raise SystemExit(f"unknown workload {args.workload!r}; "
                         f"choose from {sorted(workloads.WORKLOADS)}")
    fn = workloads.WORKLOADS[args.workload]
    n = bootstrap.nproc()
    cache = os.path.join(HERE, ".cache")
    runs = []
    try:
        if args.trace:
            # an untraced pass then a traced one, each half the window;
            # their difference is the tracing overhead
            plain = workloads.Run(spark, os.path.join(work, "plain"), cache, args.seed,
                                  args.seconds / 2, NullTracer())
            runs.append(plain)
            plain_res = fn(plain)
            tracer = Tracer(spark.sparkContext)
            traced = workloads.Run(spark, os.path.join(work, "traced"), cache, args.seed,
                                   args.seconds / 2, tracer)
            traced.warm_up = False
            runs.append(traced)
            res = fn(traced)
            status = SparkStatus(spark.sparkContext)
            attr = Attribution(status.snapshot())
            per_layer, full = layers.layer_metrics(args.workload, res, tracer.spans, attr,
                                                   status, n)
            per_layer["session.get_spark_s"] = get_spark_s
            e_plain, e_traced = _end_to_end(plain_res), _end_to_end(res)
            for k in ("job_s", "op_p50_ms", "op_tail_ms"):
                per_layer[f"trace.overhead.{k}"] = e_traced[k] - e_plain[k]
            trace_dir = os.path.join(HERE, ".traces")
            os.makedirs(trace_dir, exist_ok=True)
            stem = os.path.join(trace_dir, f"{args.workload}-s{args.seed}-{os.getpid()}")
            tracer.write(stem + ".spans.jsonl")
            with open(stem + ".layers.json", "w", encoding="utf-8") as f:
                json.dump({"per_layer": per_layer, "full": full}, f, indent=1, sort_keys=True)
        else:
            run = workloads.Run(spark, os.path.join(work, "plain"), cache, args.seed,
                                args.seconds, NullTracer())
            runs.append(run)
            res = fn(run)
        e2e = _end_to_end(res)
        peak_rss_mb = (bootstrap.vm_hwm_mb(bootstrap.jvm_pid(spark))
                       + bootstrap.vm_hwm_mb("self"))
    finally:
        bootstrap.stop_session(spark)
    steal1, total1 = bootstrap.cpu_ticks()

    e2e["setup_s"] = setup_s
    e2e["peak_rss_mb"] = peak_rss_mb
    attempted = sum(r.attempted for r in runs)
    failed = sum(r.failed for r in runs)

    op = res["op_name"]
    named = dict(res["named"])
    named.update({
        "setup_s": (e2e["setup_s"], "s"),
        "job_s": (e2e["job_s"], "s"),
        f"op_p50_ms = {op}_p50_ms": (e2e["op_p50_ms"], "ms"),
        f"op_tail_ms = {op}_tail_ms (p{e2e['op_tail_pct']:.1f} of {e2e['op_samples']})":
            (e2e["op_tail_ms"], "ms"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
        "ops_failed_ratio": (failed / attempted if attempted else 1.0, "ratio"),
        "host_cpu_steal_share": ((steal1 - steal0) / max(1, total1 - total0), "ratio"),
    })
    _print_named(f"{args.workload} seed={args.seed} seconds={args.seconds} "
                 f"trace={args.trace} nproc={n}", named)
    if args.trace:
        _print_named("per-layer", {k: (v, layers.unit_of(k)) for k, v in
                                   sorted({**full, **per_layer}.items())})
        metrics = {k: {"value": per_layer[k], "unit": u} for k, u in layers.PER_LAYER}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
    print(json.dumps({"correct": failed == 0 and attempted > 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
