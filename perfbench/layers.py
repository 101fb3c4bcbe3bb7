"""Per-layer metrics of a traced run, derived from its spans, the
executor metrics attributed to them and the workload's own counts.

``PER_LAYER`` is the set every traced run reports, whatever the
workload: a layer the workload does not call reports 0 for its counts.
Layer times that only some workloads have (``<span>.busy_s`` and the
like) go to the full table that the traced run prints and writes out.
"""

from __future__ import annotations

import os
import statistics

from stats import self_times
from tracing import node_metric

#: (name, unit) of the per-layer metrics in the result line
PER_LAYER = [
    ("session.get_spark_s", "s"),
    ("spark.busy_s", "s"),
    ("spark.core_util", "ratio"),
    ("spark.gc_s", "s"),
    ("spark.shuffle_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"),
    ("trace.overhead.job_s", "s"),
    ("trace.overhead.op_p50_ms", "ms"),
    ("trace.overhead.op_tail_ms", "ms"),
    ("lake.quarantine_split.quarantined_rows", "count"),
    ("lake.write_lake.files", "count"),
    ("lake.write_lake.bytes_per_input_byte", "ratio"),
    ("lake.read_lake.files_per_query", "count"),
    ("lake.read_lake.rows_scanned_per_row_returned", "ratio"),
    ("normalize.rows_per_busy_s", "rows/s"),
    ("aggregates.count_by_key.shuffle_bytes", "bytes"),
    ("speed_layer.rows_per_batch", "rows"),
    ("speed_layer.files_written_per_batch", "count"),
    ("speed_layer.backlog_files", "count"),
    ("speed_layer.fixed_overhead_share", "ratio"),
    ("dedup.minhash_lsh_pairs.shuffle_bytes", "bytes"),
    ("dedup.lsh.verified_pairs", "count"),
    ("dedup.lsh.verify_ratio", "ratio"),
    ("dedup.lsh.max_task_over_median", "ratio"),
    ("curation.kept_docs", "count"),
]
UNITS = dict(PER_LAYER)


def unit_of(name: str) -> str:
    """Unit of a per-layer metric, including the full table's."""
    if name in UNITS:
        return UNITS[name]
    for suffix, unit in (("_s", "s"), ("_bytes", "bytes"), (".core_util", "ratio"),
                         (".calls", "count"), ("_batches", "count")):
        if name.endswith(suffix):
            return unit
    return ""


def _descendants(spans: list[dict]) -> list[list[int]]:
    kids: dict[int, list[int]] = {}
    for i, sp in enumerate(spans):
        if sp["parent"] is not None:
            kids.setdefault(sp["parent"], []).append(i)
    out = []
    for i in range(len(spans)):
        todo, seen = [i], []
        while todo:
            j = todo.pop()
            seen.append(j)
            todo.extend(kids.get(j, []))
        out.append(seen)
    return out


def span_table(spans: list[dict], attr, nproc: int) -> dict[str, dict]:
    """Per span name: calls, wall, self time and executor totals (each
    span's executor totals include its descendants' jobs)."""
    desc = _descendants(spans)
    selfs = self_times(spans)
    table: dict[str, dict] = {}
    for i, sp in enumerate(spans):
        groups = [g for j in desc[i] for g in spans[j]["groups"]]
        tot = attr.totals(groups)
        row = table.setdefault(sp["name"], {"calls": 0, "wall_s": 0.0, "self_s": 0.0,
                                            "busy_s": 0.0, "gc_s": 0.0, "spill_bytes": 0,
                                            "shuffle_bytes": 0})
        row["calls"] += 1
        row["wall_s"] += sp["end"] - sp["start"]
        row["self_s"] += selfs[i]
        for k in ("busy_s", "gc_s", "spill_bytes", "shuffle_bytes"):
            row[k] += tot[k]
    for row in table.values():
        row["core_util"] = row["busy_s"] / (row["wall_s"] * nproc) if row["wall_s"] else 0.0
    return table


def _scan_nodes(executions: list[dict]) -> list[dict]:
    return [n for ex in executions for n in ex.get("nodes", [])
            if n["nodeName"].startswith("Scan ")]


def _dir_files(path: str) -> list[str]:
    return [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs
            if not f.startswith((".", "_")) and "_spark_metadata" not in d]


def layer_metrics(name: str, result: dict, spans: list[dict], attr, status,
                  nproc: int) -> tuple[dict, dict]:
    """(per-layer metrics of ``PER_LAYER``, full table for the trace file)."""
    table = span_table(spans, attr, nproc)
    m = {k: 0.0 for k, _ in PER_LAYER}
    top = [sp for sp in spans if sp["parent"] is None]
    tot = attr.totals([g for i in range(len(spans)) for g in spans[i]["groups"]])
    wall = sum(sp["end"] - sp["start"] for sp in top)
    m.update({"spark.busy_s": tot["busy_s"], "spark.gc_s": tot["gc_s"],
              "spark.core_util": tot["busy_s"] / (wall * nproc) if wall else 0.0,
              "spark.shuffle_bytes": tot["shuffle_bytes"], "spark.spill_bytes": tot["spill_bytes"]})
    full: dict[str, float] = {}
    for span, row in table.items():
        for k, v in row.items():
            full[f"{span}.{k}"] = v

    if name == "listings_batch":
        quarantined = [sp["attrs"]["quarantined_rows"] for sp in spans
                       if sp["name"] == "lake.quarantine_split"]
        m["lake.quarantine_split.quarantined_rows"] = quarantined[-1]
        files = _dir_files(result["lake_dir"])
        m["lake.write_lake.files"] = len(files)
        m["lake.write_lake.bytes_per_input_byte"] = (
            sum(os.path.getsize(f) for f in files) / result["raw_bytes"])
        queries = [sp for sp in spans if "query" in sp["attrs"]]
        scans = _scan_nodes(attr.executions([g for sp in queries for g in sp["groups"]]))
        scanned = sum(node_metric(n, "number of output rows") for n in scans)
        returned = sum(sp["attrs"]["rows_matched"] for sp in queries)
        m["lake.read_lake.files_per_query"] = (
            sum(node_metric(n, "number of files read") for n in scans) / len(queries))
        m["lake.read_lake.rows_scanned_per_row_returned"] = scanned / returned if returned else 0.0
        norm = table["normalize.normalize_listings"]
        m["normalize.rows_per_busy_s"] = norm["calls"] * result["exp"]["rows"] / norm["busy_s"]
        etl_cbk = [i for i, sp in enumerate(spans)
                   if sp["name"] == "aggregates.count_by_key" and "query" not in sp["attrs"]]
        m["aggregates.count_by_key.shuffle_bytes"] = statistics.mean(
            attr.totals(spans[i]["groups"])["shuffle_bytes"] for i in etl_cbk)
    elif name == "listings_stream":
        norm = table["normalize.normalize_listings"]
        m["normalize.rows_per_busy_s"] = result["backlog_rows"] / norm["busy_s"]
        batches = result["batches"]["open"]
        trig = [b["durationMs"]["triggerExecution"] / 1e3 for b in batches]
        add = [b["durationMs"].get("addBatch", 0) / 1e3 for b in batches]
        full["speed_layer.batch_s"] = statistics.mean(trig)
        full["speed_layer.fixed_overhead_s"] = statistics.mean(t - a for t, a in zip(trig, add))
        m["speed_layer.fixed_overhead_share"] = full["speed_layer.fixed_overhead_s"] / full["speed_layer.batch_s"]
        m["speed_layer.rows_per_batch"] = statistics.mean(b["numInputRows"] for b in batches)
        m["speed_layer.files_written_per_batch"] = (
            len(_dir_files(result["open_lake"])) / len(batches))
        m["speed_layer.backlog_files"] = result["backlog_files"]
        drain = result["batches"]["backlog"]
        full["speed_layer.drain_batches"] = len(drain)
    elif name == "corpus_curation":
        lsh = [sp for sp in spans if sp["name"] == "dedup.minhash_lsh_pairs"][-1]
        row = table["dedup.minhash_lsh_pairs"]
        m["dedup.minhash_lsh_pairs.shuffle_bytes"] = row["shuffle_bytes"] / row["calls"]
        pairs = lsh["attrs"]["verified_pairs"]
        m["dedup.lsh.verified_pairs"] = pairs
        candidates = _band_join_rows(attr.executions(lsh["groups"]))
        m["dedup.lsh.verify_ratio"] = pairs / candidates if candidates else 0.0
        m["dedup.lsh.max_task_over_median"] = _max_task_over_median(
            attr.stage_attempts(lsh["groups"]), status)
        m["curation.kept_docs"] = result["kept_docs"]
    return m, full


def _band_join_rows(executions: list[dict]) -> float:
    """Candidate rows out of the LSH band self-join: the output of the
    first join on the path from the band keys, i.e. the join with the
    most output rows among the execution's joins (the verification joins
    downstream only ever see the distinct candidates)."""
    joins = [n for ex in executions for n in ex.get("nodes", []) if n["nodeName"].endswith("Join")]
    return max((node_metric(n, "number of output rows") for n in joins), default=0.0)


def _max_task_over_median(attempts: list[dict], status) -> float:
    """Hot-bucket skew: slowest over median task run time, in the stage
    that reads the most shuffle data."""
    if not attempts:
        return 0.0
    hot = max(attempts, key=lambda a: a["shuffleReadBytes"])
    q = status.task_quantiles(hot["stageId"], hot["attemptId"])["executorRunTime"]
    return q[1] / q[0] if q[0] else 0.0
