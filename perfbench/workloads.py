"""The three workloads. Each one calls the package's public layer
functions, times what a user waits for, and checks every result against
the generator's independently computed expectation.

A workload gets a :class:`Run` and a tracer. Untraced, spans cost
nothing and no layer call is materialised early. Traced, every span
materialises its layer's result at the boundary (a count, a collect, a
write or a ``noop`` sink) so the per-layer executor metrics are not
folded into one job.
"""

from __future__ import annotations

import math
import os
import statistics
import sys
import threading
import time
import traceback

from pyspark.sql import functions as F

import bootstrap
import gen
import stats
from real_estate_bigdata_spark.functions.normalize import normalize_listings
from real_estate_bigdata_spark.operators.aggregates import count_by_key, top_k
from real_estate_bigdata_spark.operators.curation import curate_corpus
from real_estate_bigdata_spark.operators.dedup import minhash_lsh_pairs
from real_estate_bigdata_spark.sources import lake
from real_estate_bigdata_spark.sources.kafka import decode_kafka_records
from real_estate_bigdata_spark.streaming import speed_layer

# Sizes fix the work per operation.
LISTING_ROWS, LISTING_FILES = 50_000, 8
BACKLOG_FILES, BACKLOG_ROWS_PER_FILE, DRAIN_FILES_PER_TRIGGER = 60, 500, 10
WARM_BACKLOG_FILES = 40
#: backlog drains per run, each into a fresh lake and checkpoint
DRAINS = 3
OPEN_FILES_PER_S, OPEN_ROWS_PER_FILE = 10, 200
CORPUS_BLOCKS = 40

# Operations per second of the measurement window. Every run with the
# same --seconds performs the same sequence of operations, so runs differ
# only in their inputs and in timing; the rates make one run measure
# about --seconds on a 4-core host.
ETL_PER_S, QUERY_CYCLES_PER_S = 0.375, 0.5
CURATIONS_PER_S, BLOCKS_PER_S = 0.375, 0.625
#: share of the window the stream's open loop publishes for
OPEN_SHARE = 0.9

#: full-size operations run before measuring; the first pays class
#: loading and code generation, the rest let the JIT settle
WARM_ETL, WARM_BLOCKS, WARM_CURATIONS = 1, 1, 1
#: warm-up queries: one cycle of every kind
WARM_QUERIES = len(gen.QUERY_KINDS)


class Run:
    """State of one benchmark run: session, directories, op accounting."""

    def __init__(self, spark, work: str, cache: str, seed: int, seconds: float,
                 tracer) -> None:
        self.spark = spark
        self.work = work
        self.cache = cache
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        #: the traced pass follows an untraced one and skips the warm-up
        self.warm_up = True

    def record(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"FAILED: {what}", file=sys.stderr)
        return ok

    def attempt(self, what: str, fn, *args):
        """Run one operation; an exception counts as a failed operation."""
        try:
            return fn(*args)
        except Exception:  # noqa: BLE001 - the run must report, not die
            traceback.print_exc()
            self.record(False, f"{what}: raised")
            return None

    def dir(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def log(msg: str) -> None:
    """Progress on standard error, stamped with seconds since process start."""
    print(f"[{bootstrap.process_age_s():8.2f}s] {msg}", file=sys.stderr, flush=True)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _count(rate: float, seconds: float, least: int) -> int:
    return max(least, round(rate * seconds))


# --------------------------------------------------------------------------
# listings_batch
# --------------------------------------------------------------------------


def _etl(run: Run, raw_dir: str, lake_dir: str, view_dir: str) -> tuple[float, int]:
    """One ETL iteration; returns (seconds, quarantined rows)."""
    spark, tr = run.spark, run.tracer
    t0 = time.perf_counter()
    with tr.span("batch.etl"):
        with tr.span("lake.read_raw_jsonl"):
            raw = lake.read_raw_jsonl(spark, raw_dir)
            if tr.enabled:
                _noop(raw)
        with tr.span("lake.quarantine_split") as sp:
            clean, bad, release = lake.quarantine_split(raw)
            n_bad = bad.count()
            if sp is not None:
                sp["attrs"]["quarantined_rows"] = n_bad
        try:
            with tr.span("normalize.normalize_listings"):
                norm = normalize_listings(clean)
                if tr.enabled:
                    norm = norm.persist()
                    _noop(norm)
            with tr.span("lake.write_lake"):
                lake.write_lake(norm, lake_dir, mode="overwrite")
            with tr.span("aggregates.count_by_key"):
                view = count_by_key(lake.read_lake(spark, lake_dir), "quan_huyen")
                view.write.mode("overwrite").parquet(view_dir)
        finally:
            if tr.enabled:
                norm.unpersist()
            release()
    return time.perf_counter() - t0, n_bad


def _check_etl(run: Run, exp: dict, n_bad: int, lake_dir: str, view_dir: str) -> bool:
    view = {r[0]: r[1] for r in run.spark.read.parquet(view_dir).collect()}
    rows = lake.read_lake(run.spark, lake_dir).count()
    ok = run.record(n_bad == exp["malformed"], f"quarantined {n_bad} != {exp['malformed']}")
    ok &= run.record(rows == exp["rows"], f"lake rows {rows} != {exp['rows']}")
    return ok & run.record(view == exp["districts"], "batch view != expected district counts")


def _query(run: Run, lake_dir: str, q: dict):
    """Runs one analyst query; returns (seconds, answer)."""
    spark, tr = run.spark, run.tracer
    kind = q["kind"]
    span = {"district_count": "lake.read_lake", "price_band": "lake.read_lake",
            "top_k": "aggregates.top_k", "source_view": "aggregates.count_by_key"}[kind]
    t0 = time.perf_counter()
    with tr.span(span, query=kind) as sp:
        df = lake.read_lake(spark, lake_dir)
        if kind == "district_count":
            got = df.filter(F.col("quan_huyen") == q["district"]).count()
        elif kind == "price_band":
            got = df.filter((F.col("source") == q["source"])
                            & F.col("price_ty").between(q["lo"], q["hi"])).count()
        elif kind == "top_k":
            priced = df.filter(F.col("price_ty").isNotNull())
            rows = top_k(priced, [F.col("price_ty").desc(), F.col("duong_pho")], q["k"]).collect()
            got = [r["price_ty"] for r in rows]
        else:
            rows = count_by_key(df.filter(F.col("source") == q["source"]), "quan_huyen").collect()
            got = {r[0]: r[1] for r in rows}
        if sp is not None:  # rows the query's predicate selects
            if kind == "top_k":
                sp["attrs"]["rows_matched"] = q["matched"]
            elif kind == "source_view":
                sp["attrs"]["rows_matched"] = sum(got.values())
            else:
                sp["attrs"]["rows_matched"] = got
    return time.perf_counter() - t0, got


def listings_batch(run: Run) -> dict:
    def build(d: str) -> dict:
        os.makedirs(os.path.join(d, "raw"))
        exp = gen.write_listings_jsonl(os.path.join(d, "raw"), run.seed, LISTING_ROWS, LISTING_FILES)
        exp["queries"] = gen.listing_queries(run.seed, exp, 1000)
        return exp

    src, exp = gen.cached(run.cache, f"listings-s{run.seed}-n{LISTING_ROWS}-v{gen.GEN_VERSION}", build)
    log("listings inputs ready")
    raw_dir, lake_dir, view_dir = os.path.join(src, "raw"), run.dir("lake"), run.dir("view")
    queries = exp["queries"]

    def etl_op():
        s, n_bad = _etl(run, raw_dir, lake_dir, view_dir)
        _check_etl(run, exp, n_bad, lake_dir, view_dir)
        return s

    def query_op(q: dict):
        s, got = _query(run, lake_dir, q)
        run.record(got == q["expect"], f"query {q['kind']} answer mismatch")
        return s

    if run.warm_up:
        for _ in range(WARM_ETL):
            run.attempt("warm-up etl", etl_op)
        for q in queries[:WARM_QUERIES]:
            run.attempt("warm-up query", query_op, q)
        log("warm-up done")
    etl_s = [s for _ in range(_count(ETL_PER_S, run.seconds, 2))
             if (s := run.attempt("etl", etl_op)) is not None]
    log(f"ETL phase done (s): {[round(v, 3) for v in etl_s]}")
    n_queries = len(gen.QUERY_KINDS) * _count(QUERY_CYCLES_PER_S, run.seconds, 3)
    by_kind: dict[str, list[float]] = {k: [] for k in gen.QUERY_KINDS}
    for q in queries[WARM_QUERIES:WARM_QUERIES + n_queries]:
        if (s := run.attempt("query", query_op, q)) is not None:
            by_kind[q["kind"]].append(s)
    lat = [s for v in by_kind.values() for s in v]
    return {
        "job_s": statistics.median(etl_s),
        "op_lat_s": lat,
        "op_name": "lake_query",
        "named": {"batch_etl_s": (statistics.median(etl_s), "s"),
                  "etl_iterations": (len(etl_s), "count"),
                  "lake_queries": (len(lat), "count"),
                  **{f"lake_query_p50_ms.{k}": (1e3 * statistics.median(v), "ms")
                     for k, v in by_kind.items() if v}},
        "lake_dir": lake_dir,
        "raw_bytes": sum(os.path.getsize(os.path.join(raw_dir, f)) for f in os.listdir(raw_dir)),
        "exp": exp,
    }


# --------------------------------------------------------------------------
# listings_stream
# --------------------------------------------------------------------------


def _check_stream_lake(run: Run, dest: str, exp: dict, what: str) -> bool:
    ids = F.regexp_extract("duong_pho", r"(\d+)$", 1).cast("long")
    r = run.spark.read.parquet(dest).agg(
        F.count("*"), F.countDistinct(ids), F.sum(ids), F.min(ids), F.max(ids)).collect()[0]
    n, first = exp["rows"], exp["first_id"]
    want = (n, n, exp["id_sum"], first, first + n - 1)
    return run.record(tuple(r) == want, f"{what} lake holds {tuple(r)}, want {want} (exactly once)")


def _progress_batches(query) -> list[dict]:
    return [p for p in query.recentProgress if p["numInputRows"] > 0]


class Publisher(threading.Thread):
    """Open-loop generator: publishes file k at start + k / rate, however
    the system keeps up. A publish writes a dot-prefixed temp name (the
    file source skips hidden files) and renames it into place."""

    def __init__(self, files: list[tuple[str, bytes]], dest: str, start: float, rate: float):
        super().__init__(name="perfbench-publisher", daemon=True)
        self.files, self.dest, self.start_at, self.rate = files, dest, start, rate
        self.scheduled: dict[str, float] = {}
        self.late: list[float] = []
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            for k, (name, data) in enumerate(self.files):
                due = self.start_at + k / self.rate
                time.sleep(max(0.0, due - time.time()))
                tmp = os.path.join(self.dest, f".{name}.tmp")
                with open(tmp, "wb") as f:
                    f.write(data)
                os.rename(tmp, os.path.join(self.dest, name))
                self.scheduled[name] = due
                self.late.append(time.time() - due)
        except BaseException as e:  # noqa: BLE001 - reported by the caller
            self.error = e


def _wait_committed(names, ckpt: str, timeout_s: float) -> list[str]:
    """Wait until every named file is in a committed micro-batch; returns
    the names still uncommitted at the timeout."""
    deadline = time.time() + timeout_s
    while True:
        _, missing = stats.freshness({n: 0.0 for n in names}, ckpt)
        if not missing or time.time() > deadline:
            return missing
        time.sleep(0.1)


def listings_stream(run: Run) -> dict:
    spark, tr = run.spark, run.tracer
    # one extra open-loop file primes the query before the schedule starts
    n_open = 1 + max(1, math.ceil(OPEN_FILES_PER_S * OPEN_SHARE * run.seconds))

    def build(d: str) -> dict:
        exp = {}
        for name, first, nf, rpf in (
            ("warm", 0, WARM_BACKLOG_FILES, BACKLOG_ROWS_PER_FILE),
            ("backlog", 10_000_000, BACKLOG_FILES, BACKLOG_ROWS_PER_FILE),
            ("open", 20_000_000, n_open, OPEN_ROWS_PER_FILE),
        ):
            os.makedirs(os.path.join(d, name))
            exp[name] = gen.write_envelope_files(os.path.join(d, name), run.seed, first, nf, rpf)
        return exp

    key = (f"stream-s{run.seed}-w{WARM_BACKLOG_FILES}-b{BACKLOG_FILES}x{BACKLOG_ROWS_PER_FILE}"
           f"-o{n_open}x{OPEN_ROWS_PER_FILE}-v{gen.GEN_VERSION}")
    src, exp = gen.cached(run.cache, key, build)
    log("envelope inputs ready")
    batches: dict[str, list[dict]] = {}

    def drain(name: str, tag: str) -> float:
        dest, ckpt = run.dir(f"{tag}-lake"), run.dir(f"{tag}-ckpt")
        t0 = time.perf_counter()
        with tr.span("speed_layer.drain", feed=name) as sp:
            source = speed_layer.kafka_envelope_file_source(
                spark, os.path.join(src, name), max_files_per_trigger=DRAIN_FILES_PER_TRIGGER)
            q = speed_layer.run_speed_layer(source, dest, ckpt, available_now=True)
            if sp is not None:
                sp["groups"].append(str(q.runId))
            q.awaitTermination()
        s = time.perf_counter() - t0
        batches[name] = _progress_batches(q)
        log(f"{name} drained in {s:.3f}s; micro-batches (ms): "
            f"{[b['durationMs']['triggerExecution'] for b in batches[name]]}")
        run.attempted += len(batches[name])
        if q.exception() is not None:
            run.record(False, f"{name} drain failed: {q.exception()}")
        files = sorted(f for f in os.listdir(os.path.join(src, name)) if f.endswith(".parquet"))
        missing = _wait_committed(files, ckpt, 0)
        run.attempted += len(files)
        run.failed += len(missing)
        _check_stream_lake(run, dest, exp[name], name)
        return s

    if run.warm_up:
        run.attempt("warm-up drain", drain, "warm", "warm")
        log("warm-up drain done")

    # open loop first: its twenty-odd micro-batches also warm the drains
    live, dest, ckpt = run.dir("live"), run.dir("open-lake"), run.dir("open-ckpt")
    os.makedirs(live)
    files = []
    for f in sorted(os.listdir(os.path.join(src, "open"))):
        if f.endswith(".parquet"):
            with open(os.path.join(src, "open", f), "rb") as fh:
                files.append((f, fh.read()))
    with tr.span("speed_layer.open_loop") as sp:
        source = speed_layer.kafka_envelope_file_source(spark, live)
        q = speed_layer.run_speed_layer(source, dest, ckpt, available_now=False,
                                        processing_time="0 seconds")
        if sp is not None:
            sp["groups"].append(str(q.runId))
        # prime: the query's first micro-batch plans and opens the sink
        Publisher(files[:1], live, time.time(), OPEN_FILES_PER_S).run()
        primed = not _wait_committed([files[0][0]], ckpt, 60)
        run.record(primed, "open-loop priming file never committed")
        pub = Publisher(files[1:], live, time.time() + 0.2, OPEN_FILES_PER_S)
        pub.start()
        pub.join()
        _, behind = stats.freshness(pub.scheduled, ckpt)
        missing = _wait_committed(list(pub.scheduled), ckpt, 60)
        q.stop()
        q.awaitTermination()
    log(f"open loop done: {len(pub.scheduled)} files published")
    if pub.error is not None:
        run.record(False, f"publisher failed: {pub.error!r}")
    if q.exception() is not None:
        run.record(False, f"open-loop query failed: {q.exception()}")
    batches["open"] = _progress_batches(q)
    log(f"open-loop micro-batches (ms): {[b['durationMs']['triggerExecution'] for b in batches['open']]}")
    run.attempted += len(batches["open"]) + len(files) - 1
    run.failed += len(missing) + (len(files) - 1 - len(pub.scheduled))
    _check_stream_lake(run, dest, exp["open"], "open-loop")
    fresh, _ = stats.freshness(pub.scheduled, ckpt)
    lat = list(fresh.values())

    if tr.enabled:
        backlog = os.path.join(src, "backlog")
        with tr.span("kafka.decode_kafka_records"):
            env = spark.read.schema(speed_layer.ENVELOPE_SCHEMA).parquet(backlog)
            _noop(decode_kafka_records(env))
        with tr.span("normalize.normalize_listings", feed="backlog"):
            _noop(normalize_listings(decode_kafka_records(env).drop("kafka_ts")))

    drains = [s for i in range(DRAINS)
              if (s := run.attempt("backlog drain", drain, "backlog", f"backlog{i}")) is not None]
    log(f"backlog drained {len(drains)} times (s): {[round(v, 3) for v in drains]}")
    drain_s = statistics.median(drains)
    backlog_rows = exp["backlog"]["rows"]
    return {
        "job_s": drain_s,
        "op_lat_s": lat,
        "op_name": "stream_fresh",
        "named": {
            "stream_drain_rows_per_s": (backlog_rows / drain_s if drain_s else float("nan"), "rows/s"),
            "generator_late_p50_ms": (1e3 * statistics.median(pub.late) if pub.late else float("nan"), "ms"),
            "generator_late_max_ms": (1e3 * max(pub.late) if pub.late else float("nan"), "ms"),
            "published_files": (len(pub.scheduled), "count"),
        },
        "batches": batches,
        "backlog_files": len(behind),
        "backlog_rows": backlog_rows,
        "open_lake": dest,
    }


# --------------------------------------------------------------------------
# corpus_curation
# --------------------------------------------------------------------------


def _curate(run: Run, paths: list[str], span: str) -> tuple[float, list[int]]:
    t0 = time.perf_counter()
    with run.tracer.span(span, blocks=len(paths)):
        docs = run.spark.read.parquet(*paths)
        ids = [r[0] for r in curate_corpus(docs).select("doc_id").collect()]
    return time.perf_counter() - t0, ids


def corpus_curation(run: Run) -> dict:
    src, exp = gen.cached(run.cache, f"corpus-s{run.seed}-b{CORPUS_BLOCKS}-v{gen.GEN_VERSION}",
                          lambda d: gen.write_corpus(d, run.seed, CORPUS_BLOCKS))
    blocks = sorted(os.listdir(os.path.join(src, "blocks")))
    paths = [os.path.join(src, "blocks", b) for b in blocks]
    log("corpus ready")
    kept_docs = 0  # documents the last full-corpus curation kept

    def curate_op(sel: list[int], span: str) -> float:
        nonlocal kept_docs
        s, ids = _curate(run, [paths[b] for b in sel], span)
        want = sorted(i for b in sel for i in exp["kept"][str(b)])
        run.record(sorted(ids) == want, f"{span} over {len(sel)} blocks kept the wrong ids")
        if len(sel) == len(paths):
            kept_docs = len(ids)
        return s

    n_blocks = _count(BLOCKS_PER_S, run.seconds, 2)
    block_seq = [[(run.seed * 7919 + k) % len(paths)] for k in range(WARM_BLOCKS + n_blocks)]
    full = list(range(len(paths)))
    if run.warm_up:
        for sel in block_seq[:WARM_BLOCKS]:
            run.attempt("warm-up block curation", curate_op, sel, "curation.curate_block")
        for _ in range(WARM_CURATIONS):
            run.attempt("warm-up curation", curate_op, full, "curation.curate_corpus")
        log("warm-up done")
    job = [s for _ in range(_count(CURATIONS_PER_S, run.seconds, 2))
           if (s := run.attempt("curation", curate_op, full, "curation.curate_corpus")) is not None]
    log(f"full curation done (s): {[round(v, 3) for v in job]}")
    lat = [s for sel in block_seq[WARM_BLOCKS:]
           if (s := run.attempt("block curation", curate_op, sel, "curation.curate_block")) is not None]

    pairs = None
    if run.tracer.enabled:
        with run.tracer.span("dedup.minhash_lsh_pairs") as sp:
            pairs = minhash_lsh_pairs(run.spark.read.parquet(*paths)).count()
            sp["attrs"]["verified_pairs"] = pairs
        want_pairs = CORPUS_BLOCKS * (gen.BLOCK_PLAN["exact"] + gen.BLOCK_PLAN["near"])
        run.record(pairs == want_pairs, f"verified pairs {pairs} != planted {want_pairs}")
    return {
        "job_s": statistics.median(job),
        "op_lat_s": lat,
        "op_name": "block_curation",
        "named": {"curate_s": (statistics.median(job), "s"),
                  "curation_runs": (len(job), "count"),
                  "block_curations": (len(lat), "count")},
        "kept_docs": kept_docs,
    }


WORKLOADS = {
    "listings_batch": listings_batch,
    "listings_stream": listings_stream,
    "corpus_curation": corpus_curation,
}
