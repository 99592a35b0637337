"""The benchmark's workloads, driven only through the engine's public entry
points: ``session.get_spark``, ``streaming.engine`` (``run_stream``,
``classified_stream``, ``folded_stream``, the sink readers),
``functions.kernel.make_registry_classify_udf`` and
``__spark_entry__.queries()``; the batch twins ``classify_turns`` and
``conv_summaries`` and the DuckDB ``oracle_sql()`` check the outputs.

Every workload runs in one JVM: start the session, warm it up, time the
workload for the requested seconds, then check the outputs untimed.
"""

from __future__ import annotations

import glob
import os
import shutil
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

import hoststats
import loadgen
import stats

# One vCPU stays free for the Spark driver, GC and the OS; on 4 vCPUs a
# local[4] engine let hypervisor steal swing a call from 35 s to 80 s.
CPUS = max(1, len(os.sched_getaffinity(0)) - 1)

# backlog: 36k turns in 18 time-ordered files, 6 files per trigger, so one
# run_stream call folds 3 data micro-batches of ~12k turns plus the final
# empty watermark batch. Per-batch fixed costs (256-bucket state load and
# commit) and per-row costs (kernel, fold, sink) both show.
BACKLOG_TURNS, BACKLOG_FILES, BACKLOG_FILES_PER_TRIGGER = 36_000, 18, 6
# warm-up: the same plan over a small input in 3 micro-batches plus the
# empty watermark batch, so JIT, codegen and Python worker start-up land in
# setup_s and not in the first timed call
WARM_TURNS, WARM_FILES = 6_000, 3
# queries: the engine's seed-42 TPC-H-ish test tables at sf0.1 (lineitem
# 600k rows), copied unchanged into data/. A warm pass there is ~40 %
# data-dependent work; at sf0.01 it costs the same as at sf0.001, all
# per-query planning, task and Python-worker overhead (design.json,
# "query_shares"). A warm pass takes ~15 s, so --seconds 10 times one.
QUERY_TABLES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.1")

# 17 of the 27 queries of the engine's headline suite (bench.py:HEADLINE):
# those whose warm time at sf0.1 is at least a fifth data-dependent, plus
# classify_docs_udf, the kernel's UDF path. The other ten cost about as
# much at sf0.001 as at sf0.1 (design.json, "query_shares"), and a run has
# no time for them.
QUERIES = [
    "classify_docs_udf", "classify_docs_expr", "classify_summary", "pricing_summary",
    "fact_dim_revenue", "tumbling_window", "exact_percentiles", "asof_join",
    "user_sessions", "ann_bruteforce", "ann_ivf", "lang_id", "quality_scores",
    "topk_per_group", "sliding_window", "conv_fold_docs", "classify_docs_1k",
]


# Latency is reported as the geometric mean over operations (turns, query
# executions). On queries the median falls among a cluster of different
# queries and jumps between them from run to run: over two sets of five
# runs on a 4-vCPU VM its quartile spread was 0.16 and 0.23 of its median,
# the geometric mean's 0.10 and 0.11. p50, p90 and the sample count are in
# the diagnostics line.
E2E_UNITS = {
    "ops_per_s": "1/s",
    "latency_geomean_s": "s",
    "cpu_s_per_kop": "s",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}


class Run:
    """State of one benchmark process: paths, clocks, host samplers and spans."""

    def __init__(self, work: str, workload: str, seed: int, seconds: int, t_start: float):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.t_start = t_start  # perf_counter at process start
        self.scratch = os.path.join(work, f"run-{os.getpid()}")
        self.cache = loadgen.InputCache(os.path.join(work, "inputs"))
        self.rss = hoststats.RssSampler()
        self.host0 = hoststats.host_snapshot()
        self.spans: list[dict] = []
        self.gen_s = 0.0
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.spark = None

    # -- spans -----------------------------------------------------------
    def span(self, name: str, parent: int | None = None) -> "_Span":
        return _Span(self, name, parent)

    # -- lifecycle -------------------------------------------------------
    def start_spark(self, cpus: int = CPUS):
        """Start the engine's session; a later call in the same process
        reuses the JVM (its options were fixed by the first call)."""
        from distributed_classification_system_spark.session import get_spark

        conf = {
            # the engine's default is /dev/shm; a run writes only inside its
            # checkout, so shuffle and spill files go to disk here (the
            # measured cost of that is in design.json, "local_dir")
            "spark.local.dir": os.path.join(self.scratch, "spark-local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
            "spark.sql.warehouse.dir": os.path.join(self.scratch, "warehouse"),
        }
        with self.span("session.start"):
            self.spark = get_spark(app_name=f"perfbench-{self.workload}", cpus=cpus,
                                   extra_conf=conf)
        return self.spark

    def fail(self, n: int, why: str) -> None:
        self.failed += n
        self.problems.append(why)

    def close(self) -> None:
        """Stop Spark, then the JVM and its Python workers, and wait for them."""
        if self.spark is not None:
            from pyspark import SparkContext

            self.spark.stop()
            self.spark = None
            gateway = SparkContext._gateway
            if gateway is not None:
                gateway.shutdown()
                gateway.proc.stdin.close()  # the JVM exits when its stdin closes
                gateway.proc.wait(timeout=60)
                SparkContext._gateway = SparkContext._jvm = None
        hoststats.reap_descendants()
        shutil.rmtree(self.scratch, ignore_errors=True)


class _Span:
    def __init__(self, run: Run, name: str, parent: int | None):
        self.run, self.name, self.parent = run, name, parent

    def __enter__(self):
        self.rec = {"id": len(self.run.spans), "name": self.name, "parent": self.parent,
                    "start": time.perf_counter(), "end": None,
                    "workload": self.run.workload, "run": os.getpid()}
        self.run.spans.append(self.rec)
        return self.rec

    def __exit__(self, *exc):
        self.rec["end"] = time.perf_counter()
        return False


# ---------------------------------------------------------------------------
# stream inputs and checks
# ---------------------------------------------------------------------------

def stream_input(run: Run, name: str, n_turns: int, n_files: int) -> str:
    d, gen_s = run.cache.get(
        name, run.seed, n_turns,
        lambda d: loadgen.build_stream_input(d, run.seed, n_turns, n_files),
    )
    run.gen_s += gen_s
    return d


def run_stream_call(run: Run, inp: str, out: str, files_per_trigger: int | None,
                    parent: int | None = None) -> dict:
    """One timed run_stream call; a failing call is recorded, not raised."""
    from distributed_classification_system_spark.sources.gen import gen_label_registry
    from distributed_classification_system_spark.streaming import engine as eng

    spark = run.spark
    cfg = spark.read.parquet(os.path.join(inp, "conv_config"))
    reg = gen_label_registry(spark)
    cpu0 = hoststats.cpu_times()
    t0_wall = time.time()
    q, error = None, None
    with run.span("engine.run_stream", parent) as sp:
        try:
            q = eng.run_stream(
                spark, os.path.join(inp, "files"), out, cfg, reg,
                checkpoint_dir=os.path.join(out, "_ckpt"),
                max_files_per_trigger=files_per_trigger, await_termination=True,
            )
        except Exception as e:  # a failed call is a measured outcome
            error = f"{type(e).__name__}: {str(e).splitlines()[0][:300]}"
            traceback.print_exc()
    return {
        "wall_s": sp["end"] - sp["start"], "t0_wall": t0_wall,
        "cpu": hoststats.delta(cpu0, hoststats.cpu_times()),
        "progress": list(q.recentProgress) if q is not None else [],
        "error": error, "out": out,
    }


def batch_visible_times(out: str) -> dict[int, float]:
    """Visible time of each sink batch: the mtime of its _SUCCESS marker."""
    vis = {}
    for p in glob.glob(os.path.join(out, "results", "batch_id=*", "_SUCCESS")):
        b = int(os.path.basename(os.path.dirname(p)).split("=", 1)[1])
        vis[b] = os.stat(p).st_mtime
    return vis


TURN_HASH_COLS = [
    "conv_id", "turn_idx", "role", "text", "tool", "ts", "model_used", "top_prediction",
    "top_confidence", "all_predictions_json", "reason", "processing_time_ms",
]


def _turn_rows(df, *extra: str) -> list:
    """(conv_id, turn_idx, *extra, h) rows, h the xxhash64 of a turn's content."""
    from pyspark.sql import functions as F

    return df.select("conv_id", "turn_idx", *extra,
                     F.xxhash64(*TURN_HASH_COLS).alias("h")).collect()


def _summary_hashes(df) -> list:
    from pyspark.sql import functions as F

    grouped = F.to_json(F.map_from_entries(F.array_sort(F.map_entries("grouped_by_label"))))
    h = F.xxhash64(
        "conv_id", "status", "model_used", "total", "classified", "unknown", "failed",
        grouped, F.round("processing_time_ms", 6), "completed_at",
    )
    return [(r.conv_id, r.h) for r in df.select("conv_id", h.alias("h")).collect()]


class StreamTwin:
    """Expected outputs of one stream input, from the batch twins
    ``classify_turns`` and ``conv_summaries`` over the same files."""

    def __init__(self, run: Run, inp: str):
        from distributed_classification_system_spark.operators.classify import classify_turns
        from distributed_classification_system_spark.operators.sessionize import conv_summaries
        from distributed_classification_system_spark.schemas import TRANSCRIPTS
        from distributed_classification_system_spark.sources.gen import gen_label_registry
        from pyspark.sql import functions as F

        spark = run.spark
        t = spark.read.schema(TRANSCRIPTS).parquet(os.path.join(inp, "files"))
        cfg = spark.read.parquet(os.path.join(inp, "conv_config"))
        reg = gen_label_registry(spark)
        classified = classify_turns(t, cfg, reg).cache()
        try:
            self.turns = {(r.conv_id, r.turn_idx): r.h for r in _turn_rows(
                classified.withColumn("all_predictions_json", F.to_json("all_predictions")))}
            self.summaries = dict(_summary_hashes(conv_summaries(classified, cfg)))
        finally:
            classified.unpersist()
        self.n_turns = len(self.turns)
        self.n_convs = len(self.summaries)


def read_sink(run: Run, call: dict) -> dict:
    """Collect what one call's sink holds: per-turn hashes with their batch,
    completed-summary counts per conversation, and summary hashes."""
    from collections import Counter

    from pyspark.sql import functions as F

    from distributed_classification_system_spark.streaming import engine as eng

    spark, out = run.spark, call["out"]
    rows = _turn_rows(eng.read_turn_results(spark, out), "batch_id")
    base = os.path.join(out, "results")
    completed = (spark.read.option("basePath", base)
                 .parquet(os.path.join(base, "batch_id=*", "row_type=summary"))
                 .where(F.get_json_object("summary_json", "$.status") == "completed")
                 .groupBy("conv_id").count().collect())
    return {
        "turns": [((r.conv_id, r.turn_idx), r.h) for r in rows],
        "rows_per_batch": dict(Counter(int(r.batch_id) for r in rows)),
        "completed": {r["conv_id"]: r["count"] for r in completed},
        "summaries": _summary_hashes(eng.read_conv_summaries(spark, out)),
    }


def check_stream_output(run: Run, twin: StreamTwin, call: dict, sink: dict | None) -> None:
    """Untimed checks of one call's sink against the batch twin; failures
    count per turn and per conversation."""
    run.attempted += twin.n_turns + twin.n_convs
    if call["error"]:
        run.fail(twin.n_turns + twin.n_convs, f"run_stream failed: {call['error']}")
        return
    if len(sink["turns"]) != twin.n_turns:
        run.problems.append(f"turn sink rows {len(sink['turns'])} != input rows {twin.n_turns}")
    bad_turns = stats.multiset_mismatches(twin.turns, sink["turns"])
    if bad_turns:
        run.fail(bad_turns, f"{bad_turns} turns differ from classify_turns")
    not_once = sum(1 for c in twin.summaries if sink["completed"].get(c) != 1)
    bad_summ = stats.multiset_mismatches(twin.summaries, sink["summaries"])
    if not_once or bad_summ:
        run.fail(max(not_once, bad_summ),
                 f"{not_once} conversations without exactly one completed summary, "
                 f"{bad_summ} summaries differ from conv_summaries")
    dropped = sum(
        (p.get("stateOperators") or [{}])[0].get("numRowsDroppedByWatermark", 0)
        for p in call["progress"]
    )
    if dropped:
        run.problems.append(f"state.dropped_by_watermark = {dropped}")


# ---------------------------------------------------------------------------
# backlog
# ---------------------------------------------------------------------------

def backlog(run: Run) -> dict:
    inp = stream_input(run, "backlog", BACKLOG_TURNS, BACKLOG_FILES)
    warm = stream_input(run, "backlog-warm", WARM_TURNS, WARM_FILES)
    run.start_spark()
    with run.span("session.warmup"):
        w = run_stream_call(run, warm, os.path.join(run.scratch, "warm"), 1)
    if w["error"]:
        raise RuntimeError(f"warm-up run_stream failed: {w['error']}")
    setup_s = time.perf_counter() - run.t_start - run.gen_s

    calls = []
    t0 = time.perf_counter()
    while not calls or time.perf_counter() - t0 < run.seconds:
        out = os.path.join(run.scratch, f"call{len(calls)}")
        calls.append(run_stream_call(run, inp, out, BACKLOG_FILES_PER_TRIGGER))
    timed_s = time.perf_counter() - t0
    run.rss.stop()  # peak_rss_mb covers set-up and the timed phase, not the checks

    # the twin and the sink reads are independent Spark jobs: run them side by side
    with run.span("check"), ThreadPoolExecutor(1) as pool:
        twin_f = pool.submit(StreamTwin, run, inp)
        sinks = [None if c["error"] else read_sink(run, c) for c in calls]
        twin = twin_f.result()
    lat, rates, cpu_per_k = [], [], []
    for c, sink in zip(calls, sinks):
        check_stream_output(run, twin, c, sink)
        if c["error"]:
            continue
        vis = batch_visible_times(c["out"])
        lat.extend(stats.visible_latencies(sink["rows_per_batch"], vis, c["t0_wall"]))
        rates.append(twin.n_turns / c["wall_s"])
        cpu_per_k.append(c["cpu"]["busy"] / (twin.n_turns / 1000.0))
    if not rates:
        raise RuntimeError("every timed run_stream call failed: " + "; ".join(run.problems))
    summ = stats.summarize(lat)
    return {
        "e2e": {
            "ops_per_s": stats.percentile(rates, 50),
            "latency_geomean_s": summ["geomean"],
            "cpu_s_per_kop": stats.percentile(cpu_per_k, 50),
            "setup_s": setup_s,
        },
        "diag": {
            "op": "turn", "turns": twin.n_turns, "conversations": twin.n_convs,
            "calls": len(calls), "timed_s": timed_s,
            "call_wall_s": [c["wall_s"] for c in calls],
            "call_batches": [[(p["numInputRows"], p["durationMs"].get("addBatch"),
                               p["durationMs"].get("triggerExecution")) for p in c["progress"]]
                             for c in calls],
            "latency": summ, "turns_per_s": rates,
        },
    }


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def query_order(seed: int) -> list[str]:
    """The queries in the seed's order: the tables are fixed, the seed
    picks the order an analyst sends them in."""
    import random

    order = list(QUERIES)
    random.Random(seed).shuffle(order)
    return order


def _parity_canon():
    """``canon()`` of the engine's oracle-parity test: a result as the
    sorted list of its rows' canonical strings."""
    import importlib.util

    import __spark_entry__ as entry

    spec = importlib.util.spec_from_file_location(
        "oracle_parity", os.path.join(os.path.dirname(entry.__file__), "tests",
                                      "test_oracle_parity.py"))
    parity = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(parity)
    return parity.canon


def _digest(canon, df) -> dict:
    import hashlib

    return {"columns": sorted(df.columns),
            "rows": hashlib.sha256("\n".join(canon(df)).encode()).hexdigest()}


def oracle_digests(run: Run, sf_dir: str, names: list[str]) -> dict[str, dict]:
    """Columns and canonical-row digest of each query's DuckDB ``oracle_sql()``
    result. The tables are fixed, so they are computed once per checkout
    and cached under the work directory, keyed by the SQL and the tables."""
    import hashlib
    import json

    import duckdb

    import __spark_entry__ as entry
    from distributed_classification_system_spark.schemas import DRIVER_TABLES

    sql = {n: entry.oracle_sql()[n] for n in names}
    key = hashlib.sha256(json.dumps(
        [sql, [(t, os.path.getsize(f"{sf_dir}/{t}.parquet")) for t in DRIVER_TABLES]],
        sort_keys=True).encode()).hexdigest()[:16]
    path = os.path.join(os.path.dirname(run.scratch), "oracle", f"{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    canon = _parity_canon()
    con = duckdb.connect()
    for t in DRIVER_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    out = {n: _digest(canon, con.execute(q).df()) for n, q in sql.items()}
    con.close()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(out, f)
    os.replace(path + ".tmp", path)
    return out


def oracle_mismatches(run: Run, sf_dir: str, results: dict) -> list[str]:
    """Queries whose result differs from the DuckDB oracle, compared by the
    canonical value multiset of the engine's oracle-parity test."""
    canon = _parity_canon()
    expected = oracle_digests(run, sf_dir, sorted(results))
    return [name for name, sdf in results.items()
            # None: the execution raised, and counts as failed already
            if sdf is not None and _digest(canon, sdf) != expected[name]]


def warm_up_queries(run: Run, qmap: dict, sf_dir: str = QUERY_TABLES) -> None:
    """Run every query once, on one thread per task slot: first-run
    planning, code generation and JIT are mostly single-threaded Spark
    driver work, so a parallel warm-up keeps set-up short."""

    def one(name: str) -> None:
        qmap[name](run.spark, sf_dir).write.format("noop").mode("overwrite").save()

    with ThreadPoolExecutor(CPUS) as pool:
        for f in [pool.submit(one, n) for n in QUERIES]:
            f.result()


def queries(run: Run) -> dict:
    import __spark_entry__ as entry

    sf_dir, order = QUERY_TABLES, query_order(run.seed)
    qmap = entry.queries()
    run.start_spark()
    with run.span("session.warmup"):
        warm_up_queries(run, qmap)
    setup_s = time.perf_counter() - run.t_start - run.gen_s

    # each execution returns its result to the client, as an analyst's does;
    # the last pass's results are what the oracle checks
    per_query: dict[str, list[float]] = {n: [] for n in QUERIES}
    results: dict = {}
    pass_s, lat = [], []
    errors = 0
    cpu0 = hoststats.cpu_times()
    t0 = time.perf_counter()
    while not pass_s or time.perf_counter() - t0 < run.seconds:
        with run.span("query.pass") as sp:
            for name in order:
                with run.span(f"query.{name}", sp["id"]) as q:
                    try:
                        results[name] = qmap[name](run.spark, sf_dir).toPandas()
                    except Exception:
                        traceback.print_exc()
                        results[name] = None
                        errors += 1
                        continue
                per_query[name].append(q["end"] - q["start"])
                lat.append(q["end"] - q["start"])
        pass_s.append(sp["end"] - sp["start"])
    timed_s = time.perf_counter() - t0
    cpu = hoststats.delta(cpu0, hoststats.cpu_times())
    run.rss.stop()

    executions = len(QUERIES) * len(pass_s)
    run.attempted += executions
    if errors:
        run.fail(errors, f"{errors} query executions raised")
    with run.span("check.oracle"):
        bad = oracle_mismatches(run, sf_dir, results)
    if bad:
        run.fail(len(bad), f"results differ from the DuckDB oracle: {bad}")
    done = executions - errors
    if not done:
        raise RuntimeError("every query execution failed: " + "; ".join(run.problems))
    summ = stats.summarize(lat)
    return {
        "e2e": {
            "ops_per_s": done / timed_s,
            "latency_geomean_s": summ["geomean"],
            "cpu_s_per_kop": cpu["busy"] / (done / 1000.0),
            "setup_s": setup_s,
        },
        "diag": {
            "op": "query execution", "passes": len(pass_s), "pass_s": pass_s,
            "suite_s": stats.percentile(pass_s, 50), "latency": summ, "timed_s": timed_s,
            "query_s": {n: stats.percentile(v, 50) for n, v in per_query.items() if v},
        },
    }


WORKLOADS = {"backlog": backlog, "queries": queries}
