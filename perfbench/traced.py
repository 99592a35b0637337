"""The traced run: per-layer metrics, timed from outside the engine.

It is separate from the end-to-end runs. In one warm JVM it runs the
workload's unit of work with and without tracing (the pair gives
``trace.overhead_frac``) and times its layers:

backlog -- cumulative prefixes of the engine's plan over the backlog input
    1. readStream -> no-op foreachBatch              (scan)
    2. classified_stream -> no-op                     (+ watermark, joins, kernel)
    3. folded_stream(classified_stream) -> no-op     (+ bucket exchange, fold)
    4. the full run_stream                           (+ sink)
  so successive differences are the self times of scan, classify, fold and
  sink; then ``local[1]`` against ``local[N]`` on the warm-up slice.
queries -- a warming pass over the queries, an untraced pass, then a pass
  with one span per query.

Both time the kernel alone (the registry kernel UDF over a batch read of
the backlog input). Engine and state numbers come from the progress of the
StreamingQuery; stage, task and SQL metrics (shuffle bytes, task skew,
bytes sent to Python) from Spark's in-memory status store, read after each
step; GC time from the JVM's collector beans; memory and CPU from /proc.
Layers a workload does not run report 0 (no work done there).
"""

from __future__ import annotations

import os
import re
import time

import hoststats
import stats
import workloads as W

UNITS = {
    "session.start_s": "s", "session.warmup_s": "s", "query.cold_pass_s": "s",
    "loadgen.gen_s": "s",
    "engine.query_start_s": "s", "engine.query_stop_s": "s", "engine.planning_ms": "ms",
    "engine.wal_commit_ms": "ms", "engine.commit_offsets_ms": "ms",
    "engine.empty_batch_s": "s", "engine.batches": "count",
    "engine.add_batch_ms_per_kturn": "ms", "engine.batch_rows_per_s": "1/s",
    "scan.s": "s", "classify.s": "s",
    "kernel.s": "s", "kernel.turns_per_s": "1/s", "kernel.py_bytes_per_turn": "B",
    "exchange.shuffle_bytes_per_turn": "B", "exchange.task_skew": "ratio",
    "fold.s": "s", "state.update_ms": "ms", "state.commit_ms": "ms", "state.removal_ms": "ms",
    "state.rows": "count", "state.mem_bytes": "B", "state.dropped_by_watermark": "count",
    "sink.s": "s", "sink.bytes_per_turn": "B", "sink.files_per_batch": "count",
    **{f"query.{n}_s": "s" for n in W.QUERIES},
    "jvm.gc_s": "s", "jvm.heap_peak_mb": "MB",
    "rss.jvm_mb": "MB", "rss.py_workers_mb": "MB", "rss.driver_mb": "MB",
    "engine.speedup_vs_local1": "ratio",
    "cpu.steal_s": "s", "cpu.loadavg_start": "load", "trace.overhead_frac": "ratio",
}


# ---------------------------------------------------------------------------
# Spark status-store readers (py4j)
# ---------------------------------------------------------------------------

def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def stages_between(spark, t0: float, t1: float) -> list[dict]:
    """Shuffle bytes and task run-time quantiles (median, max) of the stages
    submitted within the wall-clock window [t0, t1]."""
    store = spark.sparkContext._jsc.sc().statusStore()
    out = []
    for s in _seq(store.stageList(None, False, False, _doubles(spark, []), None)):
        sub = s.submissionTime()
        if sub.isEmpty():
            continue
        ts = sub.get().getTime() / 1000.0
        if not t0 <= ts <= t1:
            continue
        q = store.taskSummary(s.stageId(), s.attemptId(), _doubles(spark, [0.5, 1.0]))
        run_q = [float(x) for x in _seq(q.get().executorRunTime())] if not q.isEmpty() else []
        out.append({"shuffle_write": s.shuffleWriteBytes(),
                    "shuffle_read": s.shuffleReadBytes(), "run_q": run_q})
    return out


def _doubles(spark, xs: list[float]):
    arr = spark.sparkContext._gateway.new_array(spark._jvm.double, len(xs))
    for i, x in enumerate(xs):
        arr[i] = x
    return arr


_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def sql_metric_total(spark, t0: float, t1: float, name: str) -> float:
    """Sum of a size SQL metric (e.g. 'data sent to Python workers') over the
    SQL executions submitted within [t0, t1]."""
    store = spark._jsparkSession.sharedState().statusStore()
    total = 0.0
    for ex in _seq(store.executionsList()):
        if not t0 <= ex.submissionTime() / 1000.0 <= t1:
            continue
        ids = {m.accumulatorId() for m in _seq(ex.metrics()) if m.name() == name}
        if not ids:
            continue
        values = store.executionMetrics(ex.executionId())
        for acc in ids:
            v = values.get(acc)
            if v.isEmpty():
                continue
            # "total (min, med, max ...)\n12.3 MiB (...)" or a bare "12.3 MiB"
            m = re.search(r"([\d.,]+) (B|KiB|MiB|GiB|TiB)", v.get().split("\n")[-1])
            if m:
                total += float(m.group(1).replace(",", "")) * _SIZE[m.group(2)]
    return total


def heap_peak_mb(spark) -> float:
    """Peak heap in use since the JVM started: the sum of its heap pools'
    peaks (eden, survivor, old), so an upper bound on the true peak."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    return sum(p.getPeakUsage().getUsed() for p in mf.getMemoryPoolMXBeans()
               if p.getType().toString() == "Heap memory") / 2**20


def gc_seconds(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


# ---------------------------------------------------------------------------
# step helpers
# ---------------------------------------------------------------------------

def _noop_prefix(run: W.Run, inp: str, out: str, depth: int) -> float:
    """Run prefix ``depth`` (1 scan, 2 +classify, 3 +fold) into a no-op
    foreachBatch sink; return its wall time."""
    from distributed_classification_system_spark.schemas import TRANSCRIPTS
    from distributed_classification_system_spark.sources.gen import gen_label_registry
    from distributed_classification_system_spark.streaming import engine as eng

    spark = run.spark
    df = (spark.readStream.schema(TRANSCRIPTS)
          .option("maxFilesPerTrigger", W.BACKLOG_FILES_PER_TRIGGER)
          .parquet(os.path.join(inp, "files")))
    if depth >= 2:
        cfg = spark.read.parquet(os.path.join(inp, "conv_config"))
        df = eng.classified_stream(df, cfg, gen_label_registry(spark))
    if depth >= 3:
        df = eng.folded_stream(df)

    def consume(batch_df, batch_id):
        batch_df.write.format("noop").mode("overwrite").save()

    t0 = time.perf_counter()
    q = (df.writeStream.outputMode("append")
         .option("checkpointLocation", os.path.join(out, "_ckpt"))
         .foreachBatch(consume).trigger(availableNow=True).start())
    q.awaitTermination()
    return time.perf_counter() - t0


def _kernel_alone(run: W.Run, inp: str) -> dict:
    """The registry kernel UDF over a batch read of the stream input."""
    from pyspark.sql import functions as F

    from distributed_classification_system_spark.functions.kernel import make_registry_classify_udf
    from distributed_classification_system_spark.schemas import TRANSCRIPTS
    from distributed_classification_system_spark.sources.gen import gen_label_registry

    spark = run.spark
    reg = gen_label_registry(spark)
    kern = make_registry_classify_udf(
        {r["job_type"]: list(r["labels"]) for r in reg.collect()})
    cfg = spark.read.parquet(os.path.join(inp, "conv_config"))
    df = (spark.read.schema(TRANSCRIPTS).parquet(os.path.join(inp, "files"))
          .join(F.broadcast(cfg), "conv_id"))
    plan = df.select(kern("text", "job_type", "top_k", "confidence_threshold").alias("r"))
    n = df.count()
    w0 = time.time()
    with run.span("kernel") as sp:
        plan.write.format("noop").mode("overwrite").save()
    s = sp["end"] - sp["start"]
    sent = sql_metric_total(spark, w0, time.time(), "data sent to Python workers")
    return {"kernel.s": s, "kernel.turns_per_s": n / s, "kernel.py_bytes_per_turn": sent / n}


def _progress_metrics(call: dict, turns: int) -> dict:
    prog = call["progress"]
    data = [p for p in prog if p["numInputRows"] > 0]
    empty = [p for p in prog if p["numInputRows"] == 0]
    dur = lambda key, ps: [p["durationMs"].get(key, 0) for p in ps]  # noqa: E731
    state = [(p.get("stateOperators") or [{}])[0] for p in prog]

    def ts(p) -> float:
        from datetime import datetime

        return datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()

    first, last = prog[0], prog[-1]
    return {
        "engine.query_start_s": ts(first) - call["t0_wall"],
        "engine.query_stop_s": (call["t0_wall"] + call["wall_s"])
        - (ts(last) + last["durationMs"]["triggerExecution"] / 1000.0),
        "engine.planning_ms": stats.percentile(dur("queryPlanning", prog), 50),
        "engine.wal_commit_ms": stats.percentile(dur("walCommit", prog), 50),
        "engine.commit_offsets_ms": stats.percentile(dur("commitOffsets", prog), 50),
        "engine.empty_batch_s": sum(dur("triggerExecution", empty)) / 1000.0,
        "engine.batches": len(prog),
        "engine.add_batch_ms_per_kturn": sum(dur("addBatch", data)) / (turns / 1000.0),
        "engine.batch_rows_per_s": stats.percentile(
            [p["numInputRows"] / (p["durationMs"]["addBatch"] / 1000.0) for p in data], 50),
        "state.update_ms": sum(s.get("allUpdatesTimeMs", 0) for s in state),
        "state.commit_ms": sum(s.get("commitTimeMs", 0) for s in state),
        "state.removal_ms": sum(s.get("allRemovalsTimeMs", 0) for s in state),
        "state.rows": state[-1].get("numRowsTotal", 0),
        "state.mem_bytes": max(s.get("memoryUsedBytes", 0) for s in state),
        "state.dropped_by_watermark": sum(s.get("numRowsDroppedByWatermark", 0) for s in state),
    }


def _sink_metrics(out: str, turns: int, data_batches: int) -> dict:
    files = [os.path.join(d, f) for d, _, fs in os.walk(os.path.join(out, "results"))
             for f in fs if f.endswith(".parquet")]
    return {
        "sink.bytes_per_turn": sum(os.path.getsize(f) for f in files) / turns,
        "sink.files_per_batch": len(files) / max(1, data_batches),
    }


def _check_counts(run: W.Run, call: dict, turns: int, dropped: float) -> None:
    """Cheap output checks for the traced run (the end-to-end runs do the
    full content comparison): sink rows equal input rows, nothing dropped."""
    from distributed_classification_system_spark.streaming import engine as eng

    run.attempted += turns
    if call["error"]:
        run.fail(turns, f"run_stream failed: {call['error']}")
        return
    got = eng.read_turn_results(run.spark, call["out"]).count()
    if got != turns:
        run.fail(abs(turns - got), f"turn sink rows {got} != input rows {turns}")
    if dropped:
        run.problems.append(f"state.dropped_by_watermark = {dropped}")


# ---------------------------------------------------------------------------
# traced runs
# ---------------------------------------------------------------------------

def _traced_backlog(run: W.Run, m: dict) -> dict:
    inp = W.stream_input(run, "backlog", W.BACKLOG_TURNS, W.BACKLOG_FILES)
    warm = W.stream_input(run, "backlog-warm", W.WARM_TURNS, W.WARM_FILES)
    turns = _turn_count(inp)
    spark = run.start_spark()
    with run.span("session.warmup") as sw:
        w = W.run_stream_call(run, warm, os.path.join(run.scratch, "warm"), 1, sw["id"])
    m["query.cold_pass_s"] = w["wall_s"]

    gc0 = gc_seconds(spark)
    walls = []
    with run.span("prefixes") as root:
        for depth, layer in ((1, "scan"), (2, "classify"), (3, "fold")):
            with run.span(f"prefix.{layer}", root["id"]):
                walls.append((layer, _noop_prefix(run, inp, os.path.join(run.scratch, f"p{depth}"),
                                                  depth)))
        # the end-to-end call, untraced, right before the traced one so both
        # run equally warm
        untraced = W.run_stream_call(run, inp, os.path.join(run.scratch, "untraced"),
                                     W.BACKLOG_FILES_PER_TRIGGER, root["id"])
        t0 = time.time()
        full = W.run_stream_call(run, inp, os.path.join(run.scratch, "p4"),
                                 W.BACKLOG_FILES_PER_TRIGGER, root["id"])
        t1 = time.time()
        walls.append(("sink", full["wall_s"]))
        # the tracing of the full call: its progress, sink-file and
        # status-store reads
        with run.span("trace.reads", root["id"]) as tr:
            m.update(_progress_metrics(full, turns))
            data_batches = sum(1 for p in full["progress"] if p["numInputRows"] > 0)
            m.update(_sink_metrics(full["out"], turns, data_batches))
            st = stages_between(spark, t0, t1)
    layer_s = stats.prefix_self_times(walls)
    m.update({f"{k}.s": v for k, v in layer_s.items()})
    traced_s = full["wall_s"] + (tr["end"] - tr["start"])
    m["trace.overhead_frac"] = traced_s / untraced["wall_s"] - 1.0
    m["exchange.shuffle_bytes_per_turn"] = sum(s["shuffle_write"] for s in st) / turns
    skews = [s["run_q"][1] / s["run_q"][0] for s in st
             if s["shuffle_read"] > 0 and len(s["run_q"]) == 2 and s["run_q"][0] > 0]
    m["exchange.task_skew"] = stats.percentile(skews, 50) if skews else 0.0
    m.update(_kernel_alone(run, inp))
    m["jvm.gc_s"] = gc_seconds(spark) - gc0
    _check_counts(run, full, turns, m["state.dropped_by_watermark"])

    # parallelism: the warm-up slice at local[N] (warm) against local[1]
    slice_n = W.run_stream_call(run, warm, os.path.join(run.scratch, "slice-n"), None)
    spark.stop()
    run.start_spark(cpus=1)
    slice_1 = W.run_stream_call(run, warm, os.path.join(run.scratch, "slice-1"), None)
    m["engine.speedup_vs_local1"] = slice_1["wall_s"] / slice_n["wall_s"]
    return {"turns": turns, "prefix_walls": walls, "untraced_wall_s": untraced["wall_s"],
            "traced_s": traced_s,
            "slice_walls": [slice_n["wall_s"], slice_1["wall_s"]]}


def _turn_count(inp: str) -> int:
    import pyarrow.parquet as pq

    d = os.path.join(inp, "files")
    return sum(pq.ParquetFile(os.path.join(d, f)).metadata.num_rows for f in os.listdir(d))


def _traced_queries(run: W.Run, m: dict) -> dict:
    import __spark_entry__ as entry

    sf_dir, order = W.QUERY_TABLES, W.query_order(run.seed)
    inp = W.stream_input(run, "backlog", W.BACKLOG_TURNS, W.BACKLOG_FILES)
    qmap = entry.queries()
    spark = run.start_spark()
    with run.span("session.warmup") as sw:
        with run.span("query.cold_pass", sw["id"]) as cp:
            W.warm_up_queries(run, qmap)
    m["query.cold_pass_s"] = cp["end"] - cp["start"]

    results = {}

    def one_pass(traced: bool) -> float:
        t0 = time.perf_counter()
        for name in order:
            if traced:
                with run.span(f"query.{name}") as q:
                    results[name] = qmap[name](spark, sf_dir).toPandas()
                m[f"query.{name}_s"] = q["end"] - q["start"]
            else:
                qmap[name](spark, sf_dir).toPandas()
        return time.perf_counter() - t0

    # the first sequential pass still runs ~15 % slower than the next, so it
    # only warms; the untraced and traced passes then run equally warm
    one_pass(False)
    untraced = one_pass(False)
    # the traced pass with its tracing: a span per query and the GC reads
    t0 = time.perf_counter()
    gc0 = gc_seconds(spark)
    one_pass(True)
    m["jvm.gc_s"] = gc_seconds(spark) - gc0
    traced = time.perf_counter() - t0
    m["trace.overhead_frac"] = traced / untraced - 1.0
    run.attempted += len(W.QUERIES)
    bad = W.oracle_mismatches(run, sf_dir, results)
    if bad:
        run.fail(len(bad), f"results differ from the DuckDB oracle: {bad}")
    m.update(_kernel_alone(run, inp))
    return {"untraced_pass_s": untraced, "traced_pass_s": traced}


def traced(run: W.Run) -> dict:
    m = {k: 0.0 for k in UNITS}
    diag = _traced_backlog(run, m) if run.workload == "backlog" else _traced_queries(run, m)
    for name in ("session.start", "session.warmup"):  # the first: the cold JVM's
        s = next(s for s in run.spans if s["name"] == name)
        m[name + "_s"] = s["end"] - s["start"]
    m["loadgen.gen_s"] = run.cache.recorded_gen_s
    m["jvm.heap_peak_mb"] = heap_peak_mb(run.spark)
    m["rss.jvm_mb"] = run.rss.peak["jvm"]
    m["rss.py_workers_mb"] = run.rss.peak["py_workers"]
    m["rss.driver_mb"] = run.rss.peak["driver"]
    m["cpu.loadavg_start"] = run.host0["loadavg"]
    m["cpu.steal_s"] = hoststats.cpu_times()["steal"] - run.host0["steal_s"]
    return {"metrics": m, "diag": {**diag, "spans": len(run.spans)}}
