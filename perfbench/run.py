"""Warehouse benchmark: runs one workload with one seed and prints one
JSON result line.

    python3 perfbench/run.py --workload nrt_ingest --seed 1 --seconds 5 --trace 0

Run it from the root of a checkout.  It makes every input from ``--seed``
under ``.bench_work/`` in the checkout, starts one ``local[N]`` Spark
session (N = min(4, cores)), drives the workload from one closed-loop
client (``extension_queries``: whole passes until ``--seconds`` of
measurement have passed; ``nrt_ingest``: one drain), checks the outputs,
and prints as its LAST stdout line::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` instead
records spans and per-layer counters, writes them to
``.bench_trace/<workload>-<seed>.json`` and reports the per-layer
metrics.  ``perfbench/METRICS.md`` lists the workloads, the metrics and
the end-to-end metric each per-layer metric should move.
"""

from __future__ import annotations

import argparse
import datetime as dt
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
TRACE_DIR = os.path.join(ROOT, ".bench_trace")
CPUS = min(4, os.cpu_count() or 1)
DRIVER_MEMORY = "1g"
# bench.calibrate() is timed CAL_REPEATS times before the session starts
# and after it stops, and recorded with the host's load in the
# diagnostics line.
CAL_REPEATS = 5

# nrt_ingest: the transaction feed at INGEST_SF split by the seed into
# INGEST_FILES files, one file per trigger, a maintenance pass every
# MAINTENANCE_EVERY batches; the first WARM_BATCHES batches are warm-up.
INGEST_SF = 0.01
INGEST_FILES = 16
WARM_BATCHES = 3
MAINTENANCE_EVERY = 4

# extension_queries: the registry queries of pipelines.py and
# extensions.py that launch the most construction jobs (eager
# localCheckpoint / driver collect before the final plan exists), plus
# q_multimodal_meta, which decodes in Python workers (mapInPandas).
# perfbench/METRICS.md has the per-query figures this choice rests on.
EXTENSION_QUERIES = (
    "q_dup_clusters",
    "q_ann_family",
    "q_summary_family",
    "q_dsir_select",
    "q_lm_perplexity",
    "q_passage_family",
    "q_multimodal_meta",
)
QUERY_SF = 0.01

E2E_METRICS = ("setup_s", "op_cpu_ms", "ok_rate")
LAYER_METRICS = (
    "session_start_s",
    "scan_bytes", "scan_rows",
    "construct_s", "construct_jobs",
    "catalyst_ms",
    "exec_s", "jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "cpu_util",
    "shuffle_write_bytes", "shuffle_read_bytes", "shuffle_records", "spill_bytes",
    "gc_s", "storage_held_mb", "peak_rss_mb",
    "pyworker_cpu_s",
    "sink_ms", "plan_ms", "offset_ms", "commit_ms", "batch_jobs",
    "dim_write_ms", "fact_write_ms", "maintenance_ms",
    "write_bytes_per_row", "at_rest_files", "at_rest_bytes_per_row",
    "error_rate",
    "op_wall_ms", "pass_wall_s", "rows_per_s", "traced_op_cpu_ms",
)

sys.path.insert(0, HERE)

import meter  # noqa: E402


class Run:
    """State of one benchmark run: session, dirs, tracer, results."""

    def __init__(self, args, work: str) -> None:
        self.args = args
        self.work = work
        self.trace = bool(args.trace)
        self.tracer = meter.Tracer(self.trace, f"{args.workload}-{args.seed}")
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.e2e: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.wall: dict[str, float] = {}
        self.jit_s: dict[str, float] = {}  # JIT compiler CPU, left out of e2e
        self.samples_ms: list[float] = []
        self.spark = None
        self.catalyst = None
        self.t_start = 0.0
        self.session_s = 0.0
        self.usage = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what[:300])

    def start_session(self) -> None:
        from datawarehouse_etl_using_hyperjoin_spark.session import get_spark

        conf = {
            "spark.local.dir": self.path("local"),
            # compiler threads live as long as the JVM, so the sampler can
            # leave their CPU out (meter.JitThreads)
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={self.path('tmp')} "
                "-XX:-UseDynamicNumberOfCompilerThreads"
            ),
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.sql.streaming.checkpointLocation": self.path("checkpoints"),
            "spark.ui.showConsoleProgress": "false",
            # the status store evicts past these (defaults 1000); the
            # counters refuse to sum over an evicted range
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
            "spark.sql.ui.retainedExecutions": "1000000",
        }
        self.t_start = t0 = time.perf_counter()
        with self.tracer.span("session"):
            self.spark = get_spark(
                f"perfbench-{self.args.workload}", cpus=CPUS,
                driver_memory=DRIVER_MEMORY, extra_conf=conf,
            )
            self.spark.sparkContext.setLogLevel("ERROR")
        self.session_s = time.perf_counter() - t0
        if self.trace:
            self.catalyst = meter.register_catalyst_listener(self.spark)

    def end_setup(self, t_measure: float) -> None:
        """Set-up ends where measurement starts: it costs the process
        tree's CPU, JIT compiler threads left out, from session start to
        ``t_measure`` (perf_counter)."""
        self.e2e["setup_s"] = self.usage.cpu_between(self.t_start, t_measure)
        self.jit_s["setup"] = self.usage.jit_between(self.t_start, t_measure)
        self.wall["setup_wall_s"] = t_measure - self.t_start

    def measured(self, t0: float, t1: float, walls: list[float], rows: float = 0.0) -> None:
        """Record the measured region [t0, t1] (perf_counter): its
        operation samples are ``self.samples_ms``, it ran in passes of
        ``walls`` seconds and committed ``rows`` input rows."""
        cpu_s = self.usage.cpu_between(t0, t1)
        self.e2e["op_cpu_ms"] = 1000 * cpu_s / len(self.samples_ms)
        self.jit_s["measured"] = self.usage.jit_between(t0, t1)
        self.wall.update({
            "op_wall_ms": statistics.geometric_mean(self.samples_ms),
            "pass_wall_s": statistics.median(walls),
            "rows_per_s": rows / sum(walls),
        })


# ------------------------------------------------------------- correctness


def _canon(v):
    if v is None:
        return None
    if hasattr(v, "item") and not isinstance(v, (list, tuple, dict)):
        v = v.item()
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else float(f"{v:.12g}")
    if isinstance(v, (bool, int, str)):
        return v
    import decimal

    if isinstance(v, decimal.Decimal):
        return float(f"{float(v):.12g}")
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return str(v)


def result_digest(columns, rows) -> tuple[int, str]:
    """(row count, order-insensitive hash) of a result: columns sorted by
    name, values canonicalized (floats to 12 significant digits), rows
    hashed in sorted order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(repr(tuple(_canon(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256(repr([columns[i] for i in order]).encode())
    for line in lines:
        h.update(line.encode())
    return len(lines), h.hexdigest()


def spark_digest(df) -> tuple[int, str]:
    return result_digest(df.columns, [tuple(r) for r in df.collect()])


def oracle_digest(con, sql: str) -> tuple[int, str]:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    table = cur.fetch_arrow_table()
    rows = list(zip(*(c.to_pylist() for c in table.columns))) if table.num_columns else []
    return result_digest(cols, rows)


def duck(data_dir: str):
    import duckdb

    from datawarehouse_etl_using_hyperjoin_spark.sources.fixtures import FIXTURE_TABLES

    con = duckdb.connect()
    for t in FIXTURE_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
        )
    return con


# ----------------------------------------------------------- layer counters


def snapshot_layers(run: Run) -> dict:
    """Counter baselines at the start of the measured region."""
    spark = run.spark
    jobs, stages = meter.store_snapshot(spark)
    out = {
        "stage": max((s["stageId"] for s in stages), default=-1),
        "job": max((j["jobId"] for j in jobs), default=-1),
        "t_ms": int(time.time() * 1000),
    }
    if run.trace:
        out.update({
            "pyworker_cpu_s": meter.pyworker_cpu_s(run.usage.pids),
            "sql": meter.max_execution_id(spark),
        })
    return out


def measured_totals(run: Run, before: dict) -> tuple[list[dict], dict]:
    """Jobs and stage sums of the measured region: ids past the baseline,
    submitted at or after its start time ``before["t_ms"]``."""
    jobs, stages = meter.store_snapshot(run.spark)
    jobs = [
        j for j in jobs
        if j["jobId"] > before["job"] and (j.get("submissionTime") or 0) >= before["t_ms"]
    ]
    return jobs, meter.stage_totals(stages, before["stage"], before["t_ms"])


def layer_delta(run: Run, before: dict, measured_s: float, per: int) -> dict:
    """Per-layer counters over the measured region, divided by ``per``
    (passes for the query mix, micro-batches for streams)."""
    spark = run.spark
    jobs, tot = measured_totals(run, before)
    return {
        "jobs": len(jobs) / per,
        "stages": tot["stages"] / per,
        "tasks": tot["tasks"] / per,
        "task_run_s": tot["task_run_ms"] / 1000 / per,
        "task_cpu_s": tot["task_cpu_ns"] / 1e9 / per,
        "cpu_util": tot["task_cpu_ns"] / 1e9 / (measured_s * CPUS),
        "gc_s": tot["gc_ms"] / 1000 / per,
        "scan_bytes": tot["scan_bytes"] / per,
        "scan_rows": tot["scan_rows"] / per,
        "shuffle_write_bytes": tot["shuffle_write_bytes"] / per,
        "shuffle_read_bytes": tot["shuffle_read_bytes"] / per,
        "shuffle_records": tot["shuffle_records"] / per,
        "spill_bytes": (tot["spill_bytes"] + tot["spill_mem_bytes"]) / per,
        "catalyst_ms": run.catalyst.ms_since(before["t_ms"]) / per,
        "storage_held_mb": meter.storage_held_mb(spark),
        "pyworker_cpu_s": (
            meter.pyworker_cpu_s(run.usage.pids) - before["pyworker_cpu_s"]
        ) / per,
        "write_bytes": tot["output_bytes"],
    }


def trace_catalyst(run: Run) -> None:
    """Catalyst phases reported by the listener become spans under the
    innermost span whose interval holds them."""
    if not run.trace:
        return
    offset = time.time() - time.perf_counter()
    spans = [s for s in run.tracer.spans if s["end"] is not None]
    for phase, start_ms, end_ms in run.catalyst.phase_spans():
        lo, hi = start_ms / 1000 - offset, end_ms / 1000 - offset
        holders = [s for s in spans if s["start"] <= lo and hi <= s["end"] + 1e-3]
        parent = max(holders, key=lambda s: s["start"])["id"] if holders else None
        run.tracer.add(f"catalyst.{phase}", lo, hi, parent)


# --------------------------------------------------------------- query mix


def extension_queries(run: Run) -> None:
    import gen
    import numpy as np

    from datawarehouse_etl_using_hyperjoin_spark.queries import load_registry

    spark, seed = run.spark, run.args.seed
    registry = load_registry()
    data = run.path("data")
    with run.tracer.span("inputs"):
        gen.write_tables(gen.make_tables(seed, QUERY_SF), data)

    # warm-up: each query once, collected for the correctness check
    warm = {}
    for name in EXTENSION_QUERIES:
        with run.tracer.span("warm", query=name):
            try:
                warm[name] = spark_digest(registry[name].fn(spark, data))
            except Exception as exc:  # a failing query is a counted error
                warm[name] = (-1, repr(exc))

    rng = np.random.default_rng(seed)
    sc = spark.sparkContext
    pass_walls = []
    construct_s = exec_s = 0.0
    before = snapshot_layers(run)
    t_measure = time.perf_counter()
    run.end_setup(t_measure)
    # closed loop: whole passes until --seconds have passed, so a slow host
    # measures longer, not fewer, queries
    while not pass_walls or time.perf_counter() < t_measure + run.args.seconds:
        n_pass = len(pass_walls)
        t_pass = time.perf_counter()
        with run.tracer.span("pass", n=n_pass):
            for name in rng.permutation(EXTENSION_QUERIES):
                name = str(name)
                t0 = t1 = time.perf_counter()
                error = None
                with run.tracer.span("query", query=name):
                    try:
                        if run.trace:
                            sc.setJobGroup(f"construct:{n_pass}:{name}", name)
                        with run.tracer.span("construct"):
                            df = registry[name].fn(spark, data)
                        t1 = time.perf_counter()
                        if run.trace:
                            sc.setJobGroup(f"execute:{n_pass}:{name}", name)
                        with run.tracer.span("execute"):
                            df.write.mode("overwrite").format("noop").save()
                    except Exception as exc:  # counted, the loop goes on
                        error = f"{name}: {exc!r}"
                t2 = time.perf_counter()
                run.record(error is None, error or "")
                run.samples_ms.append(1000 * (t2 - t0))
                construct_s += t1 - t0
                exec_s += t2 - t1
        pass_walls.append(time.perf_counter() - t_pass)
    t_done = time.perf_counter()
    run.measured(t_measure, t_done, pass_walls)
    if run.trace:
        sc.setJobGroup(None, None)
        n = len(pass_walls)
        jobs, _ = measured_totals(run, before)
        layers = layer_delta(run, before, sum(pass_walls), n)
        layers.pop("write_bytes")
        layers["construct_s"] = construct_s / n
        layers["exec_s"] = exec_s / n
        layers["construct_jobs"] = sum(
            1 for j in jobs if (j.get("jobGroup") or "").startswith("construct:")
        ) / n
        run.layers.update(layers)
        trace_catalyst(run)

    # correctness, outside the timed region: each warm-up result matches
    # its DuckDB oracle
    con = duck(data)
    for name in EXTENSION_QUERIES:
        want = oracle_digest(con, registry[name].oracle)
        run.record(warm[name] == want, f"{name}: spark {warm[name]}, oracle {want}")
    con.close()


# --------------------------------------------------------------- streaming


def progress_batches(events: list[dict]) -> list[dict]:
    """One record per micro-batch from its progress event."""
    out = []
    for e in events:
        d = e.get("durationMs") or {}
        out.append({
            "batch": e["batchId"],
            "ts": e["timestamp"],
            "rows": e.get("numInputRows") or 0,
            "trigger_ms": d.get("triggerExecution", 0),
            "sink_ms": d.get("addBatch", 0),
            "plan_ms": d.get("queryPlanning", 0),
            "offset_ms": d.get("latestOffset", 0) + d.get("getBatch", 0),
            "commit_ms": d.get("walCommit", 0) + d.get("commitOffsets", 0),
        })
    return out


def take_progress(run: Run, listener, files: int, parent=None) -> list[dict]:
    """Every progress event of the drain just stopped, as batch records
    (and batch/sink spans under ``parent``).  Counts a failure unless one
    data batch per file was reported: maxFilesPerTrigger is 1."""
    meter.drain_listener_bus(run.spark)
    batches = progress_batches(listener.take())
    seen = sum(1 for b in batches if b["rows"] > 0)
    run.record(seen == files, f"saw {seen} data batches for {files} files")
    if run.trace and parent is not None:
        offset = time.time() - time.perf_counter()
        for b in batches:
            start = epoch_s(b["ts"]) - offset
            run.tracer.add("batch", start, start + b["trigger_ms"] / 1000, parent,
                           batch=b["batch"], rows=b["rows"])
            run.tracer.add("sink", start, start + b["sink_ms"] / 1000,
                           len(run.tracer.spans) - 1)
    return batches


def classify_writes(execs: list[dict]) -> dict[str, float]:
    """Milliseconds of nested SQL executions by the warehouse artifact they
    touch: the dimension upsert, the fact append, or a maintenance pass
    (compaction reads and rewrites the fact relation)."""
    out = {"dim_write_ms": 0.0, "fact_write_ms": 0.0, "maintenance_ms": 0.0}
    for e in execs:
        if e["end"] is None or e["id"] == e["root"]:
            continue
        plan, ms = e["plan"], e["end"] - e["start"]
        if "dim_product" in plan:
            out["dim_write_ms"] += ms
        elif "fact_enriched/batch_id=" in plan and "InsertIntoHadoopFsRelation" in plan:
            out["fact_write_ms"] += ms
        elif "fact_enriched" in plan:
            out["maintenance_ms"] += ms
    return out


def parquet_bytes_files(path: str) -> tuple[int, int]:
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                total += os.path.getsize(os.path.join(dirpath, n))
                files += 1
    return total, files


def spark_table_digest(df) -> tuple[int, int]:
    """(row count, order-insensitive hash) of a DataFrame computed in
    Spark: the exact sum of per-row 64-bit hashes over sorted columns."""
    from pyspark.sql import functions as F

    row = df.select(
        F.count("*"),
        F.sum(F.xxhash64(*sorted(df.columns)).cast("decimal(38,0)")),
    ).first()
    return row[0], row[1]


def nrt_ingest(run: Run) -> None:
    import gen
    import numpy as np

    from datawarehouse_etl_using_hyperjoin_spark import etl
    from datawarehouse_etl_using_hyperjoin_spark.sources.fixtures import (
        TRANSACTIONS_ORACLE,
        master_data,
    )
    from datawarehouse_etl_using_hyperjoin_spark.streaming.pipeline import (
        read_parquet_stream,
        run_pipeline_streaming,
    )
    from pyspark.sql import functions as F

    spark, seed = run.spark, run.args.seed
    data, feed, out = run.path("data"), run.path("feed"), run.path("out")
    with run.tracer.span("inputs"):
        gen.write_tables(gen.make_tables(seed, INGEST_SF), data)
        # the reference's transaction stream, in a seeded order
        con = duck(data)
        txn = con.execute(f"SELECT * FROM ({TRANSACTIONS_ORACLE}) ORDER BY ALL").fetch_arrow_table()
        con.close()
        txn = txn.take(np.random.default_rng(seed).permutation(txn.num_rows))
        gen.write_file_feed(txn, feed, INGEST_FILES)

    listener = meter.make_progress_listener()
    spark.streams.addListener(listener)
    offset = time.time() - time.perf_counter()
    before = snapshot_layers(run)
    with run.tracer.span("drain") as sp:
        run_pipeline_streaming(
            spark,
            read_parquet_stream(spark, feed, max_files_per_trigger=1),
            master_data(spark, data), out,
            checkpoint_dir=out + ".ckpt",
            maintenance_every=MAINTENANCE_EVERY,
        )
    t_end = time.perf_counter()
    batches = take_progress(run, listener, INGEST_FILES, sp["id"] if sp else None)
    spark.streams.removeListener(listener)
    # the first WARM_BATCHES batches are the warm-up: set-up ends, and
    # measurement starts, when the first measured batch starts
    batches = batches[WARM_BATCHES:]
    t_measure = epoch_s(batches[0]["ts"]) - offset
    before["t_ms"] = int(1000 * (t_measure + offset))
    run.end_setup(t_measure)
    rows = sum(b["rows"] for b in batches)
    run.samples_ms = [b["trigger_ms"] for b in batches]
    run.measured(t_measure, t_end, [t_end - t_measure], rows)
    if run.trace:
        layers = layer_delta(run, before, t_end - t_measure, len(batches))
        execs = [
            e for e in meter.sql_executions(spark, before["sql"])
            if e["start"] >= before["t_ms"]
        ]
        layers.update({k: v / len(batches) for k, v in classify_writes(execs).items()})
        layers["write_bytes_per_row"] = layers.pop("write_bytes") / rows
        for k in ("sink_ms", "plan_ms", "offset_ms", "commit_ms"):
            layers[k] = sum(b[k] for b in batches) / len(batches)
        layers["batch_jobs"] = layers["jobs"]
        run.layers.update(layers)
        trace_catalyst(run)

    # correctness, outside the timed region: the streamed fact equals the
    # batch HyperJoin of the same inputs; the dimension is key-unique
    want = spark_table_digest(etl.run_hyperjoin(*etl.ingest(spark, data)).select(
        "order_id", "line_number", "product_id", "quantity",
        "product_price_num", "total_sale",
    ))
    fact = spark_table_digest(spark.read.parquet(f"{out}/fact_enriched").drop("batch_id"))
    dim_n, dim_keys = spark.read.parquet(f"{out}/dim_product").select(
        F.count("*"), F.countDistinct("product_id")
    ).first()
    run.record(
        fact == want and dim_n == dim_keys,
        f"fact {fact} vs batch {want}, dim {dim_n} rows {dim_keys} keys",
    )
    at_rest, files = parquet_bytes_files(out)
    run.layers["at_rest_bytes_per_row"] = at_rest / want[0]
    run.layers["at_rest_files"] = files


def epoch_s(iso: str) -> float:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


WORKLOADS = {
    "nrt_ingest": nrt_ingest,
    "extension_queries": extension_queries,
}


# --------------------------------------------------------------------- main


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_dirs(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import bench
        import datawarehouse_etl_using_hyperjoin_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the warehouse from {ROOT}: {exc}", file=sys.stderr)
        return 2
    # every process this run starts is stopped, and waited for, before it
    # exits: on return, on an exception and on SIGTERM
    meter.adopt_orphans()
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    work = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    try:
        prepare_dirs(work)
        run, host = measure(args, work, bench)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        meter.stop_descendants(bench._tree_cpu_jiffies)
    return report(run, host)


def measure(args, work: str, bench) -> tuple[Run, dict]:
    run = Run(args, work)
    host = {
        "cal": [bench.calibrate() for _ in range(CAL_REPEATS)],
        "calm": [bench.calibrate_mem()],
    }
    host_meter = bench.HostCpuMeter()
    run.usage = meter.TreeSampler(bench._tree_cpu_jiffies).start()
    try:
        with run.tracer.span("workload", workload=args.workload):
            run.start_session()
            WORKLOADS[args.workload](run)
    finally:
        run.usage.stop()
        meter.stop_spark(run.spark)
    host["cal"] += [bench.calibrate() for _ in range(CAL_REPEATS)]
    host["calm"].append(bench.calibrate_mem())
    host["host_cpu"] = host_meter.read()
    host["jit_cpu_s"] = run.jit_s
    run.wall["peak_rss_mb"] = run.usage.peak_mb()
    run.e2e["ok_rate"] = 1 - run.failed / run.attempted
    run.layers["session_start_s"] = run.session_s
    run.layers["error_rate"] = run.failed / run.attempted
    run.layers.update(run.wall)
    # traced minus untraced CPU per operation is the tracing overhead
    run.layers["traced_op_cpu_ms"] = run.e2e["op_cpu_ms"]
    return run, host


def report(run: Run, host: dict) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if run.trace:
        names = spec["per_layer"]
        values = {n: run.layers.get(n, 0.0) for n in LAYER_METRICS}
    else:
        names = spec["end_to_end"]
        values = {n: run.e2e[n] for n in E2E_METRICS}
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in names}
    n = len(run.samples_ms)
    pct = meter.supported_tail_pct(n)
    diag = {
        "workload": run.args.workload, "seed": run.args.seed, "host": host,
        "wall": run.wall, "samples": n,
        "tail": {"pct": pct, "ms": meter.percentile(run.samples_ms, pct) if pct else None},
        "errors": run.errors[:20],
    }
    if run.trace:
        os.makedirs(TRACE_DIR, exist_ok=True)
        path = os.path.join(TRACE_DIR, f"{run.args.workload}-{run.args.seed}.json")
        with open(path, "w") as f:
            json.dump({
                "spans": run.tracer.spans,
                "self_time_s": meter.self_times(run.tracer.spans),
                "layers": run.layers,
                "diagnostics": diag,
            }, f)
        diag["trace_file"] = os.path.relpath(path, ROOT)
    print(json.dumps(diag))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
