"""One benchmark session: a fresh Python process with a fresh JVM.

Usage: ``python3 perfbench/session.py <spec.json> <result.json>``

Started by ``run.py``, which prepares the inputs and aggregates results.
The session starts Spark, runs the warm-up, then runs the workload's passes
closed-loop until its time budget is spent: one client, each call waits for
the previous one.  Every output is checked against its oracle answer; a
wrong or failed operation is recorded, never retried.
"""

from __future__ import annotations

import gc
import json
import os
import random
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import pyarrow.parquet as pq  # noqa: E402

from arthur_redshift_etl_spark import loader, workload  # noqa: E402
from arthur_redshift_etl_spark.loader import (  # noqa: E402
    LoadContext,
    load_warehouse,
    update_warehouse,
)
from arthur_redshift_etl_spark.monitor import EventStore  # noqa: E402
from arthur_redshift_etl_spark.names import TableSelector  # noqa: E402
from arthur_redshift_etl_spark.repo import find_file_sets  # noqa: E402
from arthur_redshift_etl_spark.session import build_session  # noqa: E402
from arthur_redshift_etl_spark.sources.duckdb_source import extract_design  # noqa: E402

from perfbench import etl  # noqa: E402
from perfbench import trace as tr  # noqa: E402
from perfbench.workloads import STAR_SQL, canonical  # noqa: E402

clock = time.perf_counter


def start_session(spec: dict):
    n = spec["cores"]
    work = spec["work_dir"]
    conf = {
        "spark.ui.enabled": "false",
        "spark.driver.memory": spec["driver_memory"],
        "spark.local.dir": os.path.join(work, "spark-local"),
        # no hsperfdata file: the JVM would write it outside the work dir
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        # keep every stage in the status store so per-phase diffs are exact
        "spark.ui.retainedStages": "100000",
        "spark.ui.retainedJobs": "100000",
    }
    t0 = clock()
    spark = build_session(
        app_name="perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        warehouse_dir=os.path.join(work, "warehouse"),
        extra_conf=conf,
    )
    t1 = clock()
    spark.sparkContext.setLogLevel("ERROR")
    # warm-up, counted in setup_s and in no pass: one tiny job, so the
    # executor threads and the scheduler are up; it touches no workload table
    spark.range(1 << 16).selectExpr("sum(id)").collect()
    t2 = clock()
    return spark, t1 - t0, t2 - t0


def environment(spark) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "cores": int(spark.sparkContext.master.split("[")[1].rstrip("]")),
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
        "spark_version": spark.version,
        "java_version": str(jvm.System.getProperty("java.version")),
    }


class Phase:
    """Per-phase bookkeeping: op samples, failures and layer counters."""

    def __init__(self, spark, tracer, name: str, jvm_pid: int):
        self.spark, self.tracer, self.name, self.jvm_pid = spark, tracer, name, jvm_pid
        self.samples = []  # (op, wall seconds)
        self.failed = []  # (op, reason)
        self.attempted = 0
        self.extra = {}

    def __enter__(self):
        self.tracer.phase = self.name
        self.pending = []  # (op, wall, output, check), checked at exit
        if self.tracer.active:
            self.c0 = tr.codegen_counters(self.spark)
            self.s0 = tr.stage_counters(self.spark)
            self.p0 = tr.python_worker_cpu_ms(self.jvm_pid)[0]
        return self

    def __exit__(self, *exc):
        if self.tracer.active:
            c1 = tr.codegen_counters(self.spark)
            s1 = tr.stage_counters(self.spark)
            p1 = tr.python_worker_cpu_ms(self.jvm_pid)[0]
            self.extra["codegen.compiles"] = c1[0] - self.c0[0]
            self.extra["codegen.compile_ms"] = c1[1] - self.c0[1]
            for k in s1:
                self.extra[f"stage.{k}"] = s1[k] - self.s0[k]
            self.extra["python_worker.cpu_ms"] = p1 - self.p0
        # checks run after the counters are read, so their own Spark jobs
        # stay out of the phase's layer counts
        for name, wall, out, check in self.pending:
            try:
                reason = check(out)
            except Exception as exc:  # noqa: BLE001
                reason = f"check raised {type(exc).__name__}: {exc}"
            if reason:
                self.failed.append((name, reason[:300]))
            else:
                self.samples.append((name, wall))
        return False

    def op(self, name: str, call, check) -> None:
        """Time ``call()`` as one operation; its output is checked when the
        phase ends."""
        self.attempted += 1
        t0 = clock()
        try:
            with self.tracer.span("op"):
                out = call()
        except Exception as exc:  # noqa: BLE001 - a failed op is a data point
            self.failed.append((name, f"{type(exc).__name__}: {exc}"[:300]))
            traceback.print_exc(file=sys.stderr)
            return
        self.pending.append((name, clock() - t0, out, check))

    def result(self) -> dict:
        return {
            "name": self.name,
            "wall": sum(w for _, w in self.samples),
            "samples": self.samples,
            "failed": self.failed,
            "attempted": self.attempted,
            "extra": self.extra,
            "traced": self.tracer.active,
        }


def _compare(name: str, got: dict, want: dict):
    if got["columns"] != want["columns"]:
        return f"{name}: columns {got['columns']} != {want['columns']}"
    if len(got["rows"]) != len(want["rows"]):
        return f"{name}: {len(got['rows'])} rows, expected {len(want['rows'])}"
    for a, b in zip(got["rows"], want["rows"]):
        if a != b:
            return f"{name}: row {a} != expected {b}"
    return None


def _group(spark, tracer, group: str) -> None:
    if tracer.active:
        spark.sparkContext.setJobGroup(group, group)


# -- star_sql -------------------------------------------------------------

def star_pass(ph: Phase, spec: dict, order) -> None:
    spark, tracer = ph.spark, ph.tracer
    data_dir = spec["data_dir"]
    span = tracer.span
    for q in order:
        fn = workload.REGISTRY[q].fn

        def call(fn=fn):
            _group(spark, tracer, f"{ph.name}|build")
            with span("workload.build"):
                df = fn(spark, data_dir)
            with span("catalyst.plan"):
                df._jdf.queryExecution().executedPlan()
            _group(spark, tracer, f"{ph.name}|execute")
            with span("execute"):
                rows = df.collect()
            # no result caching between queries (the repo bench's protocol)
            spark.catalog.clearCache()
            return df, rows

        def check(out, q=q):
            df, rows = out
            got = canonical([f.name for f in df.schema.fields], rows)
            return _compare(q, got, spec["expected"][q])

        ph.op(q, call, check)
    if tracer.active:
        ph.extra["workload.build_jobs"] = tr.group_jobs(spark, f"{ph.name}|build")


# -- nightly_etl ----------------------------------------------------------

def _published_counts(spark, want: dict):
    """Check: the published fact and dimension have the oracle row counts."""
    def check(_out):
        for table, key in ((etl.FACT, "fact_rows"), (etl.DIM, "dim_rows")):
            n = spark.table(table).count()
            if n != want[key]:
                return f"{table}: {n} rows, expected {want[key]}"
        return None

    return check


def etl_rebuild(ph: Phase, spec: dict, order) -> None:
    """The nightly rebuild: extract every source, then a full blue-green
    load and publish."""
    spark, span, want = ph.spark, ph.tracer.span, spec["expected"]
    root = spec["design_root"]
    sources = {r.table_name.table: r for r in find_file_sets(root) if r.is_source_relation}
    for table in order:
        dest = os.path.join(root, "data", "src", table)

        def extract(design=sources[table].design, dest=dest):
            with span("extract.table"):
                df = extract_design(spark, design, spec["duck_path"])
                df.write.mode("overwrite").parquet(dest)

        def landed(_out, table=table, dest=dest):
            n = pq.ParquetDataset(dest).read(columns=[]).num_rows
            exp = want["source_rows"][table]
            return None if n == exp else f"extract {table}: {n} rows, expected {exp}"

        ph.op(f"extract.{table}", extract, landed)

    def rebuild():
        with span("loader.load_warehouse"):
            ctx = LoadContext(spark=spark, data_root=spec["lake"], store=EventStore())
            load_warehouse(ctx, find_file_sets(root))

    ph.op("load_warehouse", rebuild, _published_counts(spark, want))


def etl_refresh(ph: Phase, spec: dict, order) -> None:
    """A daytime refresh: rebuild the fact table and its dependents, then
    read the published views (``order`` names each view VIEW_READS times)."""
    spark, span, want = ph.spark, ph.tracer.span, spec["expected"]

    def refresh():
        with span("loader.update_warehouse"):
            ctx = LoadContext(spark=spark, data_root=spec["lake"], store=EventStore())
            update_warehouse(
                ctx, find_file_sets(spec["design_root"]), TableSelector([etl.FACT])
            )

    ph.op("update_warehouse", refresh, _published_counts(spark, want))
    for view in order:
        def read(view=view):
            with span("views.read"):
                df = spark.table(view)
                return df, df.collect()

        def check(out, view=view):
            df, rows = out
            return _compare(view, canonical(df.columns, rows), want["views"][view])

        ph.op(f"read.{view}", read, check)


# Later passes per run at least, so every operation has more than one warm
# sample: a star_sql pass is ~12 s and a run's time budget has room for two;
# a refresh pass is ~3 s, so nightly_etl has three.
MIN_LATER_PASSES = {"star_sql": 2, "nightly_etl": 3}
# Reads of each published view per later pass: analysts read the views many
# times a day, and with three reads of each view the step-latency median
# is a read's latency, which the one refresh per pass barely moves.
VIEW_READS = 3


def run_workload(spark, spec: dict, tracer, jvm_pid: int, deadline: float) -> list:
    """Cold pass, then later passes until the deadline (at least
    ``MIN_LATER_PASSES``)."""
    rng = random.Random(spec["seed"])
    if spec["workload"] == "star_sql":
        cold = later = (list(STAR_SQL), star_pass)
    else:
        cold = (list(etl.SOURCES), etl_rebuild)
        later = (list(etl.VIEWS) * VIEW_READS, etl_refresh)
        spec["lake"] = os.path.join(spec["work_dir"], "lake")
        if tracer.enabled:
            install_loader_spans(tracer)
    phases = []
    # a traced run alternates traced and untraced later passes, so the
    # tracing overhead is measured inside one JVM
    min_later = MIN_LATER_PASSES[spec["workload"]]
    if tracer.enabled:
        min_later = max(min_later, 2)
    i = 0
    while True:
        items, body = later if i else cold
        order = items[:]
        rng.shuffle(order)
        if tracer.enabled:
            tracer.active = not (i and i % 2 == 0)
        ph = Phase(spark, tracer, f"warm{i}" if i else "cold0", jvm_pid)
        t0 = clock()
        with ph:
            body(ph, spec, order)
        ph.extra["phase_wall"] = clock() - t0
        phases.append(ph.result())
        i += 1
        # one collection between passes, none inside a pass
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        if i > min_later and clock() + phases[-1]["extra"]["phase_wall"] > deadline:
            break
    return phases


def install_loader_spans(tracer) -> None:
    """Spans around the loader's public steps, installed from outside."""
    tracer.wrap(loader, "build_source_relation", "loader.build_source")
    tracer.wrap(loader, "build_transformation", "loader.build_transformation")
    tracer.wrap(loader, "materialize_dataframe", "loader.materialize")
    tracer.wrap(loader, "publish", "loader.publish")
    tracer.wrap(loader, "check_all_constraints", "constraints.check")


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - already shut down is fine
        pass
    if proc is not None:
        # the JVM exits when the stdin pipe pyspark gave it closes
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=15)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def main() -> None:
    with open(sys.argv[1]) as fh:
        spec = json.load(fh)
    with open(spec["expected_path"]) as fh:
        spec["expected"] = json.load(fh)
    tracer = tr.Tracer(spec["run_id"]) if spec["trace"] else tr.NullTracer()
    spark, start_s, setup_s = start_session(spec)
    jvm_pid = spark.sparkContext._gateway.proc.pid
    result = {"setup_s": setup_s, "session_start_s": start_s,
              "env": environment(spark), "phases": []}
    try:
        deadline = clock() + spec["budget_s"]
        phases = run_workload(spark, spec, tracer, jvm_pid, deadline)
        result["phases"] = phases
        if tracer.enabled:
            result["span_records"] = tracer.records()
            result["spans"] = {ph["name"]: tracer.summary(ph["name"]) for ph in phases}
            result["coverage"] = {
                ph["name"]: tracer.coverage(ph["name"], "op")
                for ph in phases if ph["traced"]
            }
        result["jvm_peak_rss_mb"] = tr.jvm_peak_rss_mb(jvm_pid)
    finally:
        stop_session(spark)
    with open(sys.argv[2], "w") as fh:
        json.dump(result, fh)


if __name__ == "__main__":
    main()
