#!/usr/bin/env python3
"""The repo's benchmark: one workload, one seed, every metric by name.

    python3 perfbench/run.py --workload star_sql --seed 1 --seconds 40 --trace 0

Workloads (see BENCHMARK.json for why each was chosen):
  star_sql     the 18 relational bench queries, cold pass then warm passes
  nightly_etl  extract every source from a DuckDB upstream, full blue-green
               rebuild, refresh of the fact table, read the published views

The run is single-process and closed-loop: one client waits for each call
before it sends the next.  Spark runs as ``local[N]`` with N the cores this
process may use, and N shuffle partitions.  Inputs are generated from the
seed; every output is checked against an oracle answer computed by DuckDB,
and a wrong or failed operation counts in ``failed``.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced run.  The last line of stdout is one JSON object.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# sf0.01: 60k lineitem rows.  Query time at this size is planning and
# scheduling bound, as at sf0.1, and a run fits the benchmark's time budget.
SCALE_FACTOR = 0.01
SESSION_TIMEOUT_S = 150  # the whole run must end within 180 s
STRIPPED_ENV = ("SPARK_GRAFT_CONF", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_MASTER")
STRIPPED_PREFIX = "SPARK_GRAFT_BENCH_"
TAIL_SAMPLES_ABOVE = 10


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=SCALE_FACTOR,
                    help="scale factor of the generated tables")
    ap.add_argument("--corrupt-expected", default=None, metavar="OP",
                    help="self-check: falsify the oracle answer of one operation")
    return ap.parse_args(argv)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """A quarter of the machine's RAM, at most 4 GiB, in MiB."""
    with open("/proc/meminfo") as fh:
        total_kb = int(next(ln for ln in fh if ln.startswith("MemTotal")).split()[1])
    return f"{min(4096, total_kb // 1024 // 4)}m"


def pin_environment(work: str) -> None:
    """Strip the engine's override knobs and pin paths for child processes."""
    for key in list(os.environ):
        if key in STRIPPED_ENV or key.startswith(STRIPPED_PREFIX):
            del os.environ[key]
    # Python DataSource workers import the package by name
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the short-lived launcher JVM of spark-submit: no hsperfdata file either
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"


def run_session(spec: dict, work: str) -> dict:
    """Run the session process to completion and return its result."""
    spec_path = os.path.join(work, "session.spec.json")
    out_path = os.path.join(work, "session.result.json")
    log_path = os.path.join(work, "session.log")
    with open(spec_path, "w") as fh:
        json.dump(spec, fh)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(ROOT, "perfbench", "session.py"),
             spec_path, out_path],
            stdout=log, stderr=subprocess.STDOUT, start_new_session=True,
        )
        try:
            proc.wait(timeout=SESSION_TIMEOUT_S)
        finally:
            _kill_group(proc)
    if proc.returncode != 0 or not os.path.exists(out_path):
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise RuntimeError(f"session exited with {proc.returncode}")
    with open(out_path) as fh:
        return json.load(fh)


def _kill_group(proc) -> None:
    """Stop the session and everything it started, and wait for it."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except (ProcessLookupError, PermissionError):
        pass
    proc.wait()


def tail(samples):
    """The highest whole percentile at or above p50 with at least ten samples
    above it (nearest rank), as (percentile, value); None if there is none."""
    xs = sorted(samples)
    n = len(xs)
    for p in range(99, 49, -1):
        k = max(1, math.ceil(p / 100 * n))
        if n - k >= TAIL_SAMPLES_ABOVE:
            return p, xs[k - 1]
    return None


def fastest_warm(phases: list) -> list:
    """Each operation of a later pass at its fastest sample over the later
    passes; an operation repeated within a pass counts once per repeat.
    Contention from elsewhere on the host only ever adds time, and on a
    shared machine it comes in stalls of several seconds, so the fastest of
    a few samples spread over the run is the steady measure of the code."""
    per_op = {}
    for ph in phases:
        seen = {}
        for op, wall in ph["samples"]:
            seen[op] = seen.get(op, 0) + 1
            per_op.setdefault((op, seen[op]), []).append(wall)
    return [min(ws) for ws in per_op.values()]


def hd_median(samples) -> float:
    """The median by the Harrell-Davis estimator: a weighted mean of all
    order statistics, with Beta((n+1)/2, (n+1)/2) weights.  The samples
    are the latencies of distinct operations, with gaps between them around
    the middle, so the middle order statistic alone jumps from one
    operation to the next when the host's speed shifts."""
    import numpy as np

    xs = np.sort(np.asarray(samples, dtype=float))
    n = len(xs)
    a = (n + 1) / 2
    t = np.linspace(0.0, 1.0, 20001)
    density = (t * (1.0 - t)) ** (a - 1)
    cdf = np.concatenate(([0.0], np.cumsum((density[1:] + density[:-1]) / 2)))
    cdf /= cdf[-1]
    weights = np.diff(np.interp(np.arange(n + 1) / n, t, cdf))
    return float(np.dot(xs, weights))


def end_to_end(main: dict) -> dict:
    phases = main["phases"]
    fastest = fastest_warm(phases[1:])
    return {
        "setup_s": (main["setup_s"], "s"),
        "cold_pass_s": (phases[0]["wall"], "s"),
        "warm_pass_s": (sum(fastest), "s"),
        "op_p50_s": (hd_median(fastest), "s"),
    }


PHASE_LAYERS = {
    # name: (unit, how to read it from a phase's spans / counters)
    "workload.build_s": ("s", lambda ph, sp: _span(sp, "workload.build")),
    "workload.build_jobs": ("count", lambda ph, sp: ph["extra"].get("workload.build_jobs", 0)),
    "catalyst.plan_s": ("s", lambda ph, sp: _span(sp, "catalyst.plan")),
    "codegen.compiles": ("count", lambda ph, sp: ph["extra"]["codegen.compiles"]),
    "codegen.compile_ms": ("ms", lambda ph, sp: ph["extra"]["codegen.compile_ms"]),
    "execute.s": ("s", lambda ph, sp: _span(sp, "execute")),
    "execute.jobs": ("count", lambda ph, sp: ph["extra"]["stage.jobs"]
                     - ph["extra"].get("workload.build_jobs", 0)),
    "execute.stages": ("count", lambda ph, sp: ph["extra"]["stage.stages"]),
    "execute.task_run_ms": ("ms", lambda ph, sp: ph["extra"]["stage.executor_run_ms"]),
    "execute.shuffle_write_bytes": ("B", lambda ph, sp: ph["extra"]["stage.shuffle_write_bytes"]),
    "execute.spill_bytes": ("B", lambda ph, sp: ph["extra"]["stage.memory_spilled_bytes"]
                            + ph["extra"]["stage.disk_spilled_bytes"]),
    "python_worker.cpu_ms": ("ms", lambda ph, sp: ph["extra"]["python_worker.cpu_ms"]),
    "python_worker.share": ("ratio", lambda ph, sp: ph["extra"]["python_worker.cpu_ms"]
                            / ph["extra"]["stage.executor_run_ms"]
                            if ph["extra"]["stage.executor_run_ms"] else 0.0),
    "extract.s": ("s", lambda ph, sp: _span(sp, "extract.table")),
    "loader.rebuild_s": ("s", lambda ph, sp: _span(sp, "loader.load_warehouse")),
    "loader.refresh_s": ("s", lambda ph, sp: _span(sp, "loader.update_warehouse")),
    "loader.build_source_s": ("s", lambda ph, sp: _span(sp, "loader.build_source")),
    "loader.build_transformation_s": (
        "s", lambda ph, sp: _span(sp, "loader.build_transformation")),
    "loader.materialize_s": ("s", lambda ph, sp: _span(sp, "loader.materialize")),
    "loader.publish_s": ("s", lambda ph, sp: _span(sp, "loader.publish")),
    "constraints.s": ("s", lambda ph, sp: _span(sp, "constraints.check")),
    "constraints.checks": (
        "count", lambda ph, sp: sp.get("constraints.check", {}).get("count", 0)),
    "views.read_s": ("s", lambda ph, sp: _span(sp, "views.read")),
}


def _span(spans: dict, name: str) -> float:
    return spans.get(name, {}).get("total", 0.0)


# spans whose self time is reported: the time inside them that no child
# span covers (for "op", the benchmark's own glue between layer calls)
SELF_SPANS = ("op", "loader.load_warehouse", "loader.update_warehouse",
              "loader.build_source", "loader.build_transformation")


def per_layer(main: dict) -> dict:
    """Every per-layer metric of a traced session (0 where a layer is not on
    the workload's path).  "cold" is the first pass in the JVM, "warm" the
    first later pass, both traced."""
    from perfbench import etl

    traced = [ph for ph in main["phases"] if ph["traced"]]
    untraced = [ph for ph in main["phases"] if not ph["traced"]]
    cold, warm = traced[0], traced[1]
    out = {
        "session.start_s": (main["session_start_s"], "s"),
        "session.warmup_s": (main["setup_s"] - main["session_start_s"], "s"),
        "session.jvm_peak_rss_mb": (main["jvm_peak_rss_mb"], "MiB"),
    }
    for label, ph in (("cold", cold), ("warm", warm)):
        spans = main["spans"][ph["name"]]
        out[f"{label}.wall_s"] = (ph["wall"], "s")
        for name, (unit, read) in PHASE_LAYERS.items():
            out[f"{label}.{name}"] = (float(read(ph, spans)), unit)
        # task time over the time the phase's cores were available
        out[f"{label}.execute.core_util"] = (
            ph["extra"]["stage.executor_run_ms"]
            / (1000.0 * ph["wall"] * main["env"]["cores"]) if ph["wall"] else 0.0,
            "ratio")
        for name in SELF_SPANS:
            out[f"{label}.self.{name}_s"] = (spans.get(name, {}).get("self", 0.0), "s")
        out[f"{label}.trace.coverage"] = (main["coverage"][ph["name"]], "ratio")
    walls = dict(cold["samples"])
    for table in etl.SOURCES:
        out[f"extract.{table}.s"] = (walls.get(f"extract.{table}", 0.0), "s")
    out["trace.overhead_s"] = (warm["wall"] - untraced[0]["wall"], "s")
    return out


def main(argv=None) -> int:
    args = parse_args(argv)

    # import before any output: without the package or the repo bench's
    # host meter this is not a checkout, and the run must fail
    import arthur_redshift_etl_spark  # noqa: F401
    from bench import _HostMeter

    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {workloads.WORKLOADS}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        pin_environment(work)
        n = cores()
        spec = workloads.prepare(args.workload, work, args.sf, args.seed)
        if args.corrupt_expected:
            _corrupt(spec["expected_path"], args.corrupt_expected)
        spec.update(
            cores=n, driver_memory=driver_memory(), work_dir=work,
            trace=bool(args.trace), run_id=f"{args.workload}-{args.seed}",
            budget_s=args.seconds,
        )

        meter = _HostMeter()
        t0 = time.perf_counter()
        result = run_session(spec, work)
        wall = time.perf_counter() - t0
        host = meter.finish()

        phases = result["phases"]
        attempted = sum(ph["attempted"] for ph in phases)
        failures = [f for ph in phases for f in ph["failed"]]
        for op, reason in failures:
            print(f"# FAILED {op}: {reason}", file=sys.stderr)
        env = result["env"]
        print(
            f"# env workload={args.workload} seed={args.seed} sf={args.sf} "
            f"cores={env['cores']} default_parallelism={env['default_parallelism']} "
            f"shuffle_partitions={env['shuffle_partitions']} "
            f"driver_memory={env['driver_memory']} spark={env['spark_version']} "
            f"java={env['java_version']} loop=closed clients=1"
        )
        print(
            f"# host steal_cores={host['steal_cores']} other_cores={host['other_cores']} "
            f"own_cores={host['own_cores']} load1={host['load1_post']} "
            f"spin_ms={host['spin_ms_pre']}/{host['spin_ms_post']} session_wall_s={wall:.1f}"
        )
        if args.trace:
            for rec in result["span_records"]:
                print(f"# span {json.dumps(rec)}", file=sys.stderr)
            metrics = per_layer(result)
            metrics["error_rate"] = (len(failures) / attempted, "ratio")
        else:
            metrics = end_to_end(result)
            warm = [w for ph in phases[1:] for _, w in ph["samples"]]
            tp = tail(warm)
            print(
                f"# op_p50_s over {len(fastest_warm(phases[1:]))} operations at their "
                f"fastest of {len(phases) - 1} later passes; tail of all "
                f"{len(warm)} warm samples: "
                + (f"p{tp[0]}={tp[1]:.4f}s" if tp else
                   "no percentile at or above p50 has ten samples above it")
                + f"; error_rate={len(failures) / attempted:.4f} "
                f"({len(failures)}/{attempted})"
            )
            if args.workload == "nightly_etl":
                cold = dict(phases[0]["samples"])
                refresh = [dict(ph["samples"]).get("update_warehouse") for ph in phases[1:]]
                print(
                    "# first cycle in the JVM: extract_s="
                    f"{sum(v for k, v in cold.items() if k.startswith('extract.')):.3f} "
                    f"rebuild_s={cold.get('load_warehouse', float('nan')):.3f}; "
                    "later in the JVM: refresh_s="
                    + ",".join(f"{r:.3f}" for r in refresh if r is not None)
                )
        line = {
            "correct": not failures,
            "attempted": attempted,
            "failed": len(failures),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        print(json.dumps(line))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work dir is still there


def _corrupt(path: str, op: str) -> None:
    """Replace one expected answer with a wrong one (self-check only)."""
    with open(path) as fh:
        expected = json.load(fh)
    answers = expected.get("views", expected)
    if op in answers:
        answers[op]["rows"] = answers[op]["rows"][1:] + [["wrong"]]
    elif op in expected.get("source_rows", {}):
        expected["source_rows"][op] += 1
    else:
        expected[op] += 1
    with open(path, "w") as fh:
        json.dump(expected, fh)


if __name__ == "__main__":
    sys.exit(main())
