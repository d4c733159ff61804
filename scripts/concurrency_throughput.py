#!/usr/bin/env python3
"""Concurrent-build throughput: the ETL's real operating mode, measured.

The reference orchestrator loads many relations at once (ThreadPoolExecutor
over sources, python/etl/load.py) and the engine session runs the FAIR
scheduler (session.py) so concurrent builds share the cluster instead of
queueing behind the largest one.  This harness measures what that buys:

- sequential pass: every query run one after another (sum = the FIFO
  single-writer floor);
- concurrent passes at widths 2/4/8: the same queries submitted from a
  thread pool, one scheduler pool per worker (pinned-thread local
  properties), recording makespan + per-query inflation;
- fairness: max per-query wall inflation under concurrency — FAIR should
  inflate everyone mildly instead of starving the small queries behind
  q21/minhash (FIFO's failure mode).

Speedup comes from filling scheduler gaps: no single query saturates all
32 cores through every stage (stragglers, exchange barriers, driver-side
planning), so overlapping builds raises aggregate throughput.  On a real
cluster the same configuration spreads builds across executors; the
queries/sec/core number transfers.

Run ALONE (32-core contention trap):  python scripts/concurrency_throughput.py
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
     SPARK_GRAFT_CPUS (default: the process's cores, session.default_cpus)
     SPARK_GRAFT_CONC_WIDTHS="2,4,8"
     SPARK_GRAFT_CONC_QUERIES=comma subset (default: bench DEFAULT_QUERIES)
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from arthur_redshift_etl_spark import workload  # noqa: E402
from arthur_redshift_etl_spark.session import build_session, default_cpus  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = default_cpus()
WIDTHS = [
    int(w) for w in os.environ.get("SPARK_GRAFT_CONC_WIDTHS", "2,4,8").split(",")
]


def query_names() -> list[str]:
    names = os.environ.get("SPARK_GRAFT_CONC_QUERIES")
    if names:
        return names.split(",")
    from bench import DEFAULT_QUERIES

    return list(DEFAULT_QUERIES)


def run_one(spark, name: str, pool: str | None) -> float:
    if pool is not None:
        # pinned-thread mode (default since Spark 3.2) makes local
        # properties per-Python-thread, so each worker lands in its own
        # FAIR pool
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", pool)
    t0 = time.perf_counter()
    workload.REGISTRY[name].fn(spark, SF_DIR).count()
    return time.perf_counter() - t0


def concurrent_pass(spark, names: list[str], width: int) -> dict:
    timings: dict[str, float] = {}
    lock = threading.Lock()

    def work(item):
        i, name = item
        t = run_one(spark, name, pool=f"pool{i % width}")
        with lock:
            timings[name] = round(t, 4)

    t0 = time.perf_counter()
    with ThreadPoolExecutor(max_workers=width) as ex:
        list(ex.map(work, enumerate(names)))
    return {"makespan": round(time.perf_counter() - t0, 4), "queries": timings}


def main() -> int:
    names = query_names()
    spark = build_session(
        app_name="concurrency-throughput",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
        extra_conf={"spark.ui.enabled": "false", "spark.driver.memory": "16g"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    for tbl in (
        "region nation customer supplier part orders lineitem "
        "events documents embeddings"
    ).split():
        workload.t(spark, SF_DIR, tbl).count()
    # one warm pass: plans + codegen hot so every mode measures execution
    for n in names:
        run_one(spark, n, pool=None)

    seq = {n: round(run_one(spark, n, pool=None), 4) for n in names}
    seq_total = round(sum(seq.values()), 4)

    report = {
        "sf_dir": SF_DIR,
        "cores": CPUS,
        "n_queries": len(names),
        "sequential_total": seq_total,
        "sequential_queries": seq,
        "concurrent": {},
    }
    for w in WIDTHS:
        res = concurrent_pass(spark, names, w)
        inflation = {
            n: round(res["queries"][n] / seq[n], 2)
            for n in names
            if seq[n] > 0.05  # sub-50ms queries: inflation ratio is noise
        }
        worst = max(inflation, key=inflation.get)
        report["concurrent"][str(w)] = {
            "makespan": res["makespan"],
            "speedup_vs_sequential": round(seq_total / res["makespan"], 2),
            "queries_per_sec": round(len(names) / res["makespan"], 2),
            "max_inflation": {worst: inflation[worst]},
            "median_inflation": sorted(inflation.values())[len(inflation) // 2],
        }
        print(
            f"# width {w}: makespan {res['makespan']:.1f}s "
            f"speedup {report['concurrent'][str(w)]['speedup_vs_sequential']}x "
            f"worst inflation {worst}={inflation[worst]}x",
            file=sys.stderr,
        )
    spark.stop()
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
