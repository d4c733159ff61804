#!/usr/bin/env python3
"""Time named catalog entries (noop sink, warm reps) — the harness for the
r13 multi-consumer-subtree pin sweep over the high-exchange eval pipelines.

Usage:
  python scripts/pin_sweep_ab.py entry1,entry2 [reps]

Run on the SAME box immediately before and after a plan change; compare the
min/median.  Also prints the shuffle-exchange count of each entry's plan.

Cores: SPARK_GRAFT_CPUS, else the process's cores (session.default_cpus).
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from arthur_redshift_etl_spark.plans.lint import plan_text  # noqa: E402
from arthur_redshift_etl_spark.session import build_session, default_cpus  # noqa: E402
from arthur_redshift_etl_spark.workload import REGISTRY  # noqa: E402


def main() -> None:
    names = sys.argv[1].split(",")
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = default_cpus()
    spark = build_session(
        app_name="pin-sweep-ab", master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf={"spark.ui.enabled": "false", "spark.driver.memory": "8g"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        spark.sparkContext.setJobDescription(f"pin_sweep:{name}")
        df = REGISTRY[name].fn(spark, sf_dir)
        n_ex = plan_text(df).count(") Exchange")
        df.write.format("noop").mode("overwrite").save()
        ts = []
        for _ in range(reps):
            # re-build the DataFrame each rep INSIDE the timer so eager pins
            # (localCheckpoint) are re-paid every rep — no cross-rep reuse
            t0 = time.perf_counter()
            df = REGISTRY[name].fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            ts.append(time.perf_counter() - t0)
        ts.sort()
        print(
            f"{name}: exchanges={n_ex} min={ts[0]:.3f}s "
            f"median={ts[len(ts) // 2]:.3f}s reps={reps}",
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
