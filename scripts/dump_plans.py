#!/usr/bin/env python3
"""Dump .explain("formatted") for bench/catalog queries to plans/<tag>/.

Usage:
  python scripts/dump_plans.py <tag> [suffix] [query ...]

Writes plans/<tag>/<query>_<suffix>.txt (suffix default "before").
With no query list, dumps the bench DEFAULT_QUERIES set.

Plan capture only (no execution timing): safe to run on a busy box.

Cores: SPARK_GRAFT_CPUS, else the process's cores (session.default_cpus).
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from arthur_redshift_etl_spark import workload  # noqa: E402
from arthur_redshift_etl_spark.session import build_session, default_cpus  # noqa: E402


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r13"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    names = sys.argv[3:]
    if not names:
        import bench

        names = bench.DEFAULT_QUERIES
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", tag
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = build_session(
        app_name=f"dump-plans-{tag}",
        master=f"local[{default_cpus()}]",
        extra_conf={"spark.ui.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        fn = workload.REGISTRY[name].fn
        df = fn(spark, sf_dir)
        import contextlib
        import io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        n_exchange = plan.count("Exchange")
        print(f"{name}: {n_exchange} Exchange nodes -> {path}")
    spark.stop()


if __name__ == "__main__":
    main()
