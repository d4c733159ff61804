"""Scaling tiers for catalog entries: wall at sf0.01 and at sf0.1.

    python scripts/entries_scaling.py NAME [NAME ...]

Runs each named entry at both tiers on a ``local[N]`` session, N the cores
this process may use (``session.default_cpus``), and prints the walls and
their ratio as one JSON line.  Each entry runs twice per tier and the second
run is timed: the first pays whole-stage codegen and JIT for the entry's
operators, which do not scale with data.  The facts grow 10x between the
tiers (documents and embeddings 4x).  A ratio near or below the input growth
says the plan is work-proportional; far below says fixed planning and
shuffle set-up dominate at these sizes.

Run it alone: other load on the host inflates every wall.
"""

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from arthur_redshift_etl_spark import workload  # noqa: E402
from arthur_redshift_etl_spark.session import build_session, default_cpus  # noqa: E402

# the generated tiers (TESTDATA.md) sit beside the checkout
TESTDATA = os.path.join(os.path.dirname(ROOT), "testdata")
TIERS = ("sf0.01", "sf0.1")


def main(names: list) -> None:
    unknown = [n for n in names if n not in workload.REGISTRY]
    if not names or unknown:
        sys.exit(f"usage: entries_scaling.py NAME...; unknown entries: {unknown}")
    cpus = default_cpus()
    spark = build_session(
        app_name="entries-scaling",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={"spark.ui.enabled": "false", "spark.driver.memory": "4g"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    out = {}
    for name in names:
        fn = workload.REGISTRY[name].fn
        walls = {}
        for tier in TIERS:
            sf = os.path.join(TESTDATA, tier)
            fn(spark, sf).count()
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            n = fn(spark, sf).count()
            walls[tier] = round(time.perf_counter() - t0, 3)
            spark.catalog.clearCache()
        lo, hi = walls[TIERS[0]], walls[TIERS[1]]
        ratio = round(hi / lo, 2) if lo else None
        out[name] = {**walls, "ratio": ratio, "rows": n, "cores": cpus}
        print(f"# {name}: {lo}s -> {hi}s  ratio {ratio} ({n} rows)", file=sys.stderr)
    print(json.dumps(out))


if __name__ == "__main__":
    main(sys.argv[1:])
