#!/usr/bin/env python3
"""Engine-generated sf0.3 bench tier: one more scaling row for SCALE.md.

The provided testdata stops at sf0.1; to catch superlinear surprises before
a real 100x ever happens, this script synthesizes a 3x-lineitem/orders tier
(union of 3 copies with order-key offsets — new distinct orders, foreign
keys into the UNCHANGED customer/supplier/part dims stay valid) and runs the
standard 23-query bench against it.

Only the relational core scales: events/documents/embeddings are copied
verbatim, so the text/dedup/knn rows measure fixed-size work and are
reported but excluded from the scaling-factor summary.  (Duplicating
documents verbatim would manufacture quadratic near-dup pairs — a different
experiment, covered by c02a7ef:scripts/dedup_stress.py.)

Run ALONE (32-core contention trap):  python scripts/bench_scale_tier.py
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# r6 adds the 10x tier (sf1.0-equivalent, ~6M-row lineitem): same
# generator, SPARK_GRAFT_SCALE_COPIES=10 — a third scaling point so a
# superlinear query shows a GROWING factor across 3x -> 10x, not a
# single ambiguous ratio.
COPIES = int(os.environ.get("SPARK_GRAFT_SCALE_COPIES", "3"))
DST = os.environ.get(
    "SPARK_GRAFT_SCALE_TIER_DIR", f"/tmp/spark_graft_sf{COPIES / 10:g}"
)
SCALED = ("orders", "lineitem")
TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()
# fixed-size inputs at this tier -> excluded from the scaling summary
# (bloom_filter_fpr_check reads customer — a dim this generator does not
# scale; pq_code_utilization reads embeddings, copied verbatim)
UNSCALED_QUERIES = {
    "hourly_event_rollup", "event_sessions", "text_token_stats",
    "text_quality", "dedup_exact_prefix", "dedup_minhash_lsh",
    "knn_bruteforce", "bloom_filter_fpr_check", "pq_code_utilization",
}


def generate() -> None:
    from pyspark.sql import functions as F

    from arthur_redshift_etl_spark import workload
    from arthur_redshift_etl_spark.session import build_session

    os.makedirs(DST, exist_ok=True)
    spark = build_session(
        app_name="gen-sf0.3",
        master="local[8]",
        shuffle_partitions=8,
        extra_conf={"spark.ui.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    off = (
        spark.read.parquet(f"{SRC}/orders.parquet")
        .agg(F.max("o_orderkey"))
        .collect()[0][0]
        + 1
    )
    for name in TABLES:
        out = f"{DST}/{name}.parquet"
        if os.path.exists(out):
            continue
        if name in SCALED:
            df = workload.t(spark, SRC, name)
            key = "o_orderkey" if name == "orders" else "l_orderkey"
            parts = [
                df.withColumn(key, F.col(key) + F.lit(i * off))
                for i in range(COPIES)
            ]
            union = parts[0]
            for p in parts[1:]:
                union = union.unionAll(p)
            union.write.mode("overwrite").parquet(out + ".dir")
            # bench's t() expects a single path; a directory works for
            # spark.read.parquet, so just rename the directory into place
            os.rename(out + ".dir", out)
        else:
            shutil.copyfile(f"{SRC}/{name}.parquet", out)
        print(f"# {name}: {f'x{COPIES} scaled' if name in SCALED else 'copied'}")
    spark.stop()


def _run_bench(sf_dir: str) -> dict:
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_SF_DIR=sf_dir,
        SPARK_GRAFT_BENCH_RECHECK="0",
        SPARK_GRAFT_BENCH_WARM="1",
    )
    bench = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "bench.py"
    )
    out = subprocess.run(
        [sys.executable, bench], env=env, capture_output=True, text=True
    )
    line = [ln for ln in out.stdout.splitlines() if ln.startswith("{")][-1]
    return json.loads(line)


def main() -> None:
    generate()
    # Denominator pinning (VERDICT r12 #6): the r6 (1.20x) vs r12 (1.72x)
    # spread for the SAME 10x experiment lived in the same-day solo sf0.1
    # baseline, not the scaled run.  Run the baseline TWICE, report the
    # factor against the per-query min-of-2, and print each run's spin
    # probe + steal so the denominator's own noise band rides the artifact.
    base_runs = [_run_bench(SRC), _run_bench(SRC)]
    for i, r in enumerate(base_runs):
        h = r.get("host", {})
        print(
            f"# baseline run {i + 1}: cold {r['value']:.2f}s  "
            f"spin_ms_post={h.get('spin_ms_post')} steal={h.get('steal_cores')}"
        )
    spread = abs(base_runs[0]["value"] - base_runs[1]["value"]) / min(
        r["value"] for r in base_runs
    )
    print(f"# baseline cold spread between the two runs: {spread:.1%}")
    base_q = {
        k: min(r["queries"][k] for r in base_runs)
        for k in base_runs[0]["queries"]
    }

    result = _run_bench(DST)
    print(json.dumps(result))
    scaled = {
        k: v for k, v in result["queries"].items() if k not in UNSCALED_QUERIES
    }
    base_core = sum(v for k, v in base_q.items() if k not in UNSCALED_QUERIES)
    print(
        f"# scaled-core cold total: {sum(scaled.values()):.2f}s over "
        f"{len(scaled)} queries; fixed-size rows excluded: "
        f"{sorted(UNSCALED_QUERIES)}"
    )
    print(
        f"# scaling factor (x{COPIES} facts): "
        f"{sum(scaled.values()) / base_core:.2f}x vs min-of-2 baseline "
        f"core {base_core:.2f}s (denominator spread {spread:.1%})"
    )
    worst = sorted(
        ((scaled[k] / base_q[k], k) for k in scaled if base_q.get(k)),
        reverse=True,
    )[:5]
    for f, k in worst:
        print(f"#   {k}: {f:.2f}x ({base_q[k]:.2f}s -> {scaled[k]:.2f}s)")


if __name__ == "__main__":
    main()
