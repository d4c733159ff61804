#!/usr/bin/env python3
"""A/B: q21 window-based decorrelation vs single-exchange array-per-order form.

Current q21 shape under the broadcast-join regime: Exchange(l_orderkey,
l_suppkey) for the per-(order,supplier) aggregate, then a SECOND
Exchange(l_orderkey) + Sort for the three windows (guide §2.4: two operations
keyed the same way should share one exchange).  The rewrite aggregates ONCE
by l_orderkey into a bounded array of (supplier, shipdate, late) structs
(TPC-H orders have <=7 lineitems) and computes the per-supplier verdicts
row-locally with higher-order functions — one exchange, no window sorts; at
cluster scale a sort-merge join's hash(l_orderkey) output satisfies the
groupBy clustering so the aggregate adds NO exchange at all.

Verifies exact row parity against the current entry, then times both with
the noop sink.

Cores: SPARK_GRAFT_CPUS, else the process's cores (session.default_cpus).
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from arthur_redshift_etl_spark import workload  # noqa: E402
from arthur_redshift_etl_spark.session import build_session, default_cpus  # noqa: E402


def q21_arrays(spark, sf_dir):
    t = workload.t
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    orders = t(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    lo = li.join(orders, li.l_orderkey == orders.o_orderkey)
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAY")
    g = (
        lo.groupBy("l_orderkey")
        .agg(
            F.collect_list(
                F.struct(
                    F.col("l_suppkey").alias("s"),
                    F.col("l_shipdate").alias("d"),
                    late.alias("late"),
                )
            ).alias("ls")
        )
        .withColumn(
            "supps", F.array_distinct(F.transform("ls", lambda x: x["s"]))
        )
        .filter(F.size("supps") > 1)
    )
    per = g.select(F.explode("supps").alias("l_suppkey"), "ls")
    other_max = F.array_max(
        F.transform(
            F.filter("ls", lambda x: x["s"] != F.col("l_suppkey")),
            lambda x: x["d"],
        )
    )
    per = per.withColumn("other_max", other_max).withColumn(
        "numwait_part",
        F.size(
            F.filter(
                "ls",
                lambda x: (x["s"] == F.col("l_suppkey"))
                & x["late"]
                & (x["d"] >= F.col("other_max")),
            )
        ),
    ).filter(F.col("numwait_part") > 0)
    supp = t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        per.join(F.broadcast(supp), per.l_suppkey == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.sum("numwait_part").cast("long").alias("numwait"))
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = default_cpus()
    spark = build_session(
        app_name="q21-ab", master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf={"spark.ui.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    old = workload.REGISTRY["q21_waiting_suppliers"].fn(spark, sf_dir)
    new = q21_arrays(spark, sf_dir)
    a = sorted((r[0], r[1]) for r in old.collect())
    b = sorted((r[0], r[1]) for r in new.collect())
    print("parity:", "EXACT" if a == b else "DIFFERS", len(a), "rows")
    if a != b:
        onlya = set(a) - set(b)
        onlyb = set(b) - set(a)
        print("only old:", list(onlya)[:5])
        print("only new:", list(onlyb)[:5])
        return

    for name, df in (("window", old), ("arrays", new)):
        df.write.format("noop").mode("overwrite").save()
        times = []
        for _ in range(5):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t0)
        print(f"{name}: min {min(times):.3f}s median {sorted(times)[2]:.3f}s")
    import contextlib
    import io

    for name, df in (("window", old), ("arrays", new)):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        n_ex = sum(
            1 for ln in plan.splitlines()
            if ln.strip().startswith(("+- Exchange", ":- Exchange"))
            or "+- Exchange" in ln or ":- Exchange" in ln
        )
        print(f"{name}: {n_ex} Exchange nodes in tree")
    spark.stop()


if __name__ == "__main__":
    main()
