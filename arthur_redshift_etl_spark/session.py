"""SparkSession factory tuned for the engine.

Scale posture: every default here is chosen for a large cluster (AQE on,
skew-join handling, partition coalescing, Arrow for the Pandas-UDF paths)
while remaining correct on ``local[*]`` test runs.  Shuffle partitions
default to :func:`default_cpus`, the local core count.
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import SparkSession

# Whole-stage codegen classes kept per JVM.  Spark's default (100) is below
# one star_sql pass's class set (215-225 classes at sf0.01, 4 cores), so a
# pass evicted every class before reusing it and the warm pass recompiled
# 179-201 of them (1.2-2.2 s).  At 1000 the traced warm pass compiles 0.
# Static conf: only the builder that starts the JVM's first session sets it.
CODEGEN_CACHE_ENTRIES = 1000


def default_cpus() -> int:
    """``SPARK_GRAFT_CPUS`` if set, else the cores this process may run on."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    return int(cpus) if cpus else len(os.sched_getaffinity(0))


def build_session(
    app_name: str = "arthur-redshift-etl-spark",
    master: Optional[str] = None,
    shuffle_partitions: Optional[int] = None,
    warehouse_dir: Optional[str] = None,
    extra_conf: Optional[dict] = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    if shuffle_partitions is None:
        shuffle_partitions = default_cpus()

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Adaptive execution: runtime re-planning, skew-join splitting, and
        # post-shuffle partition coalescing — essential at 100 TB where static
        # shuffle-partition counts are always wrong for some stage.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Coalesce small post-shuffle partitions to the advisory SIZE rather
        # than protecting the configured parallelism (guide §2.2 "fewer,
        # larger reduce partitions").  At cluster scale this is the
        # documented production posture (partitions sized by bytes, not by a
        # static count that is always wrong for some stage); on the bench it
        # removes the near-empty 32-partition stages that tiny post-shuffle
        # data otherwise pays for (r13 A/B, full 23-query bench: warm total
        # 23.95 -> 19.91 s, cold 29.94 -> 24.58 s, broad per-query wins —
        # OPTIMIZATION_r13.md "Config A/B").  Values are unaffected by
        # partition count: the workload's aggregates are order-free by the
        # float-parity conventions (tests/test_float_parity_lint.py).
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE coalesce shuffle partitions INSIDE cached plans too —
        # persisted intermediates (e.g. the dedup shingle set) otherwise pin
        # the full configured partition count on every downstream stage
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # Arrow transfer for pandas_udf/applyInPandas paths (dedup, similarity).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Reference timestamps are tz-naive UTC (SURVEY §1.3).
        .config("spark.sql.session.timeZone", "UTC")
        # ANSI off: Redshift-style permissive casts in user SQL.
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # runtime bloom-filter pushdown: selective join sides prune the
        # probe-side scan before the shuffle — large wins on star joins
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # cost-based optimization: consume the ANALYZE stats the loader
        # computes at publish (join reordering needs them; no-op without)
        .config("spark.sql.cbo.enabled", "true")
        .config("spark.sql.cbo.joinReorder.enabled", "true")
        # Python DataSource extracts (sources/duckdb_source.py) translate
        # simple predicates to upstream SQL; off by default in Spark 4
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # Independent relation builds may submit jobs from multiple threads.
        .config("spark.scheduler.mode", "FAIR")
    )
    if warehouse_dir:
        builder = builder.config("spark.sql.warehouse.dir", warehouse_dir)
    # Deployment-specific overrides without code changes (and the A/B hook
    # the optimization rounds use to measure config candidates through the
    # unmodified bench): "k=v;k2=v2".  Applied before extra_conf so explicit
    # caller settings still win.
    for pair in os.environ.get("SPARK_GRAFT_CONF", "").split(";"):
        if "=" in pair:
            k, v = pair.split("=", 1)
            builder = builder.config(k.strip(), v.strip())
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
