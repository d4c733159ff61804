"""Python DataSource read-throughput A/B (r11): what the extract path costs.

Reads the same orders table (sf0.1 mirror) three ways and reports rows/s
for a full scan + count and for a pushed-predicate aggregate:
- direct parquet (the native columnar baseline),
- format("duckdb") — upstream emits Arrow record batches natively,
- format("sqlite") — stdlib upstream, per-task Python batch assembly.

Quantifies the documented guidance: the Python DataSource path is for
reaching non-JDBC upstreams, not for re-reading columnar data you already
own; and within it, a native-Arrow upstream (duckdb) vs Python-side batch
assembly (sqlite) shows the assembly tax.

Run ALONE: PYTHONPATH=/root/repo python scripts/pysource_throughput_ab.py
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from arthur_redshift_etl_spark.session import build_session  # noqa: E402
from arthur_redshift_etl_spark.workload import (  # noqa: E402
    _duckdb_mirror,
    _sqlite_mirror,
)


def _enlarged_mirrors(sf_dir: str, copies: int):
    """(duckdb_path, sqlite_path, parquet_path) with the orders table
    repeated ``copies`` times (orderkeys offset so the split column stays
    unique) — the per-row signal needs more rows than sf0.1 carries."""
    import sqlite3
    import tempfile

    import duckdb

    src = os.path.join(sf_dir, "orders.parquet")
    d = tempfile.mkdtemp(prefix="pysource_ab_")
    duck_path = os.path.join(d, "big.duckdb")
    con = duckdb.connect(duck_path)
    con.execute(
        "CREATE TABLE orders AS "
        + " UNION ALL ".join(
            f"SELECT * REPLACE (o_orderkey + {i} * 100000000 AS o_orderkey) "
            f"FROM read_parquet('{src}')"
            for i in range(copies)
        )
    )
    pq_path = os.path.join(d, "big.parquet")
    con.execute(f"COPY orders TO '{pq_path}' (FORMAT PARQUET)")
    # FULL column set in both engine mirrors — a narrower sqlite table
    # would unfairly flatter its scan numbers
    desc = con.execute("DESCRIBE orders").fetchall()
    cols = [r[0] for r in desc]
    decls = ", ".join(
        f"{r[0]} "
        + (
            "INTEGER"
            if "INT" in r[1].upper()
            else "REAL"
            if any(k in r[1].upper() for k in ("FLOA", "DOUB", "DECIMAL", "REAL"))
            else "TEXT"
        )
        for r in desc
    )
    rows = con.execute(f"SELECT {', '.join(cols)} FROM orders").fetchall()
    con.close()
    rows = [
        tuple(
            v if isinstance(v, (int, float)) or v is None else str(v)
            for v in rec
        )
        for rec in rows
    ]
    lite_path = os.path.join(d, "big.db")
    lcon = sqlite3.connect(lite_path)
    lcon.execute(f"CREATE TABLE orders ({decls})")
    lcon.executemany(
        f"INSERT INTO orders VALUES ({', '.join('?' for _ in cols)})", rows
    )
    lcon.commit()
    lcon.close()
    return duck_path, lite_path, pq_path


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    copies = int(os.environ.get("SPARK_GRAFT_PYSOURCE_COPIES", "1"))
    spark = build_session(
        "pysource-throughput-ab",
        extra_conf={"spark.ui.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    from arthur_redshift_etl_spark.sources.duckdb_source import (
        register_duckdb_source,
    )
    from arthur_redshift_etl_spark.sources.sqlite_source import (
        register_sqlite_source,
    )

    register_duckdb_source(spark)
    register_sqlite_source(spark)

    if copies > 1:
        duck_path, lite_path, pq_path = _enlarged_mirrors(sf_dir, copies)
    else:
        duck_path, lite_path = _duckdb_mirror(sf_dir), _sqlite_mirror(sf_dir)
        pq_path = os.path.join(sf_dir, "orders.parquet")

    def duck():
        return (
            spark.read.format("duckdb")
            .option("path", duck_path)
            .option("table", "orders")
            .option("partition_column", "o_orderkey")
            .option("num_partitions", "8")
            .load()
        )

    def lite():
        return (
            spark.read.format("sqlite")
            .option("path", lite_path)
            .option("table", "orders")
            .option("partition_column", "o_orderkey")
            .option("num_partitions", "8")
            .load()
        )

    def parq():
        return spark.read.parquet(pq_path)

    readers = {"parquet": parq, "duckdb": duck, "sqlite": lite}
    n_rows = parq().count()
    out = {"metric": "pysource_throughput_ab", "sf_dir": sf_dir, "n_rows": n_rows}
    for name, mk in readers.items():
        mk().count()  # warm (mirror build + codegen out of the timing)
        walls = []
        for _ in range(3):
            t0 = time.time()
            mk().count()
            walls.append(time.time() - t0)
        scan = min(walls)
        t0 = time.time()
        mk().filter(F.col("o_totalprice") > 1000).groupBy(
            "o_orderstatus"
        ).count().collect()
        agg = time.time() - t0
        out[f"{name}_scan_rows_per_s"] = int(n_rows / scan)
        out[f"{name}_scan_wall_s"] = round(scan, 3)
        out[f"{name}_pushed_agg_wall_s"] = round(agg, 3)

    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
