#!/usr/bin/env python3
"""A/B: doc_shingle_hashes — interpreted HOF expressions vs mapInArrow.

The shingle-hash build is the dominant pass of the MinHash pipeline (the
zip_with/concat_ws lambdas evaluate interpreted per element, then md5+conv
per shingle row).  The candidate replaces the whole projection with one
Arrow-batched Python pass that produces BYTE-IDENTICAL (id, h) rows:

- tokens: Python ``text.split(" ")`` == Spark ``split(text, " ")`` (regex
  " " with limit -1 keeps trailing empties, same as Python).
- shingles: ``" ".join(toks[j:j+n])`` == the zip_with concat_ws chain.
- distinct-per-doc: first-seen set == array_distinct (order irrelevant
  post-explode).
- hash: ``int(md5(s.encode()).hexdigest()[:15], 16)`` ==
  ``conv(substring(md5(s), 1, 15), 16, 10)`` — Spark md5 hashes the UTF-8
  bytes and prints lowercase hex, exactly hashlib's hexdigest.
- null/short docs: dropped by explode == skipped in Python.

Parity is asserted as exact multiset equality before timing.

Cores: SPARK_GRAFT_CPUS, else the process's cores (session.default_cpus).
"""
from __future__ import annotations

import os
import sys
import time
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql.types import LongType, StructField, StructType  # noqa: E402

from arthur_redshift_etl_spark import workload  # noqa: E402
from arthur_redshift_etl_spark.operators import dedup as dd  # noqa: E402
from arthur_redshift_etl_spark.session import build_session, default_cpus  # noqa: E402


def arrow_shingle_hashes(df, id_col="doc_id", text_col="text", n=3):
    import pyarrow as pa

    out_schema = StructType(
        [StructField(id_col, LongType()), StructField("h", LongType())]
    )

    def gen(batches):
        from hashlib import md5

        for batch in batches:
            ids = batch.column(0).to_pylist()
            texts = batch.column(1).to_pylist()
            out_ids, out_hs = [], []
            for i, txt in zip(ids, texts):
                if txt is None:
                    continue
                toks = txt.split(" ")
                m = len(toks) - (n - 1)
                if m <= 0:
                    continue
                seen = set()
                for j in range(m):
                    s = " ".join(toks[j : j + n])
                    if s not in seen:
                        seen.add(s)
                        out_ids.append(i)
                        out_hs.append(
                            int(md5(s.encode("utf-8")).hexdigest()[:15], 16)
                        )
            yield pa.RecordBatch.from_arrays(
                [pa.array(out_ids, pa.int64()), pa.array(out_hs, pa.int64())],
                [id_col, "h"],
            )

    return df.select(id_col, text_col).mapInArrow(gen, out_schema)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = default_cpus()
    spark = build_session(
        app_name="shingle-arrow-ab", master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf={"spark.ui.enabled": "false", "spark.driver.memory": "8g"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    docs = workload.t(spark, sf_dir, "documents")
    docs.count()

    def expr_form():
        return dd.doc_shingle_hashes(docs)

    def arrow_form():
        return arrow_shingle_hashes(docs)

    ra = Counter(map(tuple, expr_form().collect()))
    rb = Counter(map(tuple, arrow_form().collect()))
    print("parity:", "EXACT" if ra == rb else f"DIFFERS {len(ra)} vs {len(rb)}")
    if ra != rb:
        only_a = list((ra - rb).items())[:5]
        only_b = list((rb - ra).items())[:5]
        print("only expr:", only_a)
        print("only arrow:", only_b)
        return
    for name, fn in (("expr_hof", expr_form), ("map_in_arrow", arrow_form)):
        df = fn()
        df.write.format("noop").mode("overwrite").save()
        ts = []
        for _ in range(7):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            ts.append(time.perf_counter() - t0)
        print(f"shingle[{name}]: min {min(ts):.3f}s median {sorted(ts)[3]:.3f}s")
    spark.stop()


if __name__ == "__main__":
    main()
