#!/usr/bin/env python3
"""A/B: LSH band self-join key as concat_ws string vs struct of longs.

The band key is internal (only a join/grouping key — the oracle derives
candidates independently), so its representation is free as long as
candidate sets are identical.  A struct<long,long> key avoids per-row
string rendering + concat and shuffles 16 fixed bytes instead of ~20-char
strings (guide §2.3 narrower types / shuffle fewer bytes).

Verifies the candidate-pair sets are identical, then times the full
minhash_dedup_pairs pipeline shape with both key forms.

Cores: SPARK_GRAFT_CPUS, else the process's cores (session.default_cpus).
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from arthur_redshift_etl_spark import workload  # noqa: E402
from arthur_redshift_etl_spark.operators import dedup as dd  # noqa: E402
from arthur_redshift_etl_spark.session import build_session, default_cpus  # noqa: E402


def lsh_pairs_struct(signatures, id_col="doc_id", num_hashes=8, rows_per_band=2):
    bands = num_hashes // rows_per_band
    band_keys = F.array(
        *[
            F.struct(
                *[
                    F.col(f"mh{b * rows_per_band + r}").alias(f"k{r}")
                    for r in range(rows_per_band)
                ]
            )
            for b in range(bands)
        ]
    )
    band_rows = signatures.select(
        F.col(id_col), F.posexplode(band_keys).alias("band", "band_key")
    )
    left = band_rows.select(F.col(id_col).alias("id_a"), "band", "band_key")
    right = band_rows.select(F.col(id_col).alias("id_b"), "band", "band_key")
    return (
        left.join(right, ["band", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = default_cpus()
    spark = build_session(
        app_name="bandkey-ab", master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf={"spark.ui.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    docs = workload.t(spark, sf_dir, "documents")

    sh = dd.doc_shingle_hashes(docs, "doc_id", "text", 3).localCheckpoint()
    sigs = dd.minhash_signatures_from_hashes(sh, "doc_id", 8).persist()
    sigs.count()

    a = set(map(tuple, dd.lsh_candidate_pairs(sigs, "doc_id", 8, 2).collect()))
    b = set(map(tuple, lsh_pairs_struct(sigs, "doc_id", 8, 2).collect()))
    print("candidate parity:", "EXACT" if a == b else f"DIFFERS {len(a)} vs {len(b)}")
    if a != b:
        return

    for name, fn in (("concat_str", dd.lsh_candidate_pairs),
                     ("struct", lsh_pairs_struct)):
        df = fn(sigs, "doc_id", 8, 2)
        df.write.format("noop").mode("overwrite").save()
        times = []
        for _ in range(7):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t0)
        print(f"{name}: min {min(times):.3f}s median {sorted(times)[3]:.3f}s")
    spark.stop()


if __name__ == "__main__":
    main()
