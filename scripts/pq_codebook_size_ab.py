"""Measured recall@10 of the codebook-size lever (VERDICT r10 #5): the
12-bit demo codebook (M=4 x K=8, sub=16) vs the 32-bit tier (M=8 x K=16,
sub=8), both init-only and 2-iteration-Lloyd-trained, same query panel,
exact micro-unit ground truth — the companion to pq_trained_recall_ab.py
that separates what TRAINING buys from what CODE BITS buy.

Run alone; prints one JSON line for SCALE.md.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.01),
SPARK_GRAFT_PQ_ITERS (default 2), SPARK_GRAFT_PQ_QUERIES (default 15).
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from arthur_redshift_etl_spark.operators import quantization as qz  # noqa: E402
from arthur_redshift_etl_spark.session import build_session  # noqa: E402
from arthur_redshift_etl_spark.workload import t  # noqa: E402
from arthur_redshift_etl_spark.workload.pq import (  # noqa: E402
    PQ_BIG_K,
    PQ_BIG_M,
    PQ_BIG_SUB,
    PQ_K,
    PQ_M,
    PQ_SUB,
)

CONFIGS = {
    "12bit": (PQ_M, PQ_SUB, PQ_K),  # 4 subspaces x 3 bits
    "32bit": (PQ_BIG_M, PQ_BIG_SUB, PQ_BIG_K),  # 8 subspaces x 4 bits
}


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    n_iters = int(os.environ.get("SPARK_GRAFT_PQ_ITERS", "2"))
    n_queries = int(os.environ.get("SPARK_GRAFT_PQ_QUERIES", "15"))
    spark = build_session("pq-codebook-size-ab")
    emb = t(spark, sf_dir, "embeddings").localCheckpoint(eager=True)
    n_vecs = emb.count()
    max_k = max(k for _, _, k in CONFIGS.values())
    stride = max(1, n_vecs // n_queries)
    query_ids = [
        max_k + i * stride for i in range(n_queries) if max_k + i * stride < n_vecs
    ]
    qvecs = {
        r["vec_id"]: qz.micro_list(r["embedding"])
        for r in emb.filter(F.col("vec_id").isin(query_ids)).collect()
    }

    out = {
        "metric": "pq_codebook_size_ab",
        "sf_dir": sf_dir,
        "n_vectors": n_vecs,
        "n_queries": len(qvecs),
        "n_iters": n_iters,
    }
    # exact ground truth per query (computed once, shared across configs)
    exact_sets = {}
    for qid, qm in sorted(qvecs.items()):
        qlits = F.array(*[F.lit(c).cast("long") for c in qm])
        exact_d = F.aggregate(
            F.zip_with(
                qz.micro_components(), qlits, lambda a, b: (a - b) * (a - b)
            ),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        exact_sets[qid] = {
            r["vec_id"]
            for r in emb.select("vec_id", exact_d.alias("d"))
            .orderBy("d", "vec_id")
            .limit(10)
            .collect()
        }

    for cfg, (m, sub, k) in CONFIGS.items():
        init = {
            r["vec_id"]: qz.micro_list(r["embedding"])
            for r in emb.filter(F.col("vec_id") < k).collect()
        }
        t0 = time.time()
        trained = qz.pq_train_iterations(emb, init, m, sub, n_iters)
        train_wall = time.time() - t0
        for label, cb in (("init", init), ("trained", trained)):
            coded = qz.pq_encode(emb, cb, m, sub).localCheckpoint(eager=True)
            recs = []
            for qid, qm in sorted(qvecs.items()):
                lut = qz.pq_adc_lut(qm, cb, m, sub)
                got = {
                    r["vec_id"]
                    for r in coded.select(
                        "vec_id", qz.pq_adc_score(lut, m).alias("d")
                    )
                    .orderBy("d", "vec_id")
                    .limit(10)
                    .collect()
                }
                recs.append(len(got & exact_sets[qid]) / 10.0)
            out[f"recall_at_10_{cfg}_{label}"] = round(sum(recs) / len(recs), 4)
        out[f"train_wall_sec_{cfg}"] = round(train_wall, 2)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
