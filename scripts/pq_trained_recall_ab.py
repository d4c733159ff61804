"""Measured recall@10 delta of PQ/ADC search: init-only codebook (first K
vectors) vs the 2-iteration Lloyd-trained codebook (pq_train_iterations).

Closes the loop the workload entries deliberately split: pq_adc_topk holds
the codebook fixed so the ORACLE verifies operator mechanics; this script
measures what training buys — averaged over a fixed query panel, exact
micro-unit ground truth.  Run alone; prints one JSON line for SCALE.md.

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
from arthur_redshift_etl_spark.workload.pq import PQ_K, PQ_M, PQ_SUB  # noqa: E402


def adc_top10(coded, lut):
    return [
        r["vec_id"]
        for r in coded.select(
            "vec_id", qz.pq_adc_score(lut, PQ_M).alias("d")
        )
        .orderBy("d", "vec_id")
        .limit(10)
        .collect()
    ]


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    n_iters = int(os.environ.get("SPARK_GRAFT_PQ_ITERS", "2"))
    n_queries = int(os.environ.get("SPARK_GRAFT_PQ_QUERIES", "15"))
    spark = build_session("pq-trained-recall-ab")
    emb = t(spark, sf_dir, "embeddings").localCheckpoint(eager=True)
    n_vecs = emb.count()
    stride = max(1, n_vecs // n_queries)
    query_ids = [PQ_K + i * stride for i in range(n_queries) if PQ_K + i * stride < n_vecs]

    init = {
        r["vec_id"]: qz.micro_list(r["embedding"])
        for r in emb.filter(F.col("vec_id") < PQ_K).collect()
    }
    t0 = time.time()
    trained = qz.pq_train_iterations(emb, init, PQ_M, PQ_SUB, n_iters)
    train_wall = time.time() - t0

    coded_init = qz.pq_encode(emb, init, PQ_M, PQ_SUB).localCheckpoint(eager=True)
    coded_trained = qz.pq_encode(emb, trained, PQ_M, PQ_SUB).localCheckpoint(
        eager=True
    )

    qvecs = {
        r["vec_id"]: qz.micro_list(r["embedding"])
        for r in emb.filter(F.col("vec_id").isin(query_ids)).collect()
    }
    recalls = {"init": [], "trained": []}
    for qid in sorted(qvecs):
        qm = qvecs[qid]
        qlits = F.array(*[F.lit(c).cast("long") for c in qm])
        exact_d = F.aggregate(
            F.zip_with(
                qz.micro_components(), qlits, lambda a, b: (a - b) * (a - b)
            ),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        exact = {
            r["vec_id"]
            for r in emb.select("vec_id", exact_d.alias("d"))
            .orderBy("d", "vec_id")
            .limit(10)
            .collect()
        }
        for label, cb, coded in (
            ("init", init, coded_init),
            ("trained", trained, coded_trained),
        ):
            lut = qz.pq_adc_lut(qm, cb, PQ_M, PQ_SUB)
            got = set(adc_top10(coded, lut))
            recalls[label].append(len(got & exact) / 10.0)

    out = {
        "metric": "pq_trained_recall_ab",
        "sf_dir": sf_dir,
        "n_vectors": n_vecs,
        "n_queries": len(qvecs),
        "n_iters": n_iters,
        "train_wall_sec": round(train_wall, 2),
        "recall_at_10_init": round(
            sum(recalls["init"]) / len(recalls["init"]), 4
        ),
        "recall_at_10_trained": round(
            sum(recalls["trained"]) / len(recalls["trained"]), 4
        ),
    }
    out["delta"] = round(
        out["recall_at_10_trained"] - out["recall_at_10_init"], 4
    )
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
