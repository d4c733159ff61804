"""Residual-PQ vs raw-PQ recall A/B (r11): what quantizing the coarse
residual x - c(x) buys over quantizing the raw vector, at IDENTICAL code
budget (same M/K/SUB), both init-only and 2-iteration-Lloyd-trained.

Fairness controls: both codebooks seed from the SAME source vectors
(vec_id in [K, 2K)) — the raw side uses their raw micro vectors, the
residual side their residual micro vectors; scoring covers the FULL corpus
(every bucket's residual LUT, selected row-locally) so the comparison
isolates quantization quality from the IVF prune; same 15-query panel,
exact micro-unit ground truth.

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
from arthur_redshift_etl_spark.operators import similarity as sim  # noqa: E402
from arthur_redshift_etl_spark.session import build_session  # noqa: E402
from arthur_redshift_etl_spark.workload import t  # noqa: E402
from arthur_redshift_etl_spark.workload.pq import PQ_K, PQ_M, PQ_SUB  # noqa: E402


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    n_iters = int(os.environ.get("SPARK_GRAFT_PQ_ITERS", "2"))
    n_queries = int(os.environ.get("SPARK_GRAFT_PQ_QUERIES", "15"))
    spark = build_session("residual-pq-recall-ab")
    emb = t(spark, sf_dir, "embeddings").localCheckpoint(eager=True)
    n_vecs = emb.count()
    stride = max(1, n_vecs // n_queries)
    query_ids = [
        2 * PQ_K + i * stride
        for i in range(n_queries)
        if 2 * PQ_K + i * stride < n_vecs
    ]
    qvecs = {
        r["vec_id"]: qz.micro_list(r["embedding"])
        for r in emb.filter(F.col("vec_id").isin(query_ids)).collect()
    }

    centroids = emb.filter(F.col("vec_id") < PQ_K).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    assign = sim.ivf_assign(emb, centroids)
    cent_micro = {
        r["vec_id"]: qz.micro_list(r["embedding"])
        for r in emb.filter(F.col("vec_id") < PQ_K).collect()
    }
    rmdf = qz.residual_micro(emb, assign, cent_micro).localCheckpoint(eager=True)

    seed_filter = (F.col("vec_id") >= PQ_K) & (F.col("vec_id") < 2 * PQ_K)
    raw_init = {
        r["vec_id"]: qz.micro_list(r["embedding"])
        for r in emb.filter(seed_filter).collect()
    }
    res_init = {
        r["vec_id"]: list(r["rm"]) for r in rmdf.filter(seed_filter).collect()
    }
    t0 = time.time()
    raw_trained = qz.pq_train_iterations(emb, raw_init, PQ_M, PQ_SUB, n_iters)
    raw_wall = time.time() - t0
    t0 = time.time()
    res_trained = qz.pq_train_iterations(
        rmdf, res_init, PQ_M, PQ_SUB, n_iters, micro_col="rm"
    )
    res_wall = time.time() - t0

    # exact ground truth per query
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

    # the diagnostic that predicts whether residual encoding can pay:
    # mean ||x - c(x)||^2 / mean ||x||^2 — residual PQ wins only when the
    # coarse quantizer actually shrinks what PQ must cover (ratio << 1)
    def _sq_norm(col):
        return F.aggregate(
            col, F.lit(0).cast("double"),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        )

    raw_ms = emb.select(
        F.avg(_sq_norm(qz.micro_components())).alias("ms")
    ).collect()[0]["ms"]
    res_ms = rmdf.select(F.avg(_sq_norm(F.col("rm"))).alias("ms")).collect()[
        0
    ]["ms"]

    out = {
        "metric": "residual_pq_recall_ab",
        "sf_dir": sf_dir,
        "n_vectors": n_vecs,
        "n_queries": len(qvecs),
        "n_iters": n_iters,
        "variance_ratio_residual_over_raw": round(res_ms / raw_ms, 4),
        "train_wall_sec_raw": round(raw_wall, 2),
        "train_wall_sec_residual": round(res_wall, 2),
    }

    for label, cb in (
        ("raw_init", raw_init),
        ("raw_trained", raw_trained),
    ):
        coded = qz.pq_encode(emb, cb, PQ_M, PQ_SUB).localCheckpoint(eager=True)
        recs = []
        for qid, qm in sorted(qvecs.items()):
            lut = qz.pq_adc_lut(qm, cb, PQ_M, PQ_SUB)
            got = {
                r["vec_id"]
                for r in coded.select(
                    "vec_id", qz.pq_adc_score(lut, PQ_M).alias("d")
                )
                .orderBy("d", "vec_id")
                .limit(10)
                .collect()
            }
            recs.append(len(got & exact_sets[qid]) / 10.0)
        out[f"recall_at_10_{label}"] = round(sum(recs) / len(recs), 4)

    def _residual_recall(label, rdf, cb, cmicro):
        coded = qz.pq_encode_micro(
            rdf, "rm", cb, PQ_M, PQ_SUB, extra_cols=("centroid_id",)
        ).localCheckpoint(eager=True)
        recs = []
        for qid, qm in sorted(qvecs.items()):
            luts = {
                b: qz.pq_adc_lut(
                    [q - c for q, c in zip(qm, cmicro[b])],
                    cb,
                    PQ_M,
                    PQ_SUB,
                )
                for b in cmicro
            }
            got = {
                r["vec_id"]
                for r in coded.select(
                    "vec_id", qz.residual_adc_score(luts, PQ_M).alias("d")
                )
                .orderBy("d", "vec_id")
                .limit(10)
                .collect()
            }
            recs.append(len(got & exact_sets[qid]) / 10.0)
        out[f"recall_at_10_{label}"] = round(sum(recs) / len(recs), 4)

    _residual_recall("residual_init", rmdf, res_init, cent_micro)
    _residual_recall("residual_trained", rmdf, res_trained, cent_micro)

    # --- the metric-matched, TRAINED coarse quantizer -----------------
    # An L2 coarse quantizer is exactly PQ with M=1, SUB=dims: assignment
    # is pq_code over the whole vector, training is pq_train_iterations
    # with one subspace.  This is what production residual IVF-PQ uses —
    # the cosine-init coarse above is the mismatch case.
    dims = len(next(iter(cent_micro.values())))
    t0 = time.time()
    l2_cents = qz.pq_train_iterations(emb, cent_micro, 1, dims, n_iters)
    l2_wall = time.time() - t0
    l2_assign = emb.select(
        "vec_id",
        qz.pq_code(qz.micro_components(), l2_cents, 0, dims).alias(
            "centroid_id"
        ),
    )
    rmdf_l2 = qz.residual_micro(emb, l2_assign, l2_cents).localCheckpoint(
        eager=True
    )
    res_l2_ms = rmdf_l2.select(
        F.avg(_sq_norm(F.col("rm"))).alias("ms")
    ).collect()[0]["ms"]
    out["variance_ratio_l2_trained_coarse"] = round(res_l2_ms / raw_ms, 4)
    out["train_wall_sec_l2_coarse"] = round(l2_wall, 2)
    res_l2_init = {
        r["vec_id"]: list(r["rm"])
        for r in rmdf_l2.filter(seed_filter).collect()
    }
    res_l2_trained = qz.pq_train_iterations(
        rmdf_l2, res_l2_init, PQ_M, PQ_SUB, n_iters, micro_col="rm"
    )
    _residual_recall(
        "residual_l2coarse_trained", rmdf_l2, res_l2_trained, l2_cents
    )

    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
