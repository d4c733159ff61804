"""Measured-default operating points, estimation-quality loops, and the
Bloom sketch."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ..operators import dedup as dd
from ..operators.sketch import BLOOM_BITS as _BLOOM_BITS
from ..operators.sketch import BLOOM_HASHES as _BLOOM_HASHES
from .core import query, t
from .pipeline import _INTER_CTE, _IVF_ASSIGN_CTE, _minhash_band_ctes, _SHINGLES_CTE
from .pq import (
    _EX_CTE,
    _EX_MICRO,
    _PQ_CODES_CTES,
    _PQ_DIST_CTES,
    PQ_K,
    PQ_M,
    PQ_SUB,
)


# ===========================================================================
# Round 12: measured-default operating points, estimation-quality loops,
# and the missing sketch (Bloom).
# ===========================================================================

_SIMHASH64_SH_CTE = """
    WITH toksm AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    hashed AS (
      SELECT doc_id, ('0x' || substr(md5(token), 1, 15))::BIGINT AS h
      FROM toksm
    ),
    bitsum AS (
      SELECT doc_id, b, SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
      FROM hashed, (SELECT unnest(range(60)) AS b) bits
      GROUP BY doc_id, b
    ),
    sh AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)
                  AS BIGINT) AS simhash
      FROM bitsum GROUP BY doc_id
    )
"""


@query(
    "dedup_simhash64_near_pairs",
    oracle=_SIMHASH64_SH_CTE
    + """
    SELECT id_a, id_b, hamming FROM (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    ) WHERE hamming <= 2
    """,
    description=(
        "the MEASURED SimHash production operating point end-to-end: "
        "64-bit signatures, pigeonhole 3-block candidate join, hamming "
        "<= 2 verify (precision 0.73 at sf0.1 where the 32-bit demo "
        "point pays 0.002 — SCALE.md r12 operating-point table).  The "
        "oracle computes the same signatures and filters ALL pairs by "
        "hamming: pigeonhole blocking is recall-complete for d <= "
        "max_hamming, so block-join + verify and all-pairs + verify "
        "are row-identical — the entry therefore also PROVES the "
        "blocking loses nothing.  Oracle hashes bits 0-59 only (the "
        "md5-prefix hash is 60-bit, so signature bits 60-63 are "
        "constant zero on both sides).  At 100 TB: candidates = "
        "3 block-equality buckets, never all-pairs; the all-pairs "
        "shape lives only in the small-tier oracle"
    ),
)
def dedup_simhash64_near_pairs(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    # materialize the signature table once: the 3 pigeonhole block
    # branches union the SAME sims — without the pin each branch re-plans
    # (and without runtime exchange reuse, re-executes) the whole
    # two-shuffle signature pipeline (the r8 PPJoin-pair lesson)
    sims = dd.simhash(docs, "doc_id", "text", bits=64).localCheckpoint(
        eager=True
    )
    return dd.simhash_near_pairs(sims, max_hamming=2, bits=64)


def _minhash_estimate_oracle(num_hashes: int = 8, rows_per_band: int = 2) -> str:
    agree = " + ".join(
        f"CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END"
        for i in range(num_hashes)
    )
    per_slot = 1_000_000 // num_hashes
    return f"""
    WITH {_minhash_band_ctes(num_hashes, rows_per_band)},
    est AS (
      SELECT c.id_a, c.id_b,
             CAST(({agree}) * {per_slot} AS BIGINT) AS est_micro
      FROM cand c
      JOIN sig sa ON sa.doc_id = c.id_a
      JOIN sig sb ON sb.doc_id = c.id_b
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM toks GROUP BY doc_id),
    {_INTER_CTE},
    err AS (
      SELECT est_micro,
             (COALESCE(i.inter_size, 0) * 1000000)
               // (COALESCE(sa.set_size, 0) + COALESCE(sb.set_size, 0)
                   - COALESCE(i.inter_size, 0)) AS jac_micro
      FROM est e
      LEFT JOIN inter i ON i.id_a = e.id_a AND i.id_b = e.id_b
      LEFT JOIN sizes sa ON sa.doc_id = e.id_a
      LEFT JOIN sizes sb ON sb.doc_id = e.id_b
      WHERE COALESCE(sa.set_size, 0) + COALESCE(sb.set_size, 0)
            - COALESCE(i.inter_size, 0) > 0
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(ABS(est_micro - jac_micro)) // COUNT(*) AS BIGINT)
             AS mean_abs_err_micro,
           CAST(MAX(ABS(est_micro - jac_micro)) AS BIGINT) AS max_abs_err_micro,
           CAST(SUM(CASE WHEN est_micro > jac_micro THEN 1 ELSE 0 END)
                AS BIGINT) AS n_overestimate,
           CAST(SUM(CASE WHEN est_micro < jac_micro THEN 1 ELSE 0 END)
                AS BIGINT) AS n_underestimate
    FROM err
    """


@query(
    "minhash_jaccard_estimate_error",
    oracle=_minhash_estimate_oracle(),
    description=(
        "MinHash as an ESTIMATOR, priced: over the shipped 8x2 banding's "
        "candidate pairs, the signature-agreement Jaccard estimate "
        "(agreeing slots / 8, in exact micro-units) vs EXACT shingle "
        "Jaccard ((inter*1e6) div union) — n_pairs, mean/max absolute "
        "error, over/under split.  Closes the estimation loop the "
        "retrieval evals don't: minhash_lsh_recall_eval prices WHICH "
        "pairs banding surfaces, this prices how well the signature "
        "VALUE substitutes for the exact verify — the knob behind "
        "verify-free pipelines that threshold the estimate directly "
        "(8 slots quantize J to 1/8 steps, so mean error ~6 figures "
        "micro is expected; more hashes shrink it as 1/sqrt(k)).  "
        "Exact division everywhere (div / //), so the summary is "
        "hash-oracle-able.  At 100 TB: pairs come from banding (never "
        "all-pairs), the exact side is one shingle-keyed join over "
        "candidates only"
    ),
)
def minhash_jaccard_estimate_error(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    n_hashes = 8
    # signature and shingle tables are each consumed by 2-3 downstream
    # branches — pin both once (r8 PPJoin-pair lesson: unpinned lineage
    # re-plans the whole upstream per consumer)
    sigs = dd.minhash_signatures(
        docs, "doc_id", "text", num_hashes=n_hashes
    ).localCheckpoint(eager=True)
    cand = dd.lsh_candidate_pairs(
        sigs, "doc_id", num_hashes=n_hashes, rows_per_band=2
    )
    sa = sigs.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(f"mh{i}").alias(f"a{i}") for i in range(n_hashes)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(f"mh{i}").alias(f"b{i}") for i in range(n_hashes)],
    )
    agree = None
    for i in range(n_hashes):
        term = F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        agree = term if agree is None else agree + term
    est = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (agree * F.lit(1_000_000 // n_hashes)).cast("long").alias("est_micro"),
        )
    )
    sh = (
        docs.select(
            "doc_id", F.explode(dd.shingles_col("text")).alias("shingle")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("set_size"))
    inter = (
        cand.join(sh.select(F.col("doc_id").alias("id_a"), "shingle"), "id_a")
        .join(
            sh.select(F.col("doc_id").alias("id_b"), "shingle"),
            ["id_b", "shingle"],
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter_size"))
    )
    scored = (
        est.join(inter, ["id_a", "id_b"], "left")
        .join(
            sizes.select(F.col("doc_id").alias("id_a"), F.col("set_size").alias("sz_a")),
            "id_a",
            "left",
        )
        .join(
            sizes.select(F.col("doc_id").alias("id_b"), F.col("set_size").alias("sz_b")),
            "id_b",
            "left",
        )
        .select(
            "est_micro",
            (
                F.coalesce(F.col("sz_a"), F.lit(0))
                + F.coalesce(F.col("sz_b"), F.lit(0))
                - F.coalesce(F.col("inter_size"), F.lit(0))
            ).alias("un"),
            F.coalesce(F.col("inter_size"), F.lit(0)).alias("ins"),
        )
        .filter(F.col("un") > 0)
        .select(
            "est_micro",
            F.expr("(ins * 1000000) div un").alias("jac_micro"),
        )
    )
    return scored.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.expr("sum(abs(est_micro - jac_micro)) div count(1)")
        .cast("long")
        .alias("mean_abs_err_micro"),
        F.max(F.abs(F.col("est_micro") - F.col("jac_micro")))
        .cast("long")
        .alias("max_abs_err_micro"),
        F.sum(F.when(F.col("est_micro") > F.col("jac_micro"), 1).otherwise(0))
        .cast("long")
        .alias("n_overestimate"),
        F.sum(F.when(F.col("est_micro") < F.col("jac_micro"), 1).otherwise(0))
        .cast("long")
        .alias("n_underestimate"),
    )


@query(
    "pq_reconstruction_error",
    oracle=f"""
    WITH {_EX_CTE},
    {_PQ_DIST_CTES},
    recon AS (SELECT vec_id, m, MIN(d) AS err FROM dist GROUP BY vec_id, m)
    SELECT CAST(m AS BIGINT) AS m,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(SUM(err) AS BIGINT) AS total_sq_err,
           CAST(SUM(err) // COUNT(*) AS BIGINT) AS mean_sq_err
    FROM recon GROUP BY m
    """,
    description=(
        "per-subspace PQ reconstruction error (exact int64 micro-units): "
        "for every vector and subspace, the squared distance to its "
        "NEAREST codeword — which is by definition the quantization "
        "error ADC scoring inherits, and exactly the objective each "
        "Lloyd training step minimizes.  The codebook-quality primitive "
        "underneath the measured recall curves: a subspace whose "
        "mean_sq_err dwarfs the others is where the code budget is "
        "misallocated (more codewords there, or residual PQ — the "
        "variance-ratio diagnostic's actionable twin).  Pure map over "
        "the corpus (codebooks are baked literals, the argmin is an "
        "array_min over K struct literals) + one M-row partial agg — "
        "the same corpus-independent-output shape as pq_train's update "
        "step, so the diagnostic costs one scan at any corpus size"
    ),
)
def pq_reconstruction_error(spark, sf_dir):
    from ..operators import quantization as qz

    emb = t(spark, sf_dir, "embeddings")
    codebooks = {
        r["vec_id"]: qz.micro_list(r["embedding"])
        for r in emb.filter(F.col("vec_id") < PQ_K).collect()
    }
    xm = emb.select(qz.micro_components(F.col("embedding")).alias("xm"))
    # ALL M subspace argmins in ONE projection (array of errs) + posexplode,
    # instead of one frame per m unionAll'd: 1 parquet scan instead of PQ_M,
    # micro_components evaluated once per row instead of PQ_M times.  Per
    # (row, m) the err expression tree is unchanged and posexplode's pos
    # enumerates 0..M-1 exactly as the lit(m) labels did, so the grouped
    # sums are bit-identical (r13 A/B: scripts/pq_recon_ab.py, parity EXACT,
    # noop median 0.455 -> 0.239 s at sf0.1).
    errs = F.array(
        *[
            F.array_min(
                F.array(
                    *[
                        qz.pq_subspace_distance(
                            F.col("xm"), codebooks[cid], m, PQ_SUB
                        )
                        for cid in sorted(codebooks)
                    ]
                )
            )
            for m in range(PQ_M)
        ]
    )
    ex = xm.select(F.posexplode(errs).alias("m", "err")).select(
        F.col("m").cast("long").alias("m"), "err"
    )
    return ex.groupBy("m").agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.sum("err").cast("long").alias("total_sq_err"),
        F.expr("sum(err) div count(1)").cast("long").alias("mean_sq_err"),
    )


@query(
    "token_pmi_collocations",
    oracle="""
    WITH tok AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
      FROM documents
    ),
    dfreq AS (SELECT token, COUNT(*) AS n FROM tok GROUP BY token),
    top AS (SELECT token, n FROM dfreq ORDER BY n DESC, token LIMIT 40),
    tt AS (SELECT t.doc_id, t.token FROM tok t JOIN top USING (token)),
    pairs AS (
      SELECT a.token AS token_a, b.token AS token_b, COUNT(*) AS n_ab
      FROM tt a JOIN tt b ON a.doc_id = b.doc_id AND a.token < b.token
      GROUP BY a.token, b.token
    ),
    tot AS (SELECT COUNT(*) AS nd FROM documents)
    SELECT token_a, token_b, CAST(n_ab AS BIGINT) AS n_ab,
           CAST((CAST(n_ab AS HUGEINT) * nd * 1000000)
                // (CAST(pa.n AS HUGEINT) * pb.n) AS BIGINT)
             AS lift_micro
    FROM pairs
    JOIN top pa ON pa.token = token_a
    JOIN top pb ON pb.token = token_b
    CROSS JOIN tot
    WHERE n_ab >= 5
    ORDER BY lift_micro DESC, token_a, token_b
    LIMIT 20
    """,
    description=(
        "collocation mining over a BOUNDED vocabulary: document-level "
        "co-occurrence lift (the PMI ratio in exact integer micro-units: "
        "n_ab*N*1e6 div (n_a*n_b), monotone in PMI so the ranking is "
        "identical without a libm log) for pairs of the top-40 "
        "document-frequency tokens, min support 5, top-20 by lift.  The "
        "vocabulary cut is the scale design: pair candidates are "
        "top_k^2 per doc worst-case, never |vocab|^2 — the top set is a "
        "broadcast, the only corpus-scaled shuffle is the (token_a, "
        "token_b) count agg whose output is bounded by the cut.  "
        "Total-order tiebreaks (lift desc, token_a, token_b) keep the "
        "LIMIT engine-portable"
    ),
)
def token_pmi_collocations(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    # tok feeds dfreq AND both sides of the pair self-join; top feeds the
    # filter and two ratio joins — pin each once (r8 PPJoin-pair lesson)
    tok = (
        docs.select("doc_id", F.explode(dd.tokens_col("text")).alias("token"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    dfreq = tok.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    top = (
        dfreq.orderBy(F.col("n").desc(), "token")
        .limit(40)
        .localCheckpoint(eager=True)
    )
    tt = tok.join(F.broadcast(top.select("token")), "token").select(
        "doc_id", "token"
    )
    pairs = (
        tt.alias("a")
        .join(
            tt.alias("b"),
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.token") < F.col("b.token")),
        )
        .groupBy(
            F.col("a.token").alias("token_a"), F.col("b.token").alias("token_b")
        )
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= 5)
    )
    tot = docs.agg(F.count(F.lit(1)).alias("nd"))
    return (
        pairs.join(
            F.broadcast(top.select(F.col("token").alias("token_a"), F.col("n").alias("na"))),
            "token_a",
        )
        .join(
            F.broadcast(top.select(F.col("token").alias("token_b"), F.col("n").alias("nb"))),
            "token_b",
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "token_a",
            "token_b",
            F.col("n_ab").cast("long").alias("n_ab"),
            # widen the products to decimal(38,0) (HUGEINT on the oracle
            # side): n_ab*nd*1e6 overflows int64 once n_ab*nd exceeds
            # ~9.2e12 (ADVICE r12 — ~10M docs with a 1M-support pair),
            # and na*nb has the same bound.  Floor-div on positive wide
            # ints is engine-exact, so values are unchanged where the
            # old int64 form was in range.
            F.expr(
                "(CAST(n_ab AS DECIMAL(38,0)) * nd * 1000000)"
                " div (CAST(na AS DECIMAL(38,0)) * nb)"
            )
            .cast("long")
            .alias("lift_micro"),
        )
        .orderBy(F.col("lift_micro").desc(), "token_a", "token_b")
        .limit(20)
    )


@query(
    "quantile_normalize_embedding_dims",
    oracle="""
    WITH ex AS (
      SELECT vec_id, t.i - 1 AS dim0, CAST(embedding[t.i] AS DOUBLE) AS x
      FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)
      WHERE t.i <= 4
    ),
    n AS (SELECT COUNT(*) AS nv FROM embeddings),
    rk AS (
      SELECT vec_id, dim0,
             ROW_NUMBER() OVER (PARTITION BY dim0 ORDER BY x, vec_id) AS r
      FROM ex
    )
    SELECT vec_id,
           CAST(MAX(CASE WHEN dim0 = 0 THEN ((r - 1) * 1000000) // (nv - 1) END)
                AS BIGINT) AS q0,
           CAST(MAX(CASE WHEN dim0 = 1 THEN ((r - 1) * 1000000) // (nv - 1) END)
                AS BIGINT) AS q1,
           CAST(MAX(CASE WHEN dim0 = 2 THEN ((r - 1) * 1000000) // (nv - 1) END)
                AS BIGINT) AS q2,
           CAST(MAX(CASE WHEN dim0 = 3 THEN ((r - 1) * 1000000) // (nv - 1) END)
                AS BIGINT) AS q3
    FROM rk CROSS JOIN n
    GROUP BY vec_id
    """,
    description=(
        "rank-based quantile normalization of embedding dims 0-3: each "
        "value maps to its empirical quantile ((rank-1)*1e6 div (n-1), "
        "exact integer micro-units; ranks tie-broken by vec_id) — the "
        "distribution-free feature-scaling step (z-scores assume "
        "moments; quantile mapping survives heavy tails), complementing "
        "embedding_standardize_dims.  The per-dim rank is data-scaled, "
        "so it does NOT use a per-dim window (a 4-partition window is a "
        "full sort per dim in one task): one two-phase global_row_number "
        "over the composite (dim, value, id) order ranks ALL dims in a "
        "single range-partitioned pass, and the per-dim rank falls out "
        "as grn - dim*n because every dim holds exactly n rows.  The "
        "oracle states the same ranks as the obvious per-dim window"
    ),
)
def quantile_normalize_embedding_dims(spark, sf_dir):
    from ..operators.identity import global_row_number

    emb = t(spark, sf_dir, "embeddings")
    ex = emb.select(
        "vec_id",
        F.posexplode(F.slice(F.col("embedding"), 1, 4)).alias("dim0", "xf"),
    ).select("vec_id", "dim0", F.col("xf").cast("double").alias("x"))
    ranked, total = global_row_number(ex, ["dim0", "x", "vec_id"], "grn")
    nv = total // 4
    q = ranked.select(
        "vec_id",
        "dim0",
        F.expr(f"((grn - dim0 * {nv} - 1) * 1000000) div ({nv} - 1)").alias(
            "qm"
        ),
    )
    return q.groupBy("vec_id").agg(
        *[
            F.max(F.when(F.col("dim0") == i, F.col("qm")))
            .cast("long")
            .alias(f"q{i}")
            for i in range(4)
        ]
    )


@query(
    "temporal_split_events",
    oracle="""
    WITH rk AS (
      SELECT event_id, user_id,
             ROW_NUMBER() OVER (ORDER BY ts, event_id) AS r,
             COUNT(*) OVER () AS n
      FROM events
    ),
    sp AS (
      SELECT user_id,
             CASE WHEN r * 10 <= n * 8 THEN 'train' ELSE 'eval' END AS split
      FROM rk
    ),
    ov AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_overlap_users FROM (
        SELECT user_id FROM sp GROUP BY user_id
        HAVING COUNT(DISTINCT split) = 2
      )
    )
    SELECT split, CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           n_overlap_users
    FROM sp CROSS JOIN ov
    GROUP BY split, n_overlap_users
    """,
    description=(
        "temporal train/eval split at the exact 80% event-time rank "
        "(ties broken by event_id): train is strictly earlier than eval "
        "— the decontamination boundary for anything time-ordered, "
        "where a random split would leak the future into training.  "
        "Reports per-split event/user counts plus the user overlap "
        "across the cutoff — the quantity an entity-grouped split "
        "(grouped_split_leakage_safe) drives to zero, surfaced here so "
        "the trade (temporal correctness vs entity leakage) is a "
        "number, not a guess.  The 80% rank is exact via the two-phase "
        "distributed row number (no partition-less window, which would "
        "single-task-sort the corpus); integer cutoff arithmetic "
        "(r*10 <= n*8) keeps the boundary engine-portable"
    ),
)
def temporal_split_events(spark, sf_dir):
    from ..operators.identity import global_row_number

    ev = t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    ranked, n = global_row_number(ev, ["ts", "event_id"], "r")
    sp = ranked.select(
        "user_id",
        F.when(F.col("r") * 10 <= F.lit(n) * 8, F.lit("train"))
        .otherwise(F.lit("eval"))
        .alias("split"),
    )
    ov = (
        sp.groupBy("user_id")
        .agg(F.countDistinct("split").alias("ns"))
        .filter(F.col("ns") == 2)
        .agg(F.count(F.lit(1)).cast("long").alias("n_overlap_users"))
    )
    return (
        sp.groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
        .crossJoin(F.broadcast(ov))
    )


# The Bloom sizing constants come from operators.sketch for the entry body,
# its Spark expression and the DuckDB oracle alike: a hardcoded 4096 in the
# latter two would silently break parity if sketch.BLOOM_BITS ever changed.
# (bits_set/m)^k in integer micro-units, expressed for k=4 as two squared
# halves — keep the exponent literal in sync with _BLOOM_HASHES
assert _BLOOM_HASHES == 4, "expected_fpr expression is written for k=4"


@query(
    "bloom_filter_fpr_check",
    oracle=f"""
    WITH members AS (SELECT DISTINCT c_custkey AS k FROM customer),
    bits AS (
      SELECT DISTINCT
             ('0x' || substr(md5(CAST(i AS VARCHAR) || ':'
                                 || CAST(k AS VARCHAR)), 1, 15))::BIGINT
               % {_BLOOM_BITS} AS pos
      FROM members, (SELECT unnest(range({_BLOOM_HASHES})) AS i)
    ),
    probes AS (SELECT k + 10000000 AS pk FROM members),
    ppos AS (
      SELECT DISTINCT pk,
             ('0x' || substr(md5(CAST(i AS VARCHAR) || ':'
                                 || CAST(pk AS VARCHAR)), 1, 15))::BIGINT
               % {_BLOOM_BITS} AS pos
      FROM probes, (SELECT unnest(range({_BLOOM_HASHES})) AS i)
    ),
    miss AS (
      SELECT DISTINCT pk FROM ppos LEFT JOIN bits USING (pos)
      WHERE bits.pos IS NULL
    ),
    agg AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM members) AS n_members,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM bits) AS n_bits_set,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM probes) AS n_probes,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM miss) AS n_miss
    )
    SELECT n_members, n_bits_set, n_probes,
           CAST(n_probes - n_miss AS BIGINT) AS n_false_positives,
           CAST(((n_probes - n_miss) * 1000000) // n_probes AS BIGINT)
             AS fpr_micro,
           CAST((((n_bits_set * 1000000 // {_BLOOM_BITS})
                  * (n_bits_set * 1000000 // {_BLOOM_BITS}) // 1000000)
                 * ((n_bits_set * 1000000 // {_BLOOM_BITS})
                    * (n_bits_set * 1000000 // {_BLOOM_BITS}) // 1000000))
                // 1000000 AS BIGINT) AS expected_fpr_micro
    FROM agg
    """,
    description=(
        "Bloom filter with a measured false-positive check — the "
        "membership sketch the family was missing (HLL counts distinct, "
        "CMS counts frequency, KLL ranks): 4096-bit / 4-hash filter "
        "built over distinct customer keys (engine-portable md5 "
        "positions), probed with known NON-members (key + 1e7), "
        "reporting measured FPR vs the fill-ratio expectation "
        "(bits_set/m)^k in exact integer micro-units.  Zero false "
        "negatives by construction (the unit tests pin it).  Scale "
        "shape: the filter is a partial-combined distinct bounded at "
        "4096 rows regardless of corpus, merges across batches by "
        "union+distinct, and the membership probe is a broadcast "
        "anti-join per position — this is the build-side primitive "
        "behind runtime_bloom_prefilter_join, now with its own "
        "quality loop"
    ),
)
def bloom_filter_fpr_check(spark, sf_dir):
    from ..operators import sketch as sk

    cust = t(spark, sf_dir, "customer")
    # members feeds the filter build, the probe set, and its own count;
    # bits feeds the probe anti-join and its count — pin both once
    members = (
        cust.select(F.col("c_custkey").alias("k"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    bits = sk.bloom_bits(members, "k").localCheckpoint(eager=True)
    probes = members.select((F.col("k") + 10000000).alias("pk"))
    miss = sk.bloom_not_member(probes, bits, "pk")
    nm = members.agg(F.count(F.lit(1)).cast("long").alias("n_members"))
    nb = bits.agg(F.count(F.lit(1)).cast("long").alias("n_bits_set"))
    np_ = probes.agg(F.count(F.lit(1)).cast("long").alias("n_probes"))
    nmiss = miss.agg(F.count(F.lit(1)).cast("long").alias("n_miss"))
    return (
        nm.crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(np_))
        .crossJoin(F.broadcast(nmiss))
        .select(
            "n_members",
            "n_bits_set",
            "n_probes",
            (F.col("n_probes") - F.col("n_miss"))
            .cast("long")
            .alias("n_false_positives"),
            F.expr("((n_probes - n_miss) * 1000000) div n_probes")
            .cast("long")
            .alias("fpr_micro"),
            F.expr(
                f"(((n_bits_set * 1000000 div {_BLOOM_BITS})"
                f" * (n_bits_set * 1000000 div {_BLOOM_BITS}) div 1000000)"
                f" * ((n_bits_set * 1000000 div {_BLOOM_BITS})"
                f"    * (n_bits_set * 1000000 div {_BLOOM_BITS}) div 1000000))"
                " div 1000000"
            )
            .cast("long")
            .alias("expected_fpr_micro"),
        )
    )


@query(
    "dedup_containment_pairs",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM toks GROUP BY doc_id),
    inter AS (
      SELECT ta.doc_id AS id_a, tb.doc_id AS id_b, COUNT(*) AS inter_size
      FROM toks ta JOIN toks tb
        ON ta.shingle = tb.shingle AND ta.doc_id <> tb.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a AS contained_id, id_b AS container_id,
           CAST(inter_size AS BIGINT) AS inter_size,
           CAST(sa.set_size AS BIGINT) AS contained_size,
           CAST((inter_size * 1000000) // sa.set_size AS BIGINT)
             AS containment_micro
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    WHERE (inter_size * 1000000) // sa.set_size >= 800000
      AND sa.set_size >= 5
    """,
    description=(
        "directional CONTAINMENT dedup: pairs where >=80% of doc A's "
        "trigram shingles appear in doc B (A at least 5 shingles) — the "
        "superset case symmetric Jaccard structurally misses (a short "
        "doc quoted inside a long one has tiny Jaccard but containment "
        "~1; classic boilerplate/quotation leak into training data).  "
        "Denominator is the CONTAINED side only, so the pair is "
        "directional: (contained, container).  Shipped operator is the "
        "ASYMMETRIC prefix filter (dd.containment_join): only the "
        "contained side is prefix-reduced, candidates are prefix(A) x "
        "full(B) — measured verify-bill cut 23k->61 pairs at sf0.01, "
        "2.26M->206k at sf0.1 vs the naive shared-shingle join the "
        "oracle runs (SCALE.md r12); exact-equal rows, unit-tested on "
        "planted supersets.  Integer micro containment keeps it "
        "hash-oracle-able"
    ),
)
def dedup_containment_pairs(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    # prefix-filtered containment join (asymmetric AllPairs): the shipped
    # operator prunes candidates to prefix(contained) x full(container) —
    # identical rows to the oracle's naive shared-shingle join, which is
    # exactly what the hash compare proves.
    return dd.containment_join(
        docs, "doc_id", "text", threshold=0.8, min_size=5
    )


@query(
    "pq_code_utilization",
    oracle=f"""
    WITH {_EX_CTE},
    {_PQ_CODES_CTES},
    used AS (
      SELECT m, code, CAST(COUNT(*) AS BIGINT) AS n_vectors
      FROM codes GROUP BY m, code
    ),
    grid AS (
      SELECT mm.m, cc.code
      FROM (SELECT unnest(range({PQ_M})) AS m) mm,
           (SELECT unnest(range({PQ_K})) AS code) cc
    )
    SELECT CAST(g.m AS BIGINT) AS m, CAST(g.code AS BIGINT) AS code,
           CAST(COALESCE(u.n_vectors, 0) AS BIGINT) AS n_vectors
    FROM grid g LEFT JOIN used u ON u.m = g.m AND u.code = g.code
    """,
    description=(
        "PQ code utilization histogram: vectors per (subspace, codeword) "
        "over the FULL M x K grid, zero-usage codewords included — the "
        "dead-codeword diagnostic that complements reconstruction error "
        "(a dead code is a wasted bit combination: K=8 codewords are 3 "
        "bits of address space, and every unused one shrinks the "
        "effective codebook Lloyd training should have spread).  The "
        "encode is the usual pure literal-codebook map; the histogram "
        "is one partial-combined agg with M*K-bounded output, and the "
        "grid completion is a 32-row literal join — corpus-independent "
        "cost past the single scan"
    ),
)
def pq_code_utilization(spark, sf_dir):
    from ..operators import quantization as qz

    emb = t(spark, sf_dir, "embeddings")
    codebooks = {
        r["vec_id"]: qz.micro_list(r["embedding"])
        for r in emb.filter(F.col("vec_id") < PQ_K).collect()
    }
    coded = qz.pq_encode(emb, codebooks, PQ_M, PQ_SUB)
    pairs = coded.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).cast("long").alias("m"),
                        F.col(f"code{m}").cast("long").alias("code"),
                    )
                    for m in range(PQ_M)
                ]
            )
        ).alias("p")
    ).select("p.m", "p.code")
    used = pairs.groupBy("m", "code").agg(
        F.count(F.lit(1)).cast("long").alias("nv")
    )
    grid = spark.createDataFrame(
        [(m, c) for m in range(PQ_M) for c in range(PQ_K)], ["m", "code"]
    ).select(F.col("m").cast("long"), F.col("code").cast("long"))
    return (
        grid.join(used, ["m", "code"], "left")
        .select(
            "m",
            "code",
            F.coalesce(F.col("nv"), F.lit(0)).cast("long").alias("n_vectors"),
        )
    )


@query(
    "embedding_norm_outliers",
    oracle="""
    WITH ex AS (
      SELECT vec_id, CAST(FLOOR(CAST(e.x AS DOUBLE) * 1000000) AS BIGINT) AS xm
      FROM embeddings, UNNEST(embedding) AS e(x)
    ),
    n2 AS (
      SELECT vec_id, SUM(xm * xm) // 100000000 AS n2m FROM ex GROUP BY vec_id
    ),
    st AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(n2m) // COUNT(*) AS BIGINT) AS mean_n2m,
             CAST(SUM(n2m * n2m) // COUNT(*)
                  - (SUM(n2m) // COUNT(*)) * (SUM(n2m) // COUNT(*))
                  AS BIGINT) AS var_n2m
      FROM n2
    )
    SELECT st.n AS n_vectors, st.mean_n2m, st.var_n2m,
           CAST(SUM(CASE WHEN (n2.n2m - st.mean_n2m) * (n2.n2m - st.mean_n2m)
                              > 9 * st.var_n2m THEN 1 ELSE 0 END) AS BIGINT)
             AS n_outliers_3sigma,
           CAST(MIN(n2.n2m) AS BIGINT) AS min_n2m,
           CAST(MAX(n2.n2m) AS BIGINT) AS max_n2m
    FROM n2 CROSS JOIN st
    GROUP BY st.n, st.mean_n2m, st.var_n2m
    """,
    description=(
        "embedding hygiene audit: squared-norm distribution with a "
        "3-sigma outlier count — degenerate vectors (zeroed, clipped, "
        "double-scaled) are the classic silent corpus poison for "
        "cosine/IP retrieval, and the norm is the cheapest detector.  "
        "All integer: norms in micro^2/1e8 units, variance via "
        "E[x^2]-E[x]^2 with truncating division (engine-exact), the "
        "sigma test as (x-mean)^2 > 9*var so no sqrt enters the hash.  "
        "One scan -> per-vector agg -> 1-row moments broadcast back "
        "over the norm table; at 100 TB the unit scaling (div 1e8) is "
        "what keeps SUM(n2m^2) inside int64 up to ~1e6-vector "
        "partitions, stated here because overflow would be silent in "
        "Spark and loud in DuckDB"
    ),
)
def embedding_norm_outliers(spark, sf_dir):
    from ..operators import quantization as qz

    emb = t(spark, sf_dir, "embeddings")
    n2 = emb.select(
        "vec_id",
        F.expr(
            "aggregate(transform(embedding, x -> "
            "CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT)), "
            "CAST(0 AS BIGINT), (acc, v) -> acc + v * v) div 100000000"
        ).alias("n2m"),
    )
    st = n2.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.expr("sum(n2m) div count(1)").cast("long").alias("mean_n2m"),
        F.expr(
            "sum(n2m * n2m) div count(1)"
            " - (sum(n2m) div count(1)) * (sum(n2m) div count(1))"
        )
        .cast("long")
        .alias("var_n2m"),
    )
    return (
        n2.crossJoin(F.broadcast(st))
        .groupBy("n", "mean_n2m", "var_n2m")
        .agg(
            F.sum(
                F.when(
                    (F.col("n2m") - F.col("mean_n2m"))
                    * (F.col("n2m") - F.col("mean_n2m"))
                    > 9 * F.col("var_n2m"),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers_3sigma"),
            F.min("n2m").cast("long").alias("min_n2m"),
            F.max("n2m").cast("long").alias("max_n2m"),
        )
        .select(
            F.col("n").alias("n_vectors"),
            "mean_n2m",
            "var_n2m",
            "n_outliers_3sigma",
            "min_n2m",
            "max_n2m",
        )
    )


# Process-scoped persisted-index memo for the vector_index entry (same
# discipline as the duckdb/sqlite mirrors: tempfile per process, keyed by
# source identity — no cross-run disk state).
_VINDEX_MEMO: dict = {}


def _vindex_dir(spark, sf_dir: str) -> str:
    import tempfile

    from .. import vector_index as vi

    src = os.path.join(sf_dir, "embeddings.parquet")
    st = os.stat(src)
    key = (os.path.abspath(src), st.st_mtime_ns, st.st_size)
    path = _VINDEX_MEMO.get(key)
    if path is not None and os.path.exists(path):
        return path
    d = tempfile.mkdtemp(prefix=f"spark_graft_vindex_{os.getpid()}_")
    vi.build_vector_index(
        spark, t(spark, sf_dir, "embeddings"), d,
        # the oracle replicates the seed-centroid cosine configuration —
        # pin both training knobs off (r13 adds train_centroids, default
        # ON for production builds; the trained path's candidate-recall
        # delta is measured in scripts/vector_index_trained_ab.py)
        n_centroids=8, n_subspaces=4, train_iters=0, train_centroids=0,
    )
    _VINDEX_MEMO[key] = d
    return d


@query(
    "vector_index_batch_search",
    oracle=_IVF_ASSIGN_CTE
    + f"""
    , em AS (
      {_EX_MICRO}
    ),
    cm AS (SELECT vec_id AS centroid_id, dim0, xm AS cm FROM em
           WHERE vec_id < 8),
    qm AS (SELECT vec_id AS query_id, dim0, xm AS qm FROM em
           WHERE vec_id IN (3, 17, 42)),
    pc AS (
      SELECT q.query_id, c.centroid_id,
             CAST(SUM(q.qm * c.cm) AS DOUBLE)
               / (sqrt(CAST(SUM(q.qm * q.qm) AS DOUBLE))
                  * sqrt(CAST(SUM(c.cm * c.cm) AS DOUBLE))) AS cos
      FROM qm q JOIN cm c ON q.dim0 = c.dim0
      GROUP BY 1, 2
    ),
    probe AS (
      SELECT query_id, centroid_id FROM (
        SELECT query_id, centroid_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, centroid_id) AS prk
        FROM pc
      ) WHERE prk <= 2
    ),
    cand AS (
      SELECT p.query_id, a.vec_id
      FROM probe p JOIN assign a ON a.centroid_id = p.centroid_id
    ),
    scored AS (
      SELECT c.query_id, c.vec_id,
             CAST(SUM((e.xm - q.qm) * (e.xm - q.qm)) AS BIGINT)
               AS exact_dist
      FROM cand c
      JOIN em e ON e.vec_id = c.vec_id
      JOIN qm q ON q.query_id = c.query_id AND q.dim0 = e.dim0
      GROUP BY 1, 2
    )
    SELECT query_id, vec_id, exact_dist, CAST(rk AS INTEGER) AS knn_rank
    FROM (
      SELECT query_id, vec_id, exact_dist,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY exact_dist, vec_id) AS rk
      FROM scored
    ) WHERE rk <= 3
    """,
    description=(
        "the PERSISTED vector-index serving stack under the oracle gate: "
        "the entry builds (once per process, tempdir memo) a real index "
        "directory via vector_index.build_vector_index — assignment "
        "parquet + JSON sidecars, the same artifacts the CLI verbs "
        "operate on — then answers a 3-query batch through "
        "search_vectors_batch: ONE plan for the whole set (assignment "
        "joined once on the union of probe lists, broadcast literal "
        "query array, exact int64 micro L2, skew-proof two-phase "
        "top-k; measured 14x per-query amortization vs single-query "
        "plans, SCALE.md r12).  The oracle recomputes the full pipeline "
        "in SQL — micro-cosine probe schedules (exact integer dot/norm "
        "sums below 2^53, so the doubles agree bit-for-bit), IVF "
        "assignment, exact distances, per-query rank — proving the "
        "index ARTIFACTS round-trip correctly, not just the in-memory "
        "operator"
    ),
)
def vector_index_batch_search(spark, sf_dir):
    from .. import vector_index as vi

    emb = t(spark, sf_dir, "embeddings")
    idx = _vindex_dir(spark, sf_dir)
    queries = {
        int(r["vec_id"]): list(r["embedding"])
        for r in emb.filter(F.col("vec_id").isin([3, 17, 42])).collect()
    }
    return vi.search_vectors_batch(spark, emb, idx, queries, k=3, nprobe=2)
