"""Unit tests for the PII scrubbing and int8-quantization operator families
(oracle-parity for their catalog entries lives in test_workload_oracle.py)."""

import pytest
from pyspark.sql import functions as F

from arthur_redshift_etl_spark.operators import pii as pz
from arthur_redshift_etl_spark.operators import quantization as qz


@pytest.fixture()
def pii_df(spark):
    rows = [
        (1, "reach me at alice.smith+x@mail.example.org today"),
        (2, "server 192.168.0.1 and 10.0.255.7 are up"),
        (3, "call 555-867-5309 or 555.867.5309"),
        (4, "ssn 123-45-6789 on file"),
        (5, "nothing sensitive here"),
        (6, "a@b.io and 1.2.3.4 and 999-12-3456"),
        (7, ""),
    ]
    return spark.createDataFrame(rows, "id long, text string")


def test_pii_counts(pii_df):
    got = {r["id"]: r for r in pz.pii_counts(pii_df).collect()}
    assert got[1]["n_email"] == 1 and got[1]["n_pii"] == 1
    assert got[2]["n_ipv4"] == 2
    assert got[3]["n_phone"] == 2
    assert got[4]["n_ssn"] == 1
    assert got[5]["n_pii"] == 0
    assert got[6]["n_email"] == 1 and got[6]["n_ipv4"] == 1 and got[6]["n_ssn"] == 1
    assert got[7]["n_pii"] == 0


def test_redact_typed_placeholders(pii_df):
    got = {r["id"]: r["text"] for r in pz.redact(pii_df).collect()}
    assert got[1] == "reach me at [EMAIL] today"
    assert got[2] == "server [IPV4] and [IPV4] are up"
    assert got[3] == "call [PHONE] or [PHONE]"
    assert got[4] == "ssn [SSN] on file"
    assert got[5] == "nothing sensitive here"


def test_redact_email_wins_over_inner_patterns(spark):
    """The local part may contain digits that look like other PII; email
    redaction runs first and consumes the whole match."""
    df = spark.createDataFrame([(1, "x 555-867-5309@corp.example.com y")],
                               "id long, text string")
    out = pz.redact(df).collect()[0]["text"]
    assert out == "x [EMAIL] y"


def test_quarantine_split(pii_df):
    clean, flagged = pz.quarantine_split(pii_df)
    assert {r["id"] for r in clean.collect()} == {5, 7}
    assert {r["id"] for r in flagged.collect()} == {1, 2, 3, 4, 6}
    # clean side drops the scan columns
    assert set(clean.columns) == {"id", "text"}


@pytest.fixture()
def emb_df(spark):
    rows = [
        (0, [1.0, -2.0, 0.5]),
        (1, [4.0, 0.0, -0.25]),
        (2, [-4.0, 2.0, 1.0]),
        (3, [0.0, 0.0, 0.0]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_quantize_codes_and_range(emb_df):
    got = {r["vec_id"]: r["q"] for r in qz.quantize(emb_df).collect()}
    # scale = 4.0 → q = floor(x * 127 / 4 + 0.5)
    assert got[1] == [127, 0, -8]  # floor(-7.9375+0.5) = floor(-7.4375) = -8
    assert got[0] == [32, -63, 16]  # floor(-63.5+0.5) = -63
    assert got[2] == [-127, 64, 32]
    assert got[3] == [0, 0, 0]
    assert all(-128 <= v <= 127 for q in got.values() for v in q)


def test_dequantize_error_bound(emb_df):
    q = qz.quantize(emb_df)
    dq = qz.dequantize(q, scale=4.0)
    err = dq.select(
        F.array_max(
            F.zip_with("embedding", "embedding_dq", lambda a, b: F.abs(a - b))
        ).alias("e")
    ).agg(F.max("e")).collect()[0][0]
    # half a quantization step = scale / (2 * 127)
    assert err <= 4.0 / (2 * 127) + 1e-12


def test_quantized_knn_ranks(emb_df):
    q = qz.quantize(emb_df)
    res = qz.quantized_knn(q, q.filter(F.col("vec_id") == 0), k=3)
    rows = sorted(res.collect(), key=lambda r: r["knn_rank"])
    # neighbor 1: 32*127 + 16*-8 = 3936; neighbor 3 (zero vector): 0;
    # neighbor 2: 32*-127 + (-63)*64 + 16*32 = -7584 — score DESC
    assert [r["neighbor_id"] for r in rows] == [1, 3, 2]
    assert [r["score"] for r in rows] == [3936, 0, -7584]


def test_quantized_knn_excludes_self(emb_df):
    q = qz.quantize(emb_df)
    res = qz.quantized_knn(q, q, k=10)
    assert res.filter(F.col("query_id") == F.col("neighbor_id")).count() == 0


def test_forget_rows_matches_filter_semantics_random(spark):
    """Random request subsets: scrubbed == plain NOT-IN filter, audit
    arithmetic consistent, nulls in request keys never match anything."""
    import random

    from pyspark.sql import functions as F

    from arthur_redshift_etl_spark.operators.pii import forget_rows

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        "event_id", "user_id"
    )
    users = [r["user_id"] for r in ev.select("user_id").distinct().collect()]
    rng = random.Random(11)
    for trial in range(3):
        req_keys = rng.sample(users, k=min(5, len(users)))
        requests = spark.createDataFrame(
            [(k,) for k in req_keys] + [(None,)], "user_id long"
        )
        scrubbed, audit_df = forget_rows(ev, requests, "user_id")
        audit = audit_df.collect()[0]
        expect = ev.filter(~F.col("user_id").isin(req_keys))
        assert scrubbed.count() == expect.count(), trial
        assert audit["rows_before"] == ev.count()
        assert audit["rows_removed"] == ev.count() - expect.count()
        assert audit["rows_after"] == expect.count()
        assert audit["residual_matches"] == 0


def pq_encode_expr(df, codebooks, n_subspaces, sub_dims):
    """Expression-form PQ encode: one :func:`qz.pq_code` per subspace over
    the micro-unit components, the parity reference for pq_encode_arrow."""
    base = df.select("vec_id", qz.micro_components(F.col("embedding")).alias("xm"))
    return base.select(
        "vec_id",
        *[
            qz.pq_code(F.col("xm"), codebooks, m, sub_dims).alias(f"code{m}")
            for m in range(n_subspaces)
        ],
    )


def test_pq_encode_arrow_matches_expression(spark):
    """pq_encode_arrow (guide §4.2 numpy batch path) must produce
    byte-identical codes to the expression encoder — including argmin
    tie-breaks (np.argmin first-min vs lexicographic (d, cid) array_min)
    and the IEEE floor(x*1e6) micro-unit cast.  sf0.001 corpus + planted
    exact-tie rows (a vector equal to a centroid midpoint region repeats)."""
    from arthur_redshift_etl_spark.workload import t
    from arthur_redshift_etl_spark.workload.pq import PQ_K, PQ_M, PQ_SUB

    emb = t(spark, "/root/testdata/sf0.001", "embeddings")
    # plant exact ties: duplicate the centroid rows themselves (distance 0
    # to their own code in one subspace can tie across centroids that share
    # subvectors) and a few negated/scaled rows
    extra = emb.filter(F.col("vec_id") < PQ_K).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    corpus = emb.select("vec_id", "embedding").unionAll(extra)
    codebooks = {
        r["vec_id"]: qz.micro_list(r["embedding"])
        for r in emb.filter(F.col("vec_id") < PQ_K).collect()
    }
    # an int id keeps its type; a null vector gets null codes, and a null
    # component a null code in its own subspace only
    int_ids = corpus.select(
        (F.col("vec_id") + 2_000_000).cast("int").alias("vec_id"), "embedding"
    )
    holed = emb.filter(F.col("vec_id") == 0).select(
        F.lit(-2).alias("vec_id"),
        F.transform("embedding", lambda x, i: F.when(i != 0, x)).alias("embedding"),
    )
    null_row = spark.createDataFrame([(-1, None)], "vec_id int, embedding array<float>")
    # ragged vectors: a short one (one subspace; one ending mid-subspace;
    # an empty one) gets null codes in the subspaces it misses, and extra
    # components past the codebook's dimensions are ignored
    vec0 = F.col("embedding")
    ragged = [
        (-3, F.slice(vec0, 1, PQ_SUB)),
        (-4, F.slice(vec0, 1, PQ_SUB + 5)),
        (-5, F.concat(vec0, F.array(F.lit(1.5).cast("float"), F.lit(-2.0).cast("float")))),
        (-6, F.slice(vec0, 1, 0)),
    ]
    for vid, vec in ragged:
        holed = holed.unionAll(
            emb.filter(F.col("vec_id") == 0).select(
                F.lit(vid).alias("vec_id"), vec.alias("embedding")
            )
        )
    int_ids = int_ids.unionAll(null_row).unionAll(holed)
    for df in (corpus, int_ids):
        a = pq_encode_expr(df, codebooks, PQ_M, PQ_SUB)
        b = qz.pq_encode_arrow(df, codebooks, PQ_M, PQ_SUB)
        assert a.schema == b.schema
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
        assert b.count() == df.count()
    assert dict(b.dtypes)["vec_id"] == "int"
    codes = {r["vec_id"]: r for r in b.filter(F.col("vec_id") < 0).collect()}
    assert all(codes[-1][f"code{m}"] is None for m in range(PQ_M))
    assert codes[-2]["code0"] is None
    assert all(codes[-2][f"code{m}"] is not None for m in range(1, PQ_M))
    whole = b.filter(F.col("vec_id") == 2_000_000).first()
    for vid in (-3, -4):
        assert codes[vid]["code0"] == whole["code0"]
        assert all(codes[vid][f"code{m}"] is None for m in range(1, PQ_M))
    assert all(codes[-5][f"code{m}"] == whole[f"code{m}"] for m in range(PQ_M))
    assert all(codes[-6][f"code{m}"] is None for m in range(PQ_M))
