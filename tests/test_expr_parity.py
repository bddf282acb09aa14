"""Parity pins for the r14 expr-string twins (the r13
quality_features_expr pattern): each builder that was converted from
py4j Column construction to ONE parsed SQL string must stay
plan-identical (sameSemantics) — not merely value-equal — to the
Column form it replaced, so the conversion can never drift the math.
"""

from pyspark.sql import functions as F

from vector_search_application_spark.functions import portable as P
from vector_search_application_spark.operators import dedup
from vector_search_application_spark.operators.bm25 import (
    BM25_B,
    BM25_K1,
    _bm25_weight,
)
from vector_search_application_spark.plans.constants import (
    MINHASH_A,
    MINHASH_B,
    MINHASH_BANDS,
    MINHASH_PERMS,
    MINHASH_PRIME,
)


def _column_bm25_weight(k1: float, b: float):
    """The pre-r14 Column-builder form of _bm25_weight, kept verbatim
    as the parity reference."""
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tf_part = (
        F.col("tf").cast("double")
        * F.lit(k1 + 1.0)
        / (
            F.col("tf").cast("double")
            + F.lit(k1)
            * (
                F.lit(1.0 - b)
                + F.lit(b) * F.col("doc_len").cast("double") / F.col("avgdl")
            )
        )
    )
    return idf * tf_part


def test_bm25_weight_expr_parity(spark):
    base = spark.range(1, 500).selectExpr(
        "id AS tf",
        "id * 3 + 1 AS doc_len",
        "id % 97 + 1 AS df",
        "2000L AS n_docs",
        "42.5D AS avgdl",
    )
    old = base.select(_column_bm25_weight(BM25_K1, BM25_B).alias("w"))
    new = base.select(_bm25_weight(BM25_K1, BM25_B).alias("w"))
    assert old.sameSemantics(new)


def test_cosine_spark_sql_parity(spark):
    df = spark.range(0, 50).selectExpr(
        "id AS vec_id",
        "array(CAST(id AS FLOAT), CAST(id % 7 AS FLOAT),"
        " CAST(-id % 5 AS FLOAT)) AS embedding",
        "array(CAST(1 AS FLOAT), CAST(2 AS FLOAT), CAST(3 AS FLOAT)) AS qvec",
    )
    old = df.select(
        "vec_id",
        P.rounded(P.cosine(F.col("embedding"), F.col("qvec"))).alias("score"),
    )
    new = df.selectExpr(
        "vec_id",
        f"round(CAST(({P.cosine_spark_sql('`embedding`', '`qvec`')})"
        " AS DOUBLE), 6) AS score",
    )
    assert old.sameSemantics(new)
    # zero-vector row exercises the zero-denominator branch
    z = spark.sql(
        "SELECT array(CAST(0 AS FLOAT)) AS embedding,"
        " array(CAST(0 AS FLOAT)) AS qvec"
    )
    assert (
        z.selectExpr(
            f"round(CAST(({P.cosine_spark_sql('embedding', 'qvec')})"
            " AS DOUBLE), 6) AS score"
        ).first()["score"]
        == 0.0
    )


def test_tokens_spark_sql_parity(spark):
    rows = [
        ("Hello, World! 42 foo_bar",),
        ("",),
        ("   \t\n ",),
        ("---===---",),
        ("ünïcode MIXED case 007",),
    ]
    df = spark.createDataFrame(rows, ["text"])
    old = df.select(P.tokens(F.col("text")).alias("toks"))
    new = df.selectExpr(f"{P.tokens_spark_sql('`text`')} AS toks")
    assert old.sameSemantics(new)


def _column_minhash_signatures(sharr, n_perms: int):
    """The Column-builder form that dedup.minhash_signatures replaced,
    kept verbatim as the parity reference."""
    mins = [
        F.array_min(
            F.expr(
                f"transform(shs, h -> ({MINHASH_A[i]}L * h + {MINHASH_B[i]}L)"
                f" % {MINHASH_PRIME}L)"
            )
        ).alias(f"m{i}")
        for i in range(n_perms)
    ]
    return sharr.select("id", *mins)


def _column_lsh_band_keys(sigs, n_bands: int, n_perms: int):
    """The Column-builder form that dedup.lsh_band_keys replaced, kept
    verbatim as the parity reference."""
    rows_per_band = n_perms // n_bands
    entries = []
    for band in range(n_bands):
        cols = [
            F.col(f"m{band * rows_per_band + j}").cast("string")
            for j in range(rows_per_band)
        ]
        entries.append(
            F.struct(
                F.lit(band).alias("band"),
                F.md5(F.concat_ws(",", *cols)).alias("band_key"),
            )
        )
    return sigs.select("id", F.explode(F.array(*entries)).alias("bk")).select(
        "id", "bk.band", "bk.band_key"
    )


def test_minhash_signature_expr_parity(spark):
    sharr = spark.range(0, 20).selectExpr(
        "id", "array(id * 7919, id + 104729, 4294967295L - id) AS shs"
    )
    old = _column_minhash_signatures(sharr, MINHASH_PERMS)
    new = dedup.minhash_signatures(sharr, MINHASH_PERMS)
    assert old.sameSemantics(new)


def test_lsh_band_keys_expr_parity(spark):
    sigs = spark.range(0, 20).selectExpr(
        "id", *[f"id * {i + 3} + {i} AS m{i}" for i in range(MINHASH_PERMS)]
    )
    old = _column_lsh_band_keys(sigs, MINHASH_BANDS, MINHASH_PERMS)
    new = dedup.lsh_band_keys(sigs, MINHASH_BANDS, MINHASH_PERMS)
    assert old.sameSemantics(new)
