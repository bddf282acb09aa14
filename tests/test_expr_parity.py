"""Parity pins for the expr-string forms (the quality_features_expr
pattern): each builder that was converted from py4j Column construction
to ONE parsed SQL string must stay plan-identical (sameSemantics) — not
merely value-equal — to the Column form it replaced, so the conversion
can never drift the math. The replaced Column forms live on here as
test-local references.
"""

import ast
import re
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from vector_search_application_spark.functions import embedder as E
from vector_search_application_spark.functions import portable as P
from vector_search_application_spark.functions import text as T
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
    STOPWORDS,
)

PACKAGE = Path(__file__).resolve().parents[1] / "vector_search_application_spark"


def _column_tokens(col):
    """The deleted Column form of portable.tokens_spark_sql, verbatim."""
    return F.array_remove(F.split(F.lower(col), P.TOKEN_SPLIT_RE), "")


def _column_dot(a, b):
    """The deleted Column form of portable.dot_spark_sql, verbatim."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _column_cosine(a, b):
    """The deleted Column form of portable.cosine_spark_sql, verbatim
    but for its norm() calls, inlined as F.sqrt(dot)."""
    denom = F.sqrt(_column_dot(a, a)) * F.sqrt(_column_dot(b, b))
    return F.when(denom > F.lit(0.0), _column_dot(a, b) / denom).otherwise(
        F.lit(0.0)
    )


def _column_stopword_ratio(text):
    """The deleted Column form of text.stopword_ratio_expr, verbatim."""
    toks = _column_tokens(text)
    sw = F.array(*[F.lit(w) for w in STOPWORDS])
    n_sw = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return F.when(F.size(toks) > 0, n_sw.cast("double") / F.size(toks)).otherwise(
        F.lit(0.0)
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
        P.rounded(_column_cosine(F.col("embedding"), F.col("qvec"))).alias("score"),
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
    old = df.select(_column_tokens(F.col("text")).alias("toks"))
    new = df.selectExpr(f"{P.tokens_spark_sql('`text`')} AS toks")
    assert old.sameSemantics(new)


SHAPE_TEXTS = [
    "Hello, World! 42 foo_bar",
    "",
    "   \t\n ",
    "---===---",
    "ünïcode MIXED case 007",
    "the cat and a dog of the year the end",
]


def _shape_frame(spark):
    """One row per SHAPE_TEXTS entry: its text, two float vectors (the
    first is the zero vector on row 0, for the zero-denominator branch),
    their norms and two 3-dim subvector slices."""
    texts = spark.createDataFrame(list(enumerate(SHAPE_TEXTS)), ["id", "text"])
    return texts.selectExpr(
        "id",
        "text",
        "array(CAST(id AS FLOAT), CAST(id % 7 AS FLOAT),"
        " CAST(-id % 5 AS FLOAT), CAST(id * 0.5 AS FLOAT)) AS a",
        "array(CAST(1 AS FLOAT), CAST(2 AS FLOAT),"
        " CAST(3 AS FLOAT), CAST(-0.25 AS FLOAT)) AS b",
    ).selectExpr(
        "*",
        f"{P.norm_spark_sql('a')} AS na",
        f"{P.norm_spark_sql('b')} AS nb",
        "slice(a, 2, 3) AS xv",
        "slice(b, 1, 3) AS cw",
    )


# shape -> (Column form the call sites used, the string form they use now)
SHAPES = {
    "explode_distinct_tokens": (
        lambda df: df.select(
            F.explode(F.array_distinct(_column_tokens(F.col("text")))).alias("term")
        ),
        lambda df: df.selectExpr(
            f"explode(array_distinct({P.tokens_spark_sql('text')})) AS term"
        ),
    ),
    "summed_token_count": (
        lambda df: df.groupBy().agg(
            F.sum(F.size(_column_tokens(F.col("text")))).cast("bigint").alias("n")
        ),
        lambda df: df.groupBy().agg(
            F.expr(f"CAST(sum(size({P.tokens_spark_sql('text')})) AS BIGINT) AS n")
        ),
    ),
    "rounded_dot": (
        lambda df: df.select(P.rounded(_column_dot(F.col("a"), F.col("b"))).alias("w")),
        lambda df: df.select(P.rounded(F.expr(P.dot_spark_sql("a", "b"))).alias("w")),
    ),
    "pq_distance": (
        lambda df: df.select(
            P.rounded(
                _column_dot(F.col("xv"), F.col("xv"))
                - 2 * _column_dot(F.col("xv"), F.col("cw"))
                + _column_dot(F.col("cw"), F.col("cw"))
            ).alias("dist")
        ),
        lambda df: df.select(
            P.rounded(
                F.expr(
                    f"{P.dot_spark_sql('xv', 'xv')}"
                    f" - {P.dot_spark_sql('xv', 'cw')} * 2"
                    f" + {P.dot_spark_sql('cw', 'cw')}"
                )
            ).alias("dist")
        ),
    ),
    "sqrt_dot_norm": (
        lambda df: df.select(F.sqrt(_column_dot(F.col("a"), F.col("a"))).alias("n")),
        lambda df: df.select(F.expr(P.norm_spark_sql("a")).alias("n")),
    ),
    "cosine_precomputed_norms": (
        lambda df: df.select(
            P.rounded(
                F.when(
                    F.col("na") * F.col("nb") > 0.0,
                    _column_dot(F.col("a"), F.col("b")) / (F.col("na") * F.col("nb")),
                ).otherwise(0.0)
            ).alias("cos")
        ),
        lambda df: df.select(
            P.rounded(F.expr(P.cosine_spark_sql("a", "b", "na", "nb"))).alias("cos")
        ),
    ),
    "rounded_cosine": (
        lambda df: df.select(
            P.rounded(_column_cosine(F.col("a"), F.col("b"))).alias("cos")
        ),
        lambda df: df.select(
            P.rounded(F.expr(P.cosine_spark_sql("a", "b"))).alias("cos")
        ),
    ),
    "stopword_ratio": (
        lambda df: df.select(_column_stopword_ratio(F.col("text")).alias("swr")),
        lambda df: df.select(T.stopword_ratio_expr("text").alias("swr")),
    ),
}


@pytest.mark.parametrize("shape", sorted(SHAPES))
def test_converted_shape_parity(spark, shape):
    df = _shape_frame(spark)
    column_form, string_form = SHAPES[shape]
    old, new = column_form(df), string_form(df)
    assert old.sameSemantics(new)
    assert old.collect() == new.collect()


def _string_texts(tree: ast.AST):
    """Every string literal of a module as one text, f-string fields as
    {}: implicitly concatenated pieces parse as one node, so a CASE
    split across source lines is whole here."""
    for node in ast.walk(tree):
        if isinstance(node, ast.JoinedStr):
            yield "".join(
                v.value if isinstance(v, ast.Constant) else "{}" for v in node.values
            )
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            yield node.value


def _column_cosine_whens(tree: ast.AST):
    """``F.when(x > 0.0, y / z)`` calls: the zero-denominator cosine
    spelled with Columns."""
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "when"
            and len(node.args) == 2
            and isinstance(node.args[0], ast.Compare)
            and isinstance(node.args[0].ops[0], ast.Gt)
            and "0.0" in ast.unparse(node.args[0].comparators[0])
            and isinstance(node.args[1], ast.BinOp)
            and isinstance(node.args[1].op, ast.Div)
        ):
            yield node.lineno


COSINE_CASE = re.compile(r"> 0\.0D?\s*THEN\s*\(.*\)\s*/")
TOKEN_SPLIT = re.compile(r"split\(\s*(F\.)?lower\(")


def test_tokenizer_and_cosine_case_spelled_once():
    """portable.py holds the only Spark spelling of the tokenizer split
    and of the cosine zero-denominator CASE, and no Column builder of
    the tokenizer, dot, norm or cosine."""
    portable = PACKAGE / "functions" / "portable.py"
    found = []
    for path in sorted(PACKAGE.rglob("*.py")):
        src = path.read_text()
        tree = ast.parse(src, str(path))
        if path == portable:
            defined = {n.name for n in tree.body if isinstance(n, ast.FunctionDef)}
            found += [
                f"portable.{name}"
                for name in ("tokens", "token_count", "dot", "norm", "cosine")
                if name in defined
            ]
            continue
        rel = path.relative_to(PACKAGE)
        if TOKEN_SPLIT.search(src):
            found.append(f"{rel}: tokenizer split")
        if any(COSINE_CASE.search(t) for t in _string_texts(tree)):
            found.append(f"{rel}: cosine CASE")
        found += [f"{rel}:{ln}: Column cosine" for ln in _column_cosine_whens(tree)]
    assert found == []


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


def test_embed_short_postings_parity(spark):
    """embed_short_postings shuffles once, by id, and its rows equal
    embed_postings' bit for bit, over repeated ids (their tokens pool
    into one vector), docs with no tokens and a NULL id."""
    docs = spark.createDataFrame(
        [(i % 97, t) for i, t in enumerate(SHAPE_TEXTS * 40)]
        + [(1000, "steel steel valve"), (1000, "valve brass"),
           (1001, "!! --"), (1002, None), (None, "orphan tokens")],
        "doc_id BIGINT, text STRING",
    )
    new = E.embed_short_postings(docs, "doc_id", "text")
    old = E.embed_postings(docs, "doc_id", "text")
    plan = new._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"\bExchange\b", plan)) == 1, plan
    assert new.dtypes == old.dtypes
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0
    got = {(r.id, r.dim): r.comp for r in new.collect()}
    assert got == {(r.id, r.dim): r.comp for r in old.collect()}
    assert {i for i, _ in got} >= {1000} and {1001, 1002, None}.isdisjoint(
        i for i, _ in got
    )
