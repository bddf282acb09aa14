"""Contract tests for the hashed-gram fast path.

hashed_ngram_ids_expr / hashed_shingle_arrays promise: the MULTISET of
xxhash64 gram ids equals xxhash64 applied to the gram STRINGS the
canonical slice+concat construction produces (same grams, same
multiplicities, same per-doc row survival). Everything downstream
(dedup blocking, decontamination overlap, boilerplate counts,
repetition stats) relies only on that equality-class identity, so
these tests are the unit-level proof behind the oracle hash gate.
"""
import pytest

from tests.conftest import SF_SMOKE
from pyspark.sql import functions as F

from vector_search_application_spark.functions import text as T
from vector_search_application_spark.operators.dedup import (
    hashed_shingle_arrays,
    shingle_arrays,
)

EDGE_TEXTS = [
    ("plain", "the quick brown fox jumps over the lazy dog"),
    ("repeats", "go go go go go stop go go go go go"),
    ("punct", "a,b;c d--e f.g h!i j?k l m n o p"),
    ("short2", "one two"),
    ("short1", "single"),
    ("empty", ""),
    ("seps_only", "!!! ??? ,,, ..."),
    ("unicode", "café naïve résumé tok1 tok2 tok3 tok4"),
    ("newlines", "line one\nline two\ttab three  spaced four"),
    ("underscore", "a_b c d a_b c d a b_c d"),  # '_' is a separator:
    # concat_ws('_') grams must not alias across token boundaries
    ("digits", "12 34 12 34 12 34 56 78 90 11"),
    ("long_run", " ".join(["tok"] * 40)),
]


@pytest.fixture(scope="module")
def edge_docs(spark):
    rows = ", ".join(
        f"({i}, '{t}')" for i, (_, t) in enumerate(EDGE_TEXTS)
    )
    return spark.sql(
        f"SELECT * FROM VALUES {rows} AS t(doc_id, text)"
    )


@pytest.mark.parametrize("n", [2, 3, 5])
def test_hashed_ngram_ids_match_string_gram_hashes(spark, edge_docs, n):
    """Multiset equality: hashed_ngram_ids_expr == xxhash64 over the
    canonical transform(sequence, slice) gram strings, per doc.
    The canonical grams join with TOKEN_SEP (what the consuming regex
    extracts), so hashing them directly must reproduce the ids."""
    from vector_search_application_spark.functions import portable as P

    sep = T.TOKEN_SEP
    canonical = F.expr(
        f"CASE WHEN size(toks) >= {n} THEN"
        f" transform(sequence(1, size(toks) - {n - 1}),"
        f" i -> xxhash64(concat_ws('{sep}', slice(toks, i, {n}))))"
        f" ELSE array()::array<bigint> END"
    )
    base = edge_docs.select(
        "doc_id", F.col("text"), F.expr(P.tokens_spark_sql("text")).alias("toks")
    )
    got = base.select(
        "doc_id",
        F.array_sort(T.hashed_ngram_ids_expr("text", n)).alias("hashed"),
        F.array_sort(canonical).alias("canonical"),
    )
    for r in got.collect():
        assert r["hashed"] == r["canonical"], (r["doc_id"], n)


def test_hashed_shingle_arrays_match_string_shingles(spark):
    """On the real sf0.001 documents table: per-doc shingle SET size,
    surviving doc ids, and cross-doc equality structure (distinct and
    total counts) must match the string construction."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    s = shingle_arrays(docs, "doc_id", "text")
    h = hashed_shingle_arrays(docs, "doc_id", "text")
    srows = {r["id"]: len(r["shs"]) for r in s.collect()}
    hrows = {r["id"]: len(r["shs"]) for r in h.collect()}
    assert srows == hrows  # same docs survive with same set sizes
    s_stats = (
        s.select("id", F.explode("shs").alias("sh"))
        .groupBy("sh").count()
        .agg(F.count(F.lit(1)), F.sum("count"),
             F.max("count"), F.sum(F.when(F.col("count") > 1, 1)))
        .collect()[0]
    )
    h_stats = (
        h.select("id", F.explode("shs").alias("sh"))
        .groupBy("sh").count()
        .agg(F.count(F.lit(1)), F.sum("count"),
             F.max("count"), F.sum(F.when(F.col("count") > 1, 1)))
        .collect()[0]
    )
    assert tuple(s_stats) == tuple(h_stats)


def test_hashed_shingles_drop_short_docs(spark):
    """Docs with fewer than n tokens drop in BOTH constructions —
    the filter parity that keeps per-doc row counts identical."""
    docs = spark.sql(
        "SELECT * FROM VALUES (1, 'a b'), (2, 'a b c'), (3, ''),"
        " (4, 'w x y z q') AS t(doc_id, text)"
    )
    s_ids = {r["id"] for r in shingle_arrays(docs, "doc_id", "text", n=3).collect()}
    h_ids = {r["id"] for r in hashed_shingle_arrays(docs, "doc_id", "text", n=3).collect()}
    assert s_ids == h_ids == {2, 4}
