"""The Spark text features and their DuckDB twins agree row for row
over the sf0.001 documents and an edge corpus (see the ``text_twins``
fixture). The oracle hash gate compares the same twins, but only on
text the fixtures contain; this pin adds the characters where Java and
DuckDB lowercase differently (İ) and the whitespace Java's and RE2's
regex classes treat differently (vertical tab)."""

from pyspark.sql import functions as F

from tests.conftest import quality_twin_pairs, repetition_twin_pairs
from vector_search_application_spark.functions import portable as P
from vector_search_application_spark.functions import text as T


def test_spark_text_features_match_duckdb_twins(text_twins):
    text = F.col("text")
    assert text_twins({
        "tokens": (F.expr(P.tokens_spark_sql("text")), P.tokens_sql("text")),
        "ws_tokens": (T.ws_token_count(text), T.ws_token_count_sql("text")),
        "re_tokens": (T.re_token_count(text), T.re_token_count_sql("text")),
        "stopword_ratio": (
            T.stopword_ratio_expr("text"), T.stopword_ratio_sql("text")
        ),
        **quality_twin_pairs(),
        **repetition_twin_pairs(),
    }) == []
