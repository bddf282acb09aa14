import os

import pytest

os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = "/root/testdata/sf0.01"

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    from vector_search_application_spark.session import get_spark

    s = get_spark(shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    yield con
    con.close()


@pytest.fixture(scope="session")
def text_twins(spark, duck, tmp_path_factory):
    """``check(pairs)`` runs Spark text-feature columns and their DuckDB
    twins over one parquet file — the sf0.001 documents plus edge rows
    (test_hashed_grams.EDGE_TEXTS, the Unicode rows of
    test_query_literals, a vertical tab, final sigma, short and
    punctuation-only docs) — and returns every (doc_id, name, spark,
    duck) that differs. ``pairs`` maps a name to (Column over ``text``,
    DuckDB SQL over ``text``)."""
    from tests.test_hashed_grams import EDGE_TEXTS as GRAM_TEXTS
    from tests.test_query_literals import EDGE_TEXTS as UNICODE_TEXTS

    edge = [t for _, t in GRAM_TEXTS] + UNICODE_TEXTS + [
        "\x0bvertical\x0btab\x0b", "ΟΔΟΣ σοφός", "ab ab ab ab ab ab",
        "a b c d e f g h", "one", "  --  !!  ", "x1 y2 x1 y2 x1 y2 z",
        "!!! ...",
    ]
    path = str(tmp_path_factory.mktemp("text_twins") / "docs.parquet")
    duck.execute(
        "CREATE TEMP TABLE text_twin_docs AS SELECT doc_id, text FROM"
        f" read_parquet('{SF_SMOKE}/documents.parquet')"
    )
    duck.executemany(
        "INSERT INTO text_twin_docs VALUES (?, ?)",
        [(-1 - i, t) for i, t in enumerate(edge)],
    )
    duck.execute(f"COPY text_twin_docs TO '{path}' (FORMAT parquet)")
    docs = spark.read.parquet(path)

    def check(pairs):
        names = list(pairs)
        got = {
            r[0]: tuple(r[1:])
            for r in docs.select(
                "doc_id", *[pairs[n][0].alias(n) for n in names]
            ).collect()
        }
        cols = ", ".join(f"{pairs[n][1]} AS {n}" for n in names)
        want = {
            r[0]: tuple(r[1:])
            for r in duck.execute(
                f"SELECT doc_id, {cols} FROM read_parquet('{path}')"
            ).fetchall()
        }
        assert got.keys() == want.keys()
        return [
            (d, n, g, w)
            for d in sorted(got)
            for n, g, w in zip(names, got[d], want[d])
            if g != w
        ]

    return check


def quality_twin_pairs() -> dict:
    """``quality_features_expr`` fields paired with their DuckDB twins."""
    from vector_search_application_spark.functions import portable as P
    from vector_search_application_spark.functions import text as T

    qf = T.quality_features_expr("text")[0]
    return {
        "punct_ratio": (qf["punct_ratio"], P.rounded_sql(T.punct_ratio_sql("text"))),
        "uniq_ratio": (qf["uniq_ratio"], P.rounded_sql(T.uniq_token_ratio_sql("text"))),
        "quality": (qf["quality"], T.quality_score_sql("text")),
        "n_tokens": (qf["n_tokens"], P.token_count_sql("text")),
        "stopword_ratio": (qf["stopword_ratio"], T.stopword_ratio_sql("text")),
    }


def repetition_twin_pairs() -> dict:
    """``repetition_features_expr`` fields paired with the
    string-counting DuckDB twins."""
    from vector_search_application_spark.functions import text as T

    rf = T.repetition_features_expr("text")[0]
    return {
        "top_2gram_ratio": (rf["top_2gram_ratio"], T.top_ngram_ratio_sql("text", 2)),
        "dup_3gram_ratio": (rf["dup_3gram_ratio"], T.dup_ngram_ratio_sql("text", 3)),
    }


def register_views(con, sf_dir: str) -> None:
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )


def compare_spark_duckdb(sdf, con, sql: str):
    """Mirror the driver's correctness gate: row count, schema (sorted
    column names), and order-insensitive value comparison."""
    spark_rows = sdf.collect()
    spark_cols = sdf.columns
    duck_res = con.execute(sql)
    duck_cols = [d[0] for d in duck_res.description]
    duck_rows = duck_res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"schema mismatch: spark={sorted(spark_cols)} duck={sorted(duck_cols)}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"row count mismatch: spark={len(spark_rows)} duck={len(duck_rows)}"
    )

    order = sorted(range(len(spark_cols)), key=lambda i: spark_cols[i])
    dorder = sorted(range(len(duck_cols)), key=lambda i: duck_cols[i])

    def norm_s(row):
        return tuple(_norm(row[spark_cols[i]]) for i in order)

    def norm_d(row):
        return tuple(_norm(row[i]) for i in dorder)

    s_sorted = sorted(map(norm_s, spark_rows), key=_key)
    d_sorted = sorted(map(norm_d, duck_rows), key=_key)
    for i, (a, b) in enumerate(zip(s_sorted, d_sorted)):
        assert _eq(a, b), f"row {i} mismatch:\n spark={a}\n duck ={b}"


def _norm(v):
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return v


def _canon(x):
    """Sort-key canonicalization: values that compare equal must sort
    identically, or the zip pairing misaligns rows that actually match.
    -0.0 stringifies differently from 0.0 (while -0.0 == 0.0), and NaN
    never equals itself — both would scramble the str()-based sort."""
    if isinstance(x, tuple):
        return tuple(_canon(v) for v in x)
    if isinstance(x, float):
        if x != x:
            return "__nan__"
        return x + 0.0  # folds -0.0 onto 0.0
    return x


def _key(row):
    return tuple((x is None, str(x)) for x in _canon(row))


def _eq(a, b):
    """== plus NaN == NaN (identical NaNs from both engines must not
    fail the gate; a one-sided NaN still does)."""
    if type(a) is tuple and type(b) is tuple:
        return len(a) == len(b) and all(_eq(x, y) for x, y in zip(a, b))
    if isinstance(a, float) and isinstance(b, float) and a != a and b != b:
        return True
    return a == b
