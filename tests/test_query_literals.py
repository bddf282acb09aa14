"""Query-side values as plan literals: the query's embedding and terms
are computed on the driver by Python twins of the JVM expressions and
enter the plan as a LocalRelation or as literals, so a catalog read
runs Spark jobs for the corpus side only.

The parity pins (in the tests/test_expr_parity.py style) hold the
twins to the JVM forms over an edge corpus, and hold the new builders
to test-local copies of the spark.range forms they replaced. The
job-count pins assert that no Spark job is submitted while the
query-side values are built or collected; they assert no per-read
totals, because AQE can add a job at small sizes."""

import hashlib
import uuid

from pyspark.sql import functions as F

from vector_search_application_spark.functions import embedder as E
from vector_search_application_spark.functions import portable as P
from vector_search_application_spark.operators import bm25
from vector_search_application_spark.plans.constants import HASH_EMBED_DIM


def _cancelling_pair() -> str:
    """Two tokens hashed to the same dim with opposite signs: their
    vector sums to zero, so it has zero norm."""
    seen: dict[int, tuple[str, int]] = {}
    for i in range(10_000):
        t = f"w{i}"
        h = int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
        d, sign = h % HASH_EMBED_DIM, (h >> 6) % 2
        if d in seen and seen[d][1] != sign:
            return f"{seen[d][0]} {t}"
        seen.setdefault(d, (t, sign))
    raise AssertionError("no sign-cancelling pair")


PAIR = _cancelling_pair()
EDGE_TEXTS = [
    "",
    " \t,;--!! ",
    "tab\tsep\nnew line\r\nend",
    "K kelvin Kelvin",  # K (KELVIN SIGN) lowercases to ASCII k
    "İstanbul İ",  # İ lowercases to i + COMBINING DOT ABOVE
    "Straße ß",
    "École été",
    "digits 007 42x 3.14",
    "x" * 300 + " tail",
    PAIR,
    PAIR + " plus one",
    "Stainless Steel Hex Bolt 3/8 x 2 stainless",
]


def _edge_docs(spark):
    """(id, t): EDGE_TEXTS as a DataFrame column, id = list position."""
    return spark.range(len(EDGE_TEXTS)).select(
        "id",
        F.element_at(
            F.array(*[F.lit(t) for t in EDGE_TEXTS]), (F.col("id") + 1).cast("int")
        ).alias("t"),
    )


def test_tokens_py_parity(spark):
    rows = _edge_docs(spark).selectExpr(
        "id", f"{P.tokens_spark_sql('t')} AS toks"
    ).collect()
    assert len(rows) == len(EDGE_TEXTS)
    for r in rows:
        t = EDGE_TEXTS[r["id"]]
        assert P.tokens_py(t) == r["toks"], repr(t)


def test_hash_embed_py_parity(spark):
    docs = _edge_docs(spark)
    jvm: dict = {}
    for r in E.embed_postings(docs, "id", "t").collect():
        jvm.setdefault(r["id"], {})[r["dim"]] = r["comp"]
    for i, t in enumerate(EDGE_TEXTS):
        assert E.hash_embed_py(t) == jvm.get(i, {}), repr(t)
    # the cancelling pair is one dim at 0.0, the zero vector's fallback
    assert list(E.hash_embed_py(PAIR).values()) == [0.0]


def _range_embed_query_postings(spark, text: str):
    """The spark.range form embed_query_postings replaced, verbatim."""
    one = spark.range(1).select(F.lit(text).alias("t"))
    return (
        E.embed_postings(one.select(F.lit(0).alias("qid"), "t"), "qid", "t")
        .select("dim", F.col("comp").alias("qcomp"))
    )


def _range_query_terms(spark, text: str):
    """The spark.range form query_terms replaced, with the tokenizer in
    its string form: the text enters as a column, not a SQL literal."""
    return spark.range(1).select(F.lit(text).alias("t")).selectExpr(
        f"explode(array_distinct({P.tokens_spark_sql('t')})) AS term"
    )


def test_query_builders_match_range_forms(spark):
    for t in EDGE_TEXTS:
        new_e = E.embed_query_postings(spark, t)
        old_e = _range_embed_query_postings(spark, t)
        assert new_e.dtypes == old_e.dtypes == [("dim", "int"), ("qcomp", "double")]
        assert sorted(new_e.collect()) == sorted(old_e.collect()), repr(t)
        new_t = bm25.query_terms(spark, t)
        old_t = _range_query_terms(spark, t)
        assert new_t.dtypes == old_t.dtypes == [("term", "string")]
        # same distinct tokens in the same first-occurrence order
        assert new_t.collect() == old_t.collect(), repr(t)


def _jobs(spark, fn) -> list:
    """Spark job ids submitted while ``fn()`` runs, under a job group."""
    sc = spark.sparkContext
    group = f"query-literals-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_query_side_values_run_no_jobs(spark):
    text = "stainless steel bolt 3/8"
    assert _jobs(spark, lambda: E.embed_query_postings(spark, text).collect()) == []
    assert _jobs(spark, lambda: bm25.query_terms(spark, text).collect()) == []
    assert _jobs(spark, lambda: bm25.query_terms(spark, "!!").collect()) == []


def test_read_builders_run_no_jobs(spark):
    """Building a dense read and a warm BM25 read submits no job: the
    query side is collected from a LocalRelation, and the corpus stats
    are memoized per postings plan (one first() per index version).
    Over join-free synthetic indexes, the built plans show that no
    query-side table is broadcast: the dense read joins nothing, and
    the BM25 read broadcasts only its probed (term, df) rows."""
    doc_emb = spark.range(400).selectExpr(
        "id DIV 8 AS id", "CAST(id % 64 AS INT) AS dim", "0.125D AS comp"
    )
    postings = spark.range(400).selectExpr(
        "id",
        "element_at(array('wireless', 'audio', 'cable', 'hex'),"
        " CAST(id % 4 + 1 AS INT)) AS term",
        "id % 3 + 1 AS tf",
        "CAST(id % 5 + 4 AS INT) AS doc_len",
    )
    built = {}

    def dense():
        built["dense"] = E.sparse_cosine_topk(
            doc_emb, E.embed_query_postings(spark, "wireless audio"), 5
        )

    bm25.bm25_score_terms(postings, bm25.query_terms(spark, "warm up"))

    def sparse():
        built["sparse"] = bm25.bm25_score_terms(
            postings, bm25.query_terms(spark, "wireless audio")
        )

    assert _jobs(spark, dense) == []
    assert _jobs(spark, sparse) == []
    assert "BroadcastExchange" not in _plan(built["dense"])
    plan = _plan(built["sparse"])
    assert plan.count("BroadcastExchange") == 1, plan
    assert "NestedLoopJoin" not in plan and "Cartesian" not in plan, plan
    assert built["dense"].count() == 5 and built["sparse"].count() > 0


def test_indexed_lookup_bucket_ids_run_no_jobs(spark, tmp_path):
    """The persisted layout's single-query probe collects its bucket
    ids from a projection of the local term relation, and builds its
    slice from the probed bucket directories alone: neither runs a job,
    though the layout has more bucket directories than Spark lists on
    the driver. The slice holds exactly the probed buckets' rows; a
    probe that hits no written bucket gives the empty slice with the
    layout's schema."""
    n_buckets = bm25.BM25_N_TERM_BUCKETS
    qterms = bm25.query_terms(spark, "wireless audio speaker")
    ids = bm25._term_buckets(qterms, n_buckets)
    assert _jobs(spark, ids.collect) == []
    buckets = sorted(r["b"] for r in ids.collect())
    assert len(buckets) == 3

    docs = spark.range(300).selectExpr(
        "id AS doc_id", "concat('wireless audio speaker w', id, ' t', id % 40) AS text"
    )
    path = str(tmp_path / "postings")
    bm25.write_bm25_indexed(docs, path)
    _, _, schema = bm25._read_bm25_index(spark, path)
    built = {}

    def probe():
        built["slice"] = bm25._probed_postings(spark, path, ids, schema)

    assert _jobs(spark, probe) == []
    want = (
        spark.read.parquet(path)
        .filter(F.col(bm25.TERM_BUCKET_COL).isin(buckets))
        .drop(bm25.TERM_BUCKET_COL)
    )
    assert built["slice"].schema == want.schema
    assert sorted(built["slice"].collect()) == sorted(want.collect())
    assert {r["term"] for r in built["slice"].collect()} >= {
        "wireless", "audio", "speaker"
    }

    one = spark.range(3).selectExpr("id AS doc_id", "'hex' AS text")
    small = str(tmp_path / "one_term")
    bm25.write_bm25_indexed(one, small)
    hex_ids = bm25._term_buckets(bm25.query_terms(spark, "hex"), n_buckets)
    assert hex_ids.first()["b"] not in buckets
    empty = bm25._probed_postings(spark, small, ids, schema)
    assert empty.schema == want.schema
    assert empty.collect() == []
