"""The persisted BM25 layout (term-bucketed postings + stamped stats):
semantically invisible vs the in-memory scorer, physically pruned to
the query terms' bucket directories, torn-build-refusing in both
directions — the sparse twin of the IVF serving-layout tests."""

import re

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from vector_search_application_spark.operators import bm25
from vector_search_application_spark.plans import corpus
from vector_search_application_spark.plans.constants import K, QUERY_TEXT

BM25_BATCH_NQ = 5


def test_bm25_indexed_matches_cold_and_prunes(spark, tmp_path):
    """The layout must (a) answer identically to bm25_topk (persisted
    corpus stats, not slice stats — a wrong avgdl would shift every
    score) and (b) carry the query terms' bucket ids as a constant
    partition filter so non-matching bucket directories are pruned
    before file I/O."""
    docs = corpus.docs(spark, SF_SMOKE)
    path = str(tmp_path / "postings")
    bm25.write_bm25_indexed(docs, path)

    want = [
        (r["id"], r["score"])
        for r in bm25.bm25_topk(docs, QUERY_TEXT, K).collect()
    ]
    got_df = bm25.bm25_indexed_topk(spark, path, QUERY_TEXT, K)
    assert [(r["id"], r["score"]) for r in got_df.collect()] == want

    plan = got_df._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[__tbucket#\d+L? (IN|INSET) ", plan)
    assert m, f"no constant term-bucket partition filter: {plan[:400]}"


def test_bm25_indexed_batch_matches_cold(spark, tmp_path):
    """The batched lookup equals bm25_topk_batch row-for-row and prunes
    to the UNION of the batch's term buckets."""
    docs = corpus.docs(spark, SF_SMOKE)
    path = str(tmp_path / "postings")
    bm25.write_bm25_indexed(docs, path)
    queries = docs.filter(F.col("doc_id") < BM25_BATCH_NQ).select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("qtext")
    )

    from vector_search_application_spark.operators import topk

    postings = bm25.build_postings(docs)
    want = sorted(
        (r["query_id"], r["id"], r["score"])
        for r in topk.topk_per_group(
            bm25.bm25_score_terms_batch(
                postings, bm25.query_terms_batch(queries)
            ),
            "query_id",
            K,
            id_col="id",
        ).collect()
    )
    got_df = bm25.bm25_indexed_topk_batch(spark, path, queries, K)
    got = sorted(
        (r["query_id"], r["id"], r["score"]) for r in got_df.collect()
    )
    assert got == want
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[__tbucket#\d+L? (IN|INSET) ", plan)
    assert m, f"no constant term-bucket partition filter: {plan[:400]}"


def test_bm25_indexed_torn_build_refuses(spark, tmp_path):
    """Same torn-build contract as the IVF layouts, both directions: a
    stale stats stamp refuses, and an UNSTAMPED stats row beside a
    stamped layout refuses (a rebuild died between the writes); only a
    fully pre-stamp pair passes unverified."""
    import pytest

    from vector_search_application_spark.sources import layout as L

    docs = corpus.docs(spark, SF_SMOKE)
    path = str(tmp_path / "postings")
    bm25.write_bm25_indexed(docs, path)
    assert bm25.bm25_indexed_topk(spark, path, QUERY_TEXT, K).count() == K

    # direction 1: stamp mismatch (rebuild died between meta and stats)
    L.write_json_meta(
        spark, path, bm25.BM25_BUILD_META,
        {"build_id": "stale", "n_buckets": bm25.BM25_N_TERM_BUCKETS},
    )
    with pytest.raises(ValueError, match="torn"):
        bm25.bm25_indexed_topk(spark, path, QUERY_TEXT, K)

    # direction 2: unstamped stats beside a stamped layout
    spath = bm25.bm25_stats_path(path)
    unstamped = spark.read.parquet(spath).drop("build_id")
    unstamped.localCheckpoint(eager=True).write.mode("overwrite").parquet(
        spath
    )
    with pytest.raises(ValueError, match="unstamped"):
        bm25.bm25_indexed_topk(spark, path, QUERY_TEXT, K)

    # fully pre-stamp (no meta either): the only unverified pass-through
    fs, _, jvm = L._fs(spark, path)
    fs.delete(
        jvm.org.apache.hadoop.fs.Path(
            path.rstrip("/") + "/" + bm25.BM25_BUILD_META
        ),
        False,
    )
    assert bm25.bm25_indexed_topk(spark, path, QUERY_TEXT, K).count() == K


def test_bm25_indexed_collects_only_bucket_ids():
    """The layout lookup never collects postings rows: the one collect
    in _probed_postings is the bucket-id set (bounded ints, the
    probe_cells_tbl pattern); the batch deduplicates its ids on the
    executors first, while the single query projects its local term
    relation (no job, pinned in tests/test_query_literals.py). Pinned
    at the source like the IVF guard."""
    import inspect

    for fn in (
        bm25.write_bm25_indexed,
        bm25.bm25_indexed_topk,
        bm25.bm25_indexed_topk_batch,
        bm25._read_bm25_index,
    ):
        assert ".collect()" not in inspect.getsource(fn), fn.__name__
    src = " ".join(inspect.getsource(bm25._probed_postings).split())
    assert src.count(".collect()") == 1
    assert "bucket_ids.collect()" in src
    batch = " ".join(inspect.getsource(bm25.bm25_indexed_topk_batch).split())
    assert "_term_buckets(qterms, n_buckets).distinct()" in batch


def test_indexed_lookup_reads_stats_without_inference(spark, tmp_path):
    """Building the layout lookup runs one job, the stats row's
    ``first()``: the row is read under its known schema, so no
    footer-reading schema-inference job runs before it, and the
    postings slice is read under the schema the build meta stores."""
    from tests.test_query_literals import _jobs

    docs = corpus.docs(spark, SF_SMOKE)
    path = str(tmp_path / "postings")
    bm25.write_bm25_indexed(docs, path)
    assert len(_jobs(spark, lambda: bm25._read_bm25_index(spark, path))) == 1
    assert len(_jobs(spark, lambda: bm25.bm25_indexed_topk(spark, path, QUERY_TEXT, K))) == 1
