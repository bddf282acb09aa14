"""Property tests for the round-4 curation operators (chunking,
boilerplate, temperature mixture, semantic dedup) — pipeline invariants
beyond oracle parity (tests/test_registry_oracle.py checks values)."""

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from vector_search_application_spark.functions import portable as P
from vector_search_application_spark.plans import corpus
from vector_search_application_spark.plans import registry_curation as RC
from vector_search_application_spark.plans import registry_dedup as RD
from vector_search_application_spark.plans.constants import (
    CHUNK_STRIDE,
    CHUNK_TOKENS,
)


def test_chunks_reconstruct_documents(spark):
    """Chunk layout invariants: starts step by the stride, every
    non-final chunk is full-width, coverage reaches the last token, and
    de-overlapping the chunks reconstructs each doc's exact token
    sequence (the property that makes chunking lossless)."""
    docs = corpus.docs(spark, SF_SMOKE)
    orig = {
        r.doc_id: r.toks
        for r in docs.select(
            "doc_id", F.expr(P.tokens_spark_sql("text")).alias("toks")
        ).collect()
    }
    rows = RC.q_doc_chunk_windows(spark, SF_SMOKE).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    overlap = CHUNK_TOKENS - CHUNK_STRIDE
    for doc_id, chunks in by_doc.items():
        chunks.sort(key=lambda r: r.chunk_id)
        n = len(orig[doc_id])
        assert chunks[0].start_tok == 0
        for i, c in enumerate(chunks):
            assert c.chunk_id == i
            assert c.start_tok == i * CHUNK_STRIDE
            got = c.chunk_text.split(" ")
            assert len(got) == c.chunk_tokens
            if i < len(chunks) - 1:
                assert c.chunk_tokens == CHUNK_TOKENS
        last = chunks[-1]
        assert last.start_tok + last.chunk_tokens == n
        rebuilt = chunks[0].chunk_text.split(" ")
        for c in chunks[1:]:
            rebuilt += c.chunk_text.split(" ")[overlap:]
        assert rebuilt == orig[doc_id], doc_id
    assert set(by_doc) == set(orig)


def test_boilerplate_finds_seeded_footer(spark):
    """Every even doc carries the seeded per-source footer, whose
    shingles appear in ~half the source's docs — well over the
    detection threshold — so every even doc must flag boilerplate, and
    seeded docs must out-score unseeded ones on average."""
    rows = RC.q_boilerplate_ngrams(spark, SF_SMOKE).collect()
    even = [r for r in rows if r.doc_id % 2 == 0]
    odd = [r for r in rows if r.doc_id % 2 == 1]
    assert even and odd
    assert all(r.n_boiler >= 1 for r in even)
    mean_even = sum(r.boiler_frac for r in even) / len(even)
    mean_odd = sum(r.boiler_frac for r in odd) / len(odd)
    assert mean_even > mean_odd
    assert all(0.0 <= r.boiler_frac <= 1.0 for r in rows)


def test_temperature_mixture_flattens(spark):
    """τ=0.5 weights preserve the domain ordering but compress its
    spread: the smallest/largest weight ratio must exceed the raw
    share ratio (that's what 'temperature flattening' means), the
    largest domain anchors sample_rate at exactly 1.0, and every rate
    stays in (0, 1]."""
    rows = RC.q_temperature_mixture(spark, SF_SMOKE).collect()
    assert len(rows) == 20
    assert all(0.0 < r.sample_rate <= 1.0 for r in rows)
    top = max(rows, key=lambda r: r.n_tokens)
    assert top.sample_rate == 1.0
    by_tokens = sorted(rows, key=lambda r: r.n_tokens)
    weights = [r.temp_weight for r in by_tokens]
    assert weights == sorted(weights)  # order preserved
    share_ratio = by_tokens[0].token_share / by_tokens[-1].token_share
    weight_ratio = by_tokens[0].temp_weight / by_tokens[-1].temp_weight
    assert weight_ratio > share_ratio  # spread compressed


def test_semantic_dedup_catches_planted_copies(spark):
    """The corpus plants 1-component-perturbed copies (cos≈0.999 to
    their originals). Cluster blocking may separate a few pairs — the
    documented recall trade-off — but must catch >=90%, each kept by
    its own original; and the verdict table stays total (one row per
    input vector)."""
    rows = RD.q_semantic_dedup(spark, SF_SMOKE).collect()
    n_vecs = RD.dedup_vectors(spark, SF_SMOKE).count()
    assert len(rows) == n_vecs
    planted = [r for r in rows if r.id >= RD.NEAR_OFFSET]
    assert planted
    caught = [r for r in planted if r.is_duplicate]
    assert len(caught) / len(planted) >= 0.9
    right_rep = [r for r in caught if r.kept_by == r.id - RD.NEAR_OFFSET]
    assert len(right_rep) / len(caught) >= 0.9


def test_semantic_dedup_kmeans_catches_planted_copies(spark):
    """The trained-centroid sibling (MLlib KMeans at the same sqrt
    count) must satisfy the same planted-copy contract as the seeded
    hash query: a perturbed copy at cos≈0.999 lands in its original's
    cluster almost surely (kmeans cells are wider than the ε-ball), so
    >=90% detection with the right representative, and the verdict
    table stays total."""
    rows = RD.q_semantic_dedup_kmeans(spark, SF_SMOKE).collect()
    n_vecs = RD.dedup_vectors(spark, SF_SMOKE).count()
    assert len(rows) == n_vecs
    planted = [r for r in rows if r.id >= RD.NEAR_OFFSET]
    assert planted
    caught = [r for r in planted if r.is_duplicate]
    assert len(caught) / len(planted) >= 0.9
    right_rep = [r for r in caught if r.kept_by == r.id - RD.NEAR_OFFSET]
    assert len(right_rep) / len(caught) >= 0.9


def test_semantic_dedup_incremental_catches_planted_batch(spark):
    """The ingest-time sibling: the arriving batch IS the perturbed
    copies, checked against the indexed base corpus only. Same recall
    contract as the full query (>=90% caught, right representative),
    one verdict row per BATCH point (never per corpus point), and no
    corpus id may appear in the id column."""
    rows = RD.q_semantic_dedup_incremental(spark, SF_SMOKE).collect()
    n_batch = (
        RD.corpus.vectors(spark, SF_SMOKE)
        .filter("vec_id % 10 = 0")
        .count()
    )
    assert len(rows) == n_batch
    assert all(r.id >= RD.NEAR_OFFSET for r in rows)
    caught = [r for r in rows if r.is_duplicate]
    assert len(caught) / len(rows) >= 0.9
    right_rep = [r for r in caught if r.kept_by == r.id - RD.NEAR_OFFSET]
    assert len(right_rep) / len(caught) >= 0.9


def test_source_data_card_counts(spark):
    """Card rows cover every source; counts are internally consistent
    (rates = counts/docs, PII incidence equals the seeded 1-in-10
    contact lines, totals reconcile with the corpus)."""
    rows = RC.q_source_data_card(spark, SF_SMOKE).collect()
    docs = corpus.docs(spark, SF_SMOKE).collect()
    assert len(rows) == len({d.source for d in docs})
    assert sum(r.n_docs for r in rows) == len(docs)
    seeded = {}
    for d in docs:
        if d.doc_id % 10 == 0:
            seeded[d.source] = seeded.get(d.source, 0) + 1
    for r in rows:
        assert 0.0 <= r.dup_rate <= 1.0
        assert 0.0 <= r.quality_pass_rate <= 1.0
        assert r.n_dup_docs < r.n_docs
        assert r.n_pii_docs == seeded.get(r.source, 0)


def test_partition_count_invariance(spark):
    """The determinism claims are partition-count claims: the same
    query at 32 vs 3 shuffle partitions must return identical rows
    (hash splits, rounded-before-compare floats, integer-exact
    aggregation — no unordered float sum may leak into a value).
    Persisted-plan queries are excluded (their cache would span the
    conf change and mask nothing); every build goes through the driver
    contract, which releases the previous build's caches and memos."""
    import __spark_entry__

    names = [
        # retrieval_manifest and boilerplate_ngrams are excluded: their
        # tracked_persist tables would span the conf change
        "epoch_shuffle",
        "temperature_mixture",
        "chunk_embed_pool",
        "source_data_card",
        "mixture_sample",
    ]
    by = __spark_entry__.queries()
    orig = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        at_default = {
            n: sorted(map(tuple, by[n](spark, SF_SMOKE).collect()))
            for n in names
        }
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        at_three = {
            n: sorted(map(tuple, by[n](spark, SF_SMOKE).collect()))
            for n in names
        }
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig)
    for n in names:
        assert at_default[n] == at_three[n], n


def test_bpe_merges_match_python_reference(spark):
    """The declared BPE trainer vs an independent textbook
    implementation (pair counting with overlaps, greedy left-to-right
    merge, freq-then-lexical tie-break) over the same corpus — guards
    the algorithm itself, beyond cross-engine parity."""
    from collections import Counter

    import re

    docs = corpus.docs(spark, SF_SMOKE).select("text").collect()
    words = Counter()
    for r in docs:
        for w in re.split(r"[^a-z0-9]+", r.text.lower()):
            if w:
                words[w] += 1

    state = {w: list(w) for w in words}
    expected = []
    for _ in range(RC.BPE_MERGES):
        freqs = Counter()
        for w, syms in state.items():
            cnt = words[w]
            for i in range(len(syms) - 1):
                freqs[(syms[i], syms[i + 1])] += cnt
        (a, b), f = min(
            freqs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        expected.append((a, b, f))
        for w, syms in state.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            state[w] = out

    got = sorted(
        (r.rank, r.left_sym, r.right_sym, r.freq)
        for r in RC.q_bpe_train_merges(spark, SF_SMOKE).collect()
    )
    want = [(k + 1, a, b, f) for k, (a, b, f) in enumerate(expected)]
    assert got == want


def test_quality_features_expr_parity(spark, text_twins):
    """quality_features_expr (one parsed string instead of ~150 py4j
    calls per plan build) keeps its struct schema and is value-identical
    to the DuckDB twins the oracle uses, on the real corpus and the edge
    rows, including the zero-token and all-punctuation branches."""
    from tests.conftest import quality_twin_pairs
    from vector_search_application_spark.functions import text as T

    assert spark.range(1).selectExpr("'' AS text").select(
        T.quality_features_expr("text")
    ).schema[0].dataType.simpleString() == (
        "array<struct<punct_ratio:double,uniq_ratio:double,quality:double,"
        "n_tokens:int,stopword_ratio:double>>"
    )
    assert text_twins(quality_twin_pairs()) == []


def test_bpe_survives_pairless_vocabulary(spark, tmp_path):
    """A corpus whose words are all single symbols yields NO adjacent
    pairs: the merge loop's empty top-1 table must not annihilate the
    vocabulary state (the bare crossJoin did; the oracle's scalar-
    subquery replace keeps every row)."""
    from vector_search_application_spark.plans.registry_curation import (
        _bpe_train,
    )

    import os

    sf = tmp_path / "pairless_sf"
    os.makedirs(sf)
    spark.sql(
        "SELECT id AS doc_id, 'a b c d e' AS text, 'src' AS source"
        " FROM range(4)"
    ).write.parquet(str(sf / "documents.parquet"))
    merges, state = _bpe_train(spark, str(sf))
    assert merges.count() == 0  # nothing to merge...
    assert state.count() == 5   # ...but the vocab survives every round
