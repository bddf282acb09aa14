"""Property tests for the training-data curation operators — the
invariants that make them usable in a pipeline, beyond oracle parity
(tests/test_registry_oracle.py checks value equality)."""

import hashlib

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from vector_search_application_spark.plans import registry_pipeline as RP
from vector_search_application_spark.plans import corpus


def test_split_is_total_stable_and_ratioed(spark):
    """Every doc gets exactly one split; assignment is a pure function
    of doc_id (two runs agree row-for-row); ratios land near 80/10/10."""
    a = {r.doc_id: r.split for r in RP.q_dataset_split(spark, SF_SMOKE).collect()}
    b = {r.doc_id: r.split for r in RP.q_dataset_split(spark, SF_SMOKE).collect()}
    assert a == b
    n_docs = corpus.docs(spark, SF_SMOKE).count()
    assert len(a) == n_docs
    from collections import Counter

    frac = {k: v / n_docs for k, v in Counter(a.values()).items()}
    assert 0.70 <= frac["train"] <= 0.90
    assert 0.04 <= frac["val"] <= 0.16
    assert 0.04 <= frac["test"] <= 0.16


def test_split_survives_corpus_growth(spark):
    """Hash splits are per-row: restricting the corpus to a subset must
    not change any surviving doc's assignment (rand()/sort-based splits
    break exactly this)."""
    full = {r.doc_id: r.split for r in RP.q_dataset_split(spark, SF_SMOKE).collect()}
    docs = corpus.docs(spark, SF_SMOKE).filter(F.col("doc_id") < 100)
    b = RP._bucket_col()
    sub = {
        r.doc_id: r.split
        for r in docs.select(
            "doc_id",
            F.when(b < RP.TRAIN_CUT, "train")
            .when(b < RP.VAL_CUT, "val")
            .otherwise("test")
            .alias("split"),
        ).collect()
    }
    assert sub == {k: v for k, v in full.items() if k < 100}


def test_sample_is_subset_composable(spark):
    """A lower-rate sample under the same seed is a strict subset of a
    higher-rate one — the property that lets a pipeline dial a sample
    up without resampling from scratch."""
    docs = corpus.docs(spark, SF_SMOKE)
    from vector_search_application_spark.functions import portable as P

    bucket = P.md5_long(F.col("doc_id").cast("string"), RP.SAMPLE_SEED) % 100
    s5 = {r.doc_id for r in docs.filter(bucket < 5).select("doc_id").collect()}
    s20 = {r.doc_id for r in RP.q_deterministic_sample(spark, SF_SMOKE).collect()}
    assert s5 <= s20
    assert len(s20) < docs.count()


def test_sequence_pack_layout_invariants(spark):
    """Packs are dense and ordered within every shard: offsets are the
    exclusive running sum over the shard's docs in id order, every pack
    boundary falls at a multiple of the budget, and a doc longer than
    the budget still gets exactly one slot (spanning packs) rather than
    being dropped. Shards are a deterministic hash of doc_id, so the
    layout is reproducible across runs and partitionings."""
    rows = RP.q_sequence_pack(spark, SF_SMOKE).collect()
    by_shard = {}
    for r in rows:
        assert r.pack_shard == (
            int(
                hashlib.md5(f"{RP.PACK_SEED}|{r.doc_id}".encode()).hexdigest()[:15],
                16,
            )
            % RP.PACK_SHARDS
        )
        by_shard.setdefault(r.pack_shard, []).append(r)
    assert len(by_shard) > 1  # fixture corpus spreads across shards
    for shard_rows in by_shard.values():
        shard_rows.sort(key=lambda r: r.doc_id)
        cum = 0
        for r in shard_rows:
            assert r.pack_id == cum // RP.PACK_BUDGET
            assert r.pack_offset == cum % RP.PACK_BUDGET
            cum += r.n_tokens
    # fixture corpus spans multiple packs in at least one shard
    assert max(r.pack_id for r in rows) >= 1


def test_pii_scrub_redacts_seeded_emails(spark):
    """Seeded docs report >=1 email and a redacted body; unseeded docs
    pass through byte-identical."""
    out = {r.doc_id: r for r in RP.q_text_pii_scrub(spark, SF_SMOKE).collect()}
    original = {
        r.doc_id: r.text for r in corpus.docs(spark, SF_SMOKE).collect()
    }
    # coverage first: a scrub that DROPS seeded docs (instead of
    # scrubbing them) must not pass by vanishing from the loop
    assert set(out) == set(original)
    for doc_id, r in out.items():
        if doc_id % 10 == 0:
            assert r.n_emails >= 1
            assert "<EMAIL>" in r.scrubbed
            assert "@example.com" not in r.scrubbed
        else:
            assert r.scrubbed == original[doc_id]


def test_vocab_topn_plans_and_values(spark):
    """The vocabulary head is deterministic and its plan aggregates
    before the shuffle (partial_count present) — the map-side combine
    that makes the term count scale."""
    df = RP.q_vocab_topn(spark, SF_SMOKE)
    rows = [(r.term, r.doc_freq) for r in df.collect()]
    assert rows == sorted(rows, key=lambda t: (-t[1], t[0]))
    assert len(rows) <= RP.VOCAB_TOP_N
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "partial_count" in plan


def test_decontaminate_flags_only_test_split_docs(spark):
    """Every reported eval doc is in the test split, thresholds hold,
    and the report is deterministic across runs."""
    split = {r.doc_id: r.split for r in RP.q_dataset_split(spark, SF_SMOKE).collect()}
    a = sorted(map(tuple, RP.q_benchmark_decontaminate(spark, SF_SMOKE).collect()))
    b = sorted(map(tuple, RP.q_benchmark_decontaminate(spark, SF_SMOKE).collect()))
    assert a == b
    assert a, "decontamination report must flag the seeded overlaps"
    for eval_id, n_train, max_shared, total_shared in a:
        assert split[eval_id] == "test"
        assert max_shared >= RP.DECON_MIN_OVERLAP
        assert total_shared >= max_shared and n_train >= 1


def test_quality_funnel_partitions_corpus(spark):
    """Funnel counts sum to the corpus size (first-failing-rule CASE is
    total) and every verdict label is from the fixed set."""
    rows = {r.verdict: r.n_docs for r in RP.q_quality_filter_funnel(spark, SF_SMOKE).collect()}
    assert set(rows) <= {"keep", "drop_too_short", "drop_non_english", "drop_low_quality"}
    assert sum(rows.values()) == corpus.docs(spark, SF_SMOKE).count()
    assert rows.get("keep", 0) > 0


def test_repetition_signals_on_constructed_docs(spark):
    """Known-answer checks: a fully repetitive doc scores 1.0 on both
    signals, an all-distinct doc scores near-zero, and docs shorter
    than the gram size score 0.0 (the sequence(1,0)-descends trap)."""
    from vector_search_application_spark.functions import text as T

    rows = [
        (1, "ab ab ab ab ab ab"),          # one repeated 2-gram
        (2, "a b c d e f g h"),            # all 2-grams distinct
        (3, "one"),                        # below gram size
        (4, ""),                           # empty
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {
        r["doc_id"]: (r["rf"]["top_2gram_ratio"], r["rf"]["dup_3gram_ratio"])
        for r in df.select(
            "doc_id", F.explode(T.repetition_features_expr("text")).alias("rf")
        ).collect()
    }
    assert out[1] == (1.0, 1.0)
    assert out[2][0] <= 1.0 / 7 + 1e-9 and out[2][1] == 0.0
    assert out[3] == (0.0, 0.0)
    assert out[4] == (0.0, 0.0)


def test_repetition_features_matches_single_signal_fns(text_twins):
    """The fused regex pipeline repetition_features_expr (hashed gram
    ids, sorted-array flag folds) must stay value-identical to the
    DuckDB single-signal twins top_ngram_ratio_sql /
    dup_ngram_ratio_sql, which count true '_'-joined string grams,
    over the real corpus docs AND the edge shapes — the two
    formulations share no gram-extraction code, so this is a real
    cross-check."""
    from tests.conftest import repetition_twin_pairs

    assert text_twins(repetition_twin_pairs()) == []


def test_domain_mix_weights_sum_to_target(spark):
    """Token shares sum to ~1 and weighted token mass per source is
    equal across sources (that is what 'uniform weight' means)."""
    out = RP.q_domain_mix_weights(spark, SF_SMOKE).collect()
    assert abs(sum(r["token_share"] for r in out) - 1.0) < 1e-6
    masses = [r["uniform_weight"] * r["n_tokens"] for r in out]
    assert max(masses) - min(masses) < 1e-3 * max(masses)


def test_training_manifest_composition_invariants(spark):
    """The capstone plan's output must be consistent with its stages
    run separately: every manifest doc passed the funnel keep rules, is
    its own exact-dedup canonical, carries its hash-split assignment,
    and packs contiguously within each split."""
    out = RP.q_training_manifest(spark, SF_SMOKE).collect()
    from vector_search_application_spark.functions import text as T

    docs = corpus.docs(spark, SF_SMOKE)
    feat = docs.select(
        "doc_id", "text", F.explode(T.quality_features_expr("text")).alias("qf")
    )
    keep_ids = {
        r["doc_id"]
        for r in feat.filter(
            (F.col("qf.n_tokens") >= RP.MIN_TOKENS)
            & (F.col("qf.stopword_ratio") >= RP.MIN_STOPWORD)
            & (F.col("qf.quality") >= RP.MIN_QUALITY)
        ).collect()
    }
    canon_ids = {
        r["canonical_id"]
        for r in (
            docs.filter(F.col("doc_id").isin(list(keep_ids)))
            .groupBy(F.sha2(F.col("text"), 256).alias("h"))
            .agg(F.min("doc_id").alias("canonical_id"))
            .collect()
        )
    }
    manifest_ids = [r["doc_id"] for r in out]
    # the docstring's two other promises, previously unchecked: every
    # manifest doc passed the funnel keep rules AND is its own
    # exact-dedup canonical (exactly the kept canonicals, once each)
    assert sorted(manifest_ids) == sorted(canon_ids)
    split_of = {
        r["doc_id"]: r["split"]
        for r in RP.q_dataset_split(spark, SF_SMOKE).collect()
    }
    by_split = {}
    for r in out:
        assert split_of[r["doc_id"]] == r["split"]
        by_split.setdefault(r["split"], []).append(r)
    assert set(by_split) == {"train", "val", "test"}
    for rows in by_split.values():
        rows.sort(key=lambda r: r["doc_id"])
        cum = 0
        for r in rows:
            assert r["pack_id"] == cum // RP.PACK_BUDGET
            assert r["pack_offset"] == cum % RP.PACK_BUDGET
            cum += r["n_tokens"]
