"""ANN paths are approximations: measure recall against the exact
brute-force operator (never golden-match an approximation, SURVEY.md §7)."""

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from vector_search_application_spark.functions import portable as P
from vector_search_application_spark.operators import ann, topk
from vector_search_application_spark.plans import corpus
from vector_search_application_spark.plans.constants import K, QUERY_VEC_ID


def _exact_ids(spark, sf_dir, k):
    vecs = corpus.vectors(spark, sf_dir)
    q = corpus.query_vector(spark, sf_dir, QUERY_VEC_ID)
    rows = topk.topk(topk.score_against_query(vecs, q), k).collect()
    return {r.vec_id for r in rows}


def _exact_ids_for(spark, vecs, qid, k):
    q = corpus.query_vector(spark, SF_SMOKE, qid)
    rows = topk.topk(topk.score_against_query(vecs, q), k).collect()
    return {r.vec_id for r in rows}


# SURVEY §7 aims for recall ~0.95 on clusterable real embeddings; the
# synthetic fixture vectors are near-uniform in 64-dim space (no cluster
# structure), capping expected recall below that. Under the r10
# corpus-scaled schedule (C = max(8, ceil(sqrt(n))) cells, P = max(2,
# ceil(log2(C))) probes — 5 of 23 at this 500-vector smoke SF) measured
# recall over 10 queries: IVF mean 0.92/min 0.8, IVF-PQ 0.82/0.7,
# trained-kmeans 0.64/0.4 — all HIGHER than the old frozen 2-of-8
# config despite a smaller scan fraction, because narrower cells
# concentrate true neighbors. Thresholds sit just under the measured
# distributions so a real regression trips them while fixture noise
# does not.
RECALL_QUERY_IDS = list(range(10))


def test_ivf_recall(spark):
    vecs = corpus.vectors(spark, SF_SMOKE)
    recalls = []
    for qid in RECALL_QUERY_IDS:
        exact = _exact_ids_for(spark, vecs, qid, K)
        q = corpus.query_vector(spark, SF_SMOKE, qid)
        got = {r.id for r in ann.ivf_topk(vecs, q).collect()}
        assert qid in got  # the query vector itself must be found
        recalls.append(len(got & exact) / K)
    mean = sum(recalls) / len(recalls)
    assert mean >= 0.8, f"IVF mean recall@{K} regressed: {mean} ({recalls})"
    assert min(recalls) >= 0.6, f"IVF worst-query recall collapsed: {recalls}"


def test_pq_recall(spark):
    """PQ ADC + 4x-oversampled exact rescore vs brute force. 16
    codewords over near-uniform 64-d fixture vectors measured mean
    0.71 / min 0.5 over 10 queries — the same profile as IVF on this
    clusterless corpus; thresholds sit just under that so a real
    regression (codes drifting, LUT misindexed) trips them."""
    vecs = corpus.vectors(spark, SF_SMOKE)
    recalls = []
    for qid in RECALL_QUERY_IDS:
        exact = _exact_ids_for(spark, vecs, qid, K)
        q = corpus.query_vector(spark, SF_SMOKE, qid)
        got = {r.vec_id for r in ann.pq_topk(vecs, q).collect()}
        assert qid in got  # the query vector itself must be found
        recalls.append(len(got & exact) / K)
    mean = sum(recalls) / len(recalls)
    assert mean >= 0.6, f"PQ mean recall@{K} regressed: {mean} ({recalls})"
    assert min(recalls) >= 0.3, f"PQ worst-query recall collapsed: {recalls}"


def test_ivfpq_recall(spark):
    """The stacked IVF->PQ->rescore funnel vs brute force: measured
    mean 0.82 / min 0.7 over 10 queries under the scheduled 5-of-23
    probe (the PQ quantization error is now the binding constraint,
    not the cell prune); thresholds just under."""
    vecs = corpus.vectors(spark, SF_SMOKE)
    recalls = []
    for qid in RECALL_QUERY_IDS:
        exact = _exact_ids_for(spark, vecs, qid, K)
        q = corpus.query_vector(spark, SF_SMOKE, qid)
        got = {r.vec_id for r in ann.ivfpq_topk(vecs, q).collect()}
        assert qid in got
        recalls.append(len(got & exact) / K)
    mean = sum(recalls) / len(recalls)
    assert mean >= 0.7, f"IVF-PQ mean recall@{K} regressed: {mean} ({recalls})"
    assert min(recalls) >= 0.5, f"IVF-PQ worst-query recall collapsed: {recalls}"


def test_pq_kmeans_recall(spark):
    """Trained-codebook PQ (MLlib KMeans per subspace) vs brute force:
    measured mean 0.67 / min 0.3 over 10 queries — on the clusterless
    fixture trained centers do no better than the fixed-seed codebook,
    as expected; thresholds just under so a build regression (wrong
    subspace slicing, code/LUT misalignment) trips them."""
    vecs = corpus.vectors(spark, SF_SMOKE)
    recalls = []
    for qid in RECALL_QUERY_IDS:
        exact = _exact_ids_for(spark, vecs, qid, K)
        q = corpus.query_vector(spark, SF_SMOKE, qid)
        got = {r.vec_id for r in ann.pq_kmeans_topk(spark, vecs, q).collect()}
        recalls.append(len(got & exact) / K)
    mean = sum(recalls) / len(recalls)
    assert mean >= 0.55, f"trained-PQ mean recall@{K} regressed: {mean} ({recalls})"
    assert min(recalls) >= 0.2, f"trained-PQ worst-query recall collapsed: {recalls}"


def test_pq_codes_shape(spark):
    """Every vector gets exactly PQ_SUBSPACES codes, each a valid
    codeword id, and each codebook vector codes to ITSELF in every
    subspace (distance 0 beats everything under the <= tie-break)."""
    from vector_search_application_spark.plans.constants import (
        PQ_CODEWORDS,
        PQ_SUBSPACES,
    )

    vecs = corpus.vectors(spark, SF_SMOKE)
    cb = ann.pq_codebook(vecs)
    codes = {r.vec_id: r.codes for r in ann.pq_codes(vecs, cb).collect()}
    assert len(codes) == vecs.count()
    for vid, cs in codes.items():
        assert len(cs) == PQ_SUBSPACES
        assert all(0 <= c < PQ_CODEWORDS for c in cs)
    for j in range(PQ_CODEWORDS):
        assert codes[j] == [j] * PQ_SUBSPACES, j


def test_mllib_lsh_recall(spark):
    vecs = corpus.vectors(spark, SF_SMOKE)
    model, vec = ann.mllib_lsh_index(vecs)
    recalls = []
    for qid in RECALL_QUERY_IDS:
        exact = _exact_ids_for(spark, vecs, qid, K)
        key = vec.filter(F.col("id") == qid).first()["features"]
        got = {r.id for r in model.approxNearestNeighbors(vec, key, K).collect()}
        # Euclidean-LSH top-k vs cosine top-k on unnormalized vectors
        # won't fully agree; require the self-match + strong overlap
        assert qid in got
        recalls.append(len(got & exact) / K)
    mean = sum(recalls) / len(recalls)
    assert mean >= 0.85, f"LSH mean recall@{K} regressed: {mean} ({recalls})"
    assert min(recalls) >= 0.6, f"LSH worst-query recall collapsed: {recalls}"


def test_banded_lsh_pair_recall_beats_single_table(spark):
    """The banded-LSH claim from SCALING_DEDUP.md, held to brute
    force: against the EXACT set of cosine>=0.95 pairs, the 8x16-bit
    banded blocking must (a) return only true pairs (verification is
    exact cosine), (b) recall at least as many pairs as the old single
    8-plane table, and (c) clear an absolute floor well under the
    analytic ~0.8 so fixture noise cannot trip it."""
    from vector_search_application_spark.plans.constants import (
        NEARDUP_COSINE_THRESHOLD,
    )
    from vector_search_application_spark.plans.registry_dedup import (
        dedup_vectors,
    )

    vecs = dedup_vectors(spark, SF_SMOKE)
    a = vecs.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = vecs.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    exact = {
        (r.id_a, r.id_b)
        for r in a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            P.rounded(F.expr(P.cosine_spark_sql("va", "vb"))).alias("cos"),
        )
        .filter(F.col("cos") >= NEARDUP_COSINE_THRESHOLD)
        .collect()
    }
    assert exact, "fixture must contain at least one true near-dup pair"
    banded = {
        (r.id_a, r.id_b)
        for r in ann.lsh_neardup_pairs(vecs, NEARDUP_COSINE_THRESHOLD).collect()
    }
    single = {
        (r.id_a, r.id_b)
        for r in ann.lsh_neardup_pairs(
            vecs, NEARDUP_COSINE_THRESHOLD, n_bands=1, band_planes=8
        ).collect()
    }
    assert banded <= exact  # exact-cosine verification: no false pairs
    assert single <= exact
    recall_banded = len(banded) / len(exact)
    recall_single = len(single) / len(exact)
    assert recall_banded >= recall_single, (recall_banded, recall_single)
    assert recall_banded >= 0.6, f"banded recall collapsed: {recall_banded}"


def test_suggested_band_planes_tracks_log_n():
    """The band-width knob holds bucket occupancy ~constant: doubling
    the corpus adds one bit; tiny corpora floor at 8 bits."""
    assert ann.suggested_band_planes(0) == 8
    assert ann.suggested_band_planes(1_000) == 8
    assert ann.suggested_band_planes(2**16 * 4) == 16  # 262144 rows / occ 4
    assert (
        ann.suggested_band_planes(2**17 * 4)
        == ann.suggested_band_planes(2**16 * 4) + 1
    )
    assert ann.suggested_band_planes(10**9) == 28


def test_hyperplane_bucket_stability(spark):
    """Same vector -> same bucket (deterministic hyperplanes)."""
    vecs = corpus.vectors(spark, SF_SMOKE)
    b1 = {r.id: r.bucket for r in ann.hyperplane_buckets(vecs).collect()}
    b2 = {r.id: r.bucket for r in ann.hyperplane_buckets(vecs).collect()}
    assert b1 == b2
    assert len(set(b1.values())) > 1  # buckets actually spread


def test_python_plane_weights_match_engine_derivation(spark):
    """The per-row bucket expression embeds _py_plane_weights as plan
    literals; they must equal the engine-side md5 derivation
    (plane_weights) bit-for-bit or buckets silently drift."""
    got = {
        (r["plane"], r["d"]): r["w"]
        for r in ann.plane_weights(spark, n_planes=4, dim=8).collect()
    }
    py = ann._py_plane_weights(4, 8)
    assert len(got) == 4 * 8  # empty/partial weight table must not pass
    for (p, d), w in got.items():
        assert py[p][d - 1] == w


def test_hyperplane_bucket_rejects_wrong_dim(spark):
    """A dim mismatch must raise, not silently collapse every vector
    into bucket 0 (zip_with null-pads short arrays)."""
    import pytest

    bad = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(Exception, match="hyperplane bucket expects dim 64"):
        ann.hyperplane_buckets(bad).collect()


def test_ivf_batch_matches_single_query(spark):
    """For any one query, the batched IVF plan must return exactly the
    single-query ivf_topk rows (same probe list, same candidate set,
    same tie-breaks)."""
    vecs = corpus.vectors(spark, SF_SMOKE)
    q = corpus.query_vector(spark, SF_SMOKE, QUERY_VEC_ID)
    single = [
        (r["id"], r["score"]) for r in ann.ivf_topk(vecs, q).collect()
    ]
    qids = sorted({QUERY_VEC_ID, 1, 2})  # distinct ids even if QUERY_VEC_ID is 0/1
    queries = vecs.filter(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    batch = ann.ivf_topk_batch(vecs, queries)
    got = [
        (r["id"], r["score"])
        for r in batch.filter(F.col("query_id") == QUERY_VEC_ID)
        .orderBy(F.desc("score"), F.asc("id"))
        .collect()
    ]
    assert got == single
    # each query in the batch yields exactly K rows on this corpus
    counts = {r["query_id"]: r["count"] for r in batch.groupBy("query_id").count().collect()}
    assert set(counts) == set(qids)
    assert all(c == K for c in counts.values())


def test_ivf_indexed_layout_prunes_cells(spark, tmp_path):
    """The IVF partitioned layout must (a) answer identically to the
    in-memory ivf_topk and (b) carry a constant cell partition filter
    so unprobed cell directories are pruned before file I/O."""
    import re

    vecs = corpus.vectors(spark, SF_SMOKE)
    n_cents, _ = ann.ivf_schedule(vecs)
    cents = [
        (r["vec_id"], list(r["embedding"]))
        for r in vecs.filter(F.col("vec_id") < n_cents).collect()
    ]
    path = str(tmp_path / "ivf")
    ann.write_ivf_indexed(vecs, path)  # default = the same schedule
    q = corpus.query_vector(spark, SF_SMOKE, QUERY_VEC_ID)

    indexed = ann.ivf_indexed_topk(spark, path, q, cents)
    want = [(r["id"], r["score"]) for r in ann.ivf_topk(vecs, q).collect()]
    assert [(r["id"], r["score"]) for r in indexed.collect()] == want

    plan = indexed._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[cell#\d+L? IN \(", plan), (
        f"no constant cell partition filter: {plan[:400]}"
    )


def test_ivf_indexed_batch_matches_cold_batch_and_prunes(spark, tmp_path):
    """The batched warm lookup over the persisted layout must return
    exactly the cold ivf_topk_batch rows (layout semantically
    invisible) and carry the union-of-probed-cells literal as a
    partition filter so unprobed cell directories are never read."""
    import re

    vecs = corpus.vectors(spark, SF_SMOKE)
    path = str(tmp_path / "ivf")
    ann.write_ivf_indexed(vecs, path)
    qids = [QUERY_VEC_ID, 1, 2]
    queries = vecs.filter(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    want = sorted(
        (r["query_id"], r["id"], r["score"])
        for r in ann.ivf_topk_batch(vecs, queries).collect()
    )
    got_df = ann.ivf_indexed_topk_batch(spark, path, queries)
    got = sorted(
        (r["query_id"], r["id"], r["score"]) for r in got_df.collect()
    )
    assert got == want
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    # > 10 literals renders as INSET instead of IN
    m = re.search(r"PartitionFilters: \[cell#\d+L? (IN|INSET) ", plan)
    assert m, f"no constant cell partition filter: {plan[:400]}"


def test_ivfpq_indexed_layout_matches_cold_and_prunes(spark, tmp_path):
    """The IVF-PQ serving layout must (a) answer identically to the
    in-memory ivfpq_topk, (b) prune unprobed cell directories with a
    constant partition filter, and (c) read ONLY the codes column in
    the ADC scan — the full vectors stay on disk until the rescore
    (parquet column pruning is the other half of the 100 TB win)."""
    import re

    vecs = corpus.vectors(spark, SF_SMOKE)
    path = str(tmp_path / "ivfpq")
    ann.write_ivfpq_indexed(vecs, path)
    q = corpus.query_vector(spark, SF_SMOKE, QUERY_VEC_ID)

    indexed = ann.ivfpq_indexed_topk(spark, path, q)
    want = [(r["vec_id"], r["score"]) for r in ann.ivfpq_topk(vecs, q).collect()]
    assert [(r["vec_id"], r["score"]) for r in indexed.collect()] == want

    plan = indexed._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[cell#\d+L? IN \(", plan), (
        f"no constant cell partition filter: {plan[:400]}"
    )
    # at least one scan of the layout reads codes WITHOUT the vector
    # column (the ADC scan); the rescore scan reads id+v without codes
    schemas = re.findall(r"ReadSchema: struct<([^>]*)", plan)
    assert any("codes" in s and "v:" not in s for s in schemas), schemas
    assert any("v:" in s and "codes" not in s for s in schemas), schemas
    # and the at-rest codes are BYTES (array<tinyint>), not bigints —
    # the PQ_SUBSPACES-byte representation the serving claim is about
    assert any("codes:array<tinyint" in s for s in schemas), schemas


def test_ivfpq_indexed_batch_matches_cold_and_prunes(spark, tmp_path):
    """The batched warm IVF-PQ lookup (r12 VERDICT task 4) must return
    exactly the cold per-query ivfpq_topk rows (layout semantically
    invisible, batching an implementation detail), prune to the union
    of probed cells as a literal partition filter, and keep the ADC
    scan column-pruned to codes (vectors read only for the rescore)."""
    import re

    vecs = corpus.vectors(spark, SF_SMOKE)
    path = str(tmp_path / "ivfpq")
    ann.write_ivfpq_indexed(vecs, path)
    qids = [QUERY_VEC_ID, 1, 2]
    queries = vecs.filter(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    want = sorted(
        (qid, r["vec_id"], r["score"])
        for qid in qids
        for r in ann.ivfpq_topk(
            vecs,
            vecs.filter(F.col("vec_id") == qid).select(
                F.col("embedding").alias("qvec")
            ),
        ).collect()
    )
    got_df = ann.ivfpq_indexed_topk_batch(spark, path, queries)
    got = sorted(
        (r["query_id"], r["vec_id"], r["score"]) for r in got_df.collect()
    )
    assert got == want
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[cell#\d+L? (IN|INSET) ", plan)
    assert m, f"no constant cell partition filter: {plan[:400]}"
    schemas = re.findall(r"ReadSchema: struct<([^>]*)", plan)
    assert any("codes" in s and "v:" not in s for s in schemas), schemas
    assert any("v:" in s and "codes" not in s for s in schemas), schemas


def test_ivfpq_indexed_torn_build_refuses(spark, tmp_path):
    """Same torn-build contract as the IVF layout: a stale build stamp
    must refuse instead of ADC-ranking against mismatched cells."""
    import pytest

    from vector_search_application_spark.sources import layout as L

    vecs = corpus.vectors(spark, SF_SMOKE)
    path = str(tmp_path / "ivfpq")
    ann.write_ivfpq_indexed(vecs, path)
    q = corpus.query_vector(spark, SF_SMOKE, QUERY_VEC_ID)
    assert ann.ivfpq_indexed_topk(spark, path, q).count() == K

    L.write_json_meta(spark, path, ann.IVF_BUILD_META, {"build_id": "stale"})
    with pytest.raises(ValueError, match="torn"):
        ann.ivfpq_indexed_topk(spark, path, q)


def test_ivf_kmeans_trained_recall(spark):
    """Trained-centroid IVF (MLlib KMeans index build): measured mean
    recall 0.64 / min 0.4 over 10 queries on the fixture under the
    scheduled count (23 trained cells at this SF). Lower than
    first-N-centroid IVF (0.92) BECAUSE the fixture vectors are
    near-uniform: k-means converges toward interior means with flat
    cosine scores, while actual corpus vectors on the shell discriminate
    better. On clustered real embeddings the ordering flips — which is
    why production IVF trains centroids. Floors sit under the measured
    distribution to catch regressions, not to rank the two methods."""
    from vector_search_application_spark.plans.constants import ivf_n_centroids

    vecs = corpus.vectors(spark, SF_SMOKE)
    cents = ann.kmeans_centroids(vecs)
    want_c = ivf_n_centroids(vecs.count())
    assert len(cents) == want_c and all(len(v) == 64 for _, v in cents)
    recalls = []
    for qid in RECALL_QUERY_IDS:
        exact = _exact_ids_for(spark, vecs, qid, K)
        q = corpus.query_vector(spark, SF_SMOKE, qid)
        got = {r.id for r in ann.ivf_topk_trained(vecs, q, cents).collect()}
        recalls.append(len(got & exact) / K)
    mean = sum(recalls) / len(recalls)
    assert mean >= 0.4, f"trained-IVF mean recall regressed: {mean} ({recalls})"
    assert min(recalls) >= 0.2, f"trained-IVF worst query collapsed: {recalls}"


def test_banded_lsh_boundary_recall(spark):
    """OR-amplification guarantee AT the 0.95 threshold (r7 VERDICT
    task 2): for pairs sitting just above the threshold (cosine
    0.951), per-band collision is p^16 ~ 0.186 (p = 1 - theta/pi), so
    8 bands give ~0.81 expected recall while 16 bands give ~0.96.
    The fixture pairs are built at cosine exactly ~0.951 via an
    orthogonal-rotation construction; the floor (0.85) sits ~5 sigma
    above the 8-band expectation and ~8 sigma below... i.e. the test
    FAILS on an 8-band config and passes with margin at 16 bands."""
    import numpy as np

    from vector_search_application_spark.plans.constants import (
        LSH_BANDS,
        NEARDUP_COSINE_THRESHOLD,
    )

    assert LSH_BANDS >= 16  # the config this guarantee is computed for

    rng = np.random.default_rng(8)
    n, dim, target_cos = 300, 64, 0.951
    rows = []
    for i in range(n):
        u = rng.standard_normal(dim)
        u /= np.linalg.norm(u)
        w = rng.standard_normal(dim)
        w -= w.dot(u) * u  # orthogonal component
        w /= np.linalg.norm(w)
        v = target_cos * u + np.sqrt(1.0 - target_cos**2) * w
        rows.append((i, [float(x) for x in u]))
        rows.append((i + 100_000, [float(x) for x in v]))
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    got = {
        (r.id_a, r.id_b)
        for r in ann.lsh_neardup_pairs(vecs, NEARDUP_COSINE_THRESHOLD).collect()
    }
    # float32 storage + rounding can nudge a pair's cosine below the
    # threshold; recall is judged against the pairs that truly qualify
    a = vecs.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = vecs.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    exact = {
        (r.id_a, r.id_b)
        for r in a.join(b, F.col("id_b") == F.col("id_a") + 100_000)
        .select(
            "id_a", "id_b",
            P.rounded(F.expr(P.cosine_spark_sql("va", "vb"))).alias("c"),
        )
        .filter(F.col("c") >= NEARDUP_COSINE_THRESHOLD)
        .collect()
    }
    assert len(exact) >= n * 0.9  # construction sanity: pairs sit above 0.95
    recall = len(got & exact) / len(exact)
    assert recall >= 0.85, f"boundary recall regressed: {recall:.3f}"


def test_ivf_query_paths_have_no_centroid_collect():
    """r10 VERDICT "What's wrong" #2: the IVF cold path used to collect
    sqrt(n) full centroid vectors driver-side to rank probe cells —
    ~300 MB of driver heap per cold query at 1e10 vectors. Probe
    ranking is now an in-plan expression over the broadcast cents row;
    the only driver-bound values are the query vector and (for the
    partitioned layout, where the prune predicate must be literal) the
    n_probe winning cell ids. Guard the property at the source level so
    a convenience collect can't quietly come back."""
    import inspect

    for fn in (
        ann.ivf_topk,
        ann.ivfpq_topk,
        ann.ivf_topk_trained,
        ann.ivf_indexed_topk,
        ann.ivfpq_indexed_topk,
        ann._ivf_search_tbl,
        ann.probe_cells_tbl,
        ann.write_ivf_indexed,
        ann.write_ivfpq_indexed,
        ann._read_indexed_cents,
    ):
        src = inspect.getsource(fn)
        assert ".collect()" not in src, f"{fn.__name__} collects driver-side"
    # ivf_indexed_topk_batch is deliberately NOT in the list: its one
    # collect is the union-of-probed-cells literal (|queries| x n_probe
    # INTS — bounded metadata, the price of a partition-pruning
    # predicate), never centroid vectors. Pin that the collect touches
    # only the exploded cell column.
    for fn in (ann.ivf_indexed_topk_batch, ann.ivfpq_indexed_topk_batch):
        src = inspect.getsource(fn)
        assert src.count(".collect()") == 1, fn.__name__
        assert '.select("cell").distinct().collect()' in " ".join(
            src.split()
        ), fn.__name__


def test_ivf_cent_tbl_schedule_guards(spark):
    """r11 ADVICE: a prebuilt cent_tbl OWNS the centroid set — an
    explicit n_centroids alongside it (the caller thinks it controls a
    build that never happens) and an n_probe above the table's cell
    count (would silently probe every cell) must both raise instead of
    masking a prebuilt-table/requested-schedule mismatch."""
    import pytest

    vecs = corpus.vectors(spark, SF_SMOKE)
    q = corpus.query_vector(spark, SF_SMOKE, QUERY_VEC_ID)
    cent_tbl = ann.centroid_table(vecs)
    with pytest.raises(ValueError, match="n_centroids cannot be combined"):
        ann.ivf_topk(vecs, q, cent_tbl=cent_tbl, n_centroids=8)
    with pytest.raises(ValueError, match="exceeds the cent_tbl"):
        ann.ivf_topk(vecs, q, cent_tbl=cent_tbl, n_probe=10_000)
    with pytest.raises(ValueError, match="n_centroids cannot be combined"):
        ann.ivfpq_topk(vecs, q, cent_tbl=cent_tbl, n_centroids=8)
    with pytest.raises(ValueError, match="exceeds the cent_tbl"):
        ann.ivfpq_topk(vecs, q, cent_tbl=cent_tbl, n_probe=10_000)
    # an explicit IN-RANGE n_probe still passes through
    assert ann.ivf_topk(vecs, q, cent_tbl=cent_tbl, n_probe=2).count() == K


def test_ivf_indexed_torn_build_refuses(spark, tmp_path):
    """r11 ADVICE: a rebuild interrupted between the layout write and
    the cents write must not silently rank probe cells with centroids
    that don't match the stored cell assignments. Both artifacts carry
    the same build id; a mismatch refuses loudly."""
    import pytest

    from vector_search_application_spark.sources import layout as L

    vecs = corpus.vectors(spark, SF_SMOKE)
    path = str(tmp_path / "ivf")
    ann.write_ivf_indexed(vecs, path)
    q = corpus.query_vector(spark, SF_SMOKE, QUERY_VEC_ID)
    assert ann.ivf_indexed_topk(spark, path, q).count() == K  # intact serves

    # simulate the torn state: the layout's stamp no longer matches
    # the cents table's (as if a rebuild died between the two writes)
    L.write_json_meta(spark, path, ann.IVF_BUILD_META, {"build_id": "stale"})
    with pytest.raises(ValueError, match="torn"):
        ann.ivf_indexed_topk(spark, path, q)


def test_ivf_indexed_unstamped_cents_refuses(spark, tmp_path):
    """r12 ADVICE: the unstamped direction of the torn-build check. A
    layout whose meta exists was written by stamping code, so a cents
    table WITHOUT a build_id column beside it means a rebuild died
    between the layout+meta write and the cents write (new layout,
    pre-stamp-era centroids) — must refuse, not skip the check. Only
    when BOTH artifacts predate the stamp is the pair allowed."""
    import pytest

    from vector_search_application_spark.sources import layout as L

    vecs = corpus.vectors(spark, SF_SMOKE)
    path = str(tmp_path / "ivf")
    ann.write_ivf_indexed(vecs, path)
    q = corpus.query_vector(spark, SF_SMOKE, QUERY_VEC_ID)

    # strip the stamp column from the cents table (a pre-stamp cents
    # beside a stamped layout) — the guard must catch it
    cpath = ann.ivf_cents_path(path)
    unstamped = spark.read.parquet(cpath).drop("build_id")
    unstamped.localCheckpoint(eager=True).write.mode("overwrite").parquet(
        cpath
    )
    with pytest.raises(ValueError, match="unstamped"):
        ann.ivf_indexed_topk(spark, path, q)

    # both-sides-pre-stamp (no meta either) is the only unverified
    # pass-through: delete the meta file and the lookup serves again
    fs, _, jvm = L._fs(spark, path)
    fs.delete(
        jvm.org.apache.hadoop.fs.Path(
            path.rstrip("/") + "/" + ann.IVF_BUILD_META
        ),
        False,
    )
    assert ann.ivf_indexed_topk(spark, path, q).count() == K


def test_indexed_cents_read_without_inference(spark, tmp_path):
    """Reading an IVF layout's cents table runs one job, the build-id
    ``first()``: the meta stores the table's schema, so no
    footer-reading schema-inference job runs before it."""
    from tests.test_query_literals import _jobs

    path = str(tmp_path / "ivf")
    ann.write_ivf_indexed(corpus.vectors(spark, SF_SMOKE), path)
    assert len(_jobs(spark, lambda: ann._read_indexed_cents(spark, path))) == 1


def _mog_fixture(
    spark, n_clusters=16, per_cluster=60, dim=32, sigma=0.05,
    interleaved=False,
):
    """Mixture-of-Gaussians embedding fixture (deterministic seed):
    unit-norm cluster centers (near-orthogonal at this dim), tight
    per-cluster noise — the clusterable structure real embeddings have
    and the near-uniform corpus fixture lacks, so trained-kmeans IVF
    can be held to SURVEY §7's >=0.95 recall discipline instead of a
    fixture-capped 0.8 (r11 VERDICT task 3). Default ids are
    vec_id = cluster * 1000 + member, so a query's true top-k live in
    its own cluster. interleaved=True instead assigns
    vec_id = member * n_clusters + cluster, so the FIRST n_clusters
    ids are one vector per cluster — the seed coverage a
    deterministic first-N build (centroid_table, pq_codebook) gets
    from a shuffled production corpus; with block ids those seeds all
    come from cluster 0 and the measurement is seed-layout pathology,
    not operator quality."""
    import numpy as np

    rng = np.random.default_rng(12)
    rows = []
    for c in range(n_clusters):
        center = rng.standard_normal(dim)
        center /= np.linalg.norm(center)
        for m in range(per_cluster):
            vid = m * n_clusters + c if interleaved else c * 1000 + m
            v = center + sigma * rng.standard_normal(dim)
            rows.append((vid, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _mog_recalls(spark, vecs, getter, qids):
    """Recall@K of ``getter(q, qid)`` vs brute-force cosine top-K over
    the fixture, one value per query id."""
    recalls = []
    for qid in qids:
        q = vecs.filter(F.col("vec_id") == qid).select(
            F.col("embedding").alias("qvec")
        )
        exact_rows = (
            vecs.crossJoin(q)
            .select(
                F.col("vec_id").alias("id"),
                P.rounded(F.expr(P.cosine_spark_sql("embedding", "qvec"))).alias(
                    "score"
                ),
            )
            .orderBy(F.desc("score"), F.asc("id"))
            .limit(K)
            .collect()
        )
        exact = {r.id for r in exact_rows}
        recalls.append(len(getter(q, qid) & exact) / K)
    return recalls


def test_ivfpq_clustered_recall(spark):
    """IVF-PQ's operator-set quality bar (r12 VERDICT task 2): on the
    mixture-of-Gaussians corpus (dim=64 so the PQ subspace slicing is
    exercised in full; interleaved ids so the deterministic first-N
    seeds span clusters) the funnel must be near-lossless. Measured:
    oversample=4 (default) mean 0.79/min 0.6 with the loss ENTIRELY at
    the ADC cut — n_probe=8 and 12 reproduce 0.79 exactly, while
    oversample=8 is 1.0/1.0 at the scheduled probes — because a tight
    cluster's ~120 candidates have near-tied ADC scores and the k*4
    cut is ~random within them. So the bar is set at oversample=8
    (mean 1.0 measured; gate 0.9/0.8), and the default-parameter
    near-uniform trip-wire (test_ivfpq_recall, 0.7/0.5) stays as-is.
    Callers on clustered corpora should budget oversample >= 2x the
    expected same-cluster candidate tie-mass over k."""
    vecs = _mog_fixture(spark, dim=64, interleaved=True)
    recalls = _mog_recalls(
        spark,
        vecs,
        lambda q, qid: {
            r.vec_id for r in ann.ivfpq_topk(vecs, q, oversample=8).collect()
        },
        list(range(10)),
    )
    mean = sum(recalls) / len(recalls)
    assert mean >= 0.9, f"IVF-PQ mean recall on MoG: {mean} ({recalls})"
    assert min(recalls) >= 0.8, f"IVF-PQ min recall on MoG: {recalls}"


def test_pq_kmeans_clustered_recall(spark):
    """Trained-codebook PQ's operator-set bar: per-subspace MLlib
    KMeans codewords on the MoG corpus, oversample=8 (same ADC-cut
    reasoning as test_ivfpq_clustered_recall; measured 1.0/1.0 —
    trained codewords separate the clusters where the near-uniform
    fixture capped the same operator at 0.55). The near-uniform
    trip-wire (test_pq_kmeans_recall) stays as-is."""
    vecs = _mog_fixture(spark, dim=64, interleaved=True)
    recalls = _mog_recalls(
        spark,
        vecs,
        lambda q, qid: {
            r.vec_id
            for r in ann.pq_kmeans_topk(
                spark, vecs, q, oversample=8
            ).collect()
        },
        list(range(10)),
    )
    mean = sum(recalls) / len(recalls)
    assert mean >= 0.9, f"trained-PQ mean recall on MoG: {mean} ({recalls})"
    assert min(recalls) >= 0.8, f"trained-PQ min recall on MoG: {recalls}"


def test_mllib_lsh_clustered_recall(spark):
    """MLlib LSH's operator-set bar on the MoG corpus at the index's
    default schedule (bucket_length=2, 3 tables, seed 42): measured
    mean 0.89 / min 0.8 — Euclidean-LSH vs cosine ground truth on
    unnormalized vectors keeps it under the PQ family's 1.0, which is
    the honest operator ceiling, not fixture pathology. Gate just
    under; the near-uniform trip-wire (test_mllib_lsh_recall,
    0.85/0.6) stays as-is."""
    vecs = _mog_fixture(spark, dim=64, interleaved=True)
    model, vec = ann.mllib_lsh_index(vecs)

    def getter(q, qid):
        key = vec.filter(F.col("id") == qid).first()["features"]
        return {
            r.id for r in model.approxNearestNeighbors(vec, key, K).collect()
        }

    recalls = _mog_recalls(spark, vecs, getter, list(range(10)))
    mean = sum(recalls) / len(recalls)
    assert mean >= 0.85, f"MLlib-LSH mean recall on MoG: {mean} ({recalls})"
    assert min(recalls) >= 0.7, f"MLlib-LSH min recall on MoG: {recalls}"


def test_ivf_kmeans_clustered_recall(spark):
    """The trained-ANN quality bar, set by the OPERATOR instead of the
    fixture: on the mixture-of-Gaussians corpus, MLlib-kmeans IVF with
    the scheduled probe count must reach >=0.95 mean / >=0.8 min
    recall@K over 10 queries (SURVEY §7's discipline). The loose 0.4
    floor in test_ivf_kmeans_trained_recall stays for the near-uniform
    corpus fixture, where recall is capped by geometry, not bugs."""
    vecs = _mog_fixture(spark)
    cents = ann.kmeans_centroids(vecs, n_centroids=16)
    recalls = []
    for qid in [c * 1000 for c in range(10)]:
        q = vecs.filter(F.col("vec_id") == qid).select(
            F.col("embedding").alias("qvec")
        )
        # exact brute-force top-K for this query
        exact_rows = (
            vecs.crossJoin(q)
            .select(
                F.col("vec_id").alias("id"),
                P.rounded(F.expr(P.cosine_spark_sql("embedding", "qvec"))).alias(
                    "score"
                ),
            )
            .orderBy(F.desc("score"), F.asc("id"))
            .limit(K)
            .collect()
        )
        exact = {r.id for r in exact_rows}
        got = {r.id for r in ann.ivf_topk_trained(vecs, q, cents).collect()}
        recalls.append(len(got & exact) / K)
    mean = sum(recalls) / len(recalls)
    assert mean >= 0.95, f"kmeans-IVF mean recall on MoG: {mean} ({recalls})"
    assert min(recalls) >= 0.8, f"kmeans-IVF min recall on MoG: {recalls}"


def test_ivf_topk_prebuilt_cent_tbl_matches_cold(spark):
    """The warm-index parameter contract: passing a pre-built
    centroid-metadata table (the serving shape — centroid_table output
    or the table write_ivf_indexed persists) must answer identically to
    the cold path that derives it in-query, with n_probe scheduled from
    the table's own cell count."""
    vecs = corpus.vectors(spark, SF_SMOKE)
    q = corpus.query_vector(spark, SF_SMOKE, QUERY_VEC_ID)
    want = [(r["id"], r["score"]) for r in ann.ivf_topk(vecs, q).collect()]

    cent_tbl = ann.centroid_table(vecs)  # scheduled count, one-row cents
    got = [
        (r["id"], r["score"])
        for r in ann.ivf_topk(vecs, q, cent_tbl=cent_tbl).collect()
    ]
    assert got == want

    pq_want = [
        (r["vec_id"], r["score"]) for r in ann.ivfpq_topk(vecs, q).collect()
    ]
    pq_got = [
        (r["vec_id"], r["score"])
        for r in ann.ivfpq_topk(vecs, q, cent_tbl=cent_tbl).collect()
    ]
    assert pq_got == pq_want
