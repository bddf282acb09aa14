"""Operator-level semantics pinned against independent Python models on
adversarial hand-built inputs (ties, disjoint ids, missing sides, bit
flips spread across LSH bands). The registry oracle gate checks these
same operators over the testdata corpora; these tests isolate the exact
math on inputs the corpora may never produce.
"""

import random

import pytest
from pyspark.sql import functions as F

from vector_search_application_spark.operators import dedup, fusion
from vector_search_application_spark.plans.constants import RRF_RANK_K


def _ranks(rows):
    """Python model of _ranked: rank by score desc, id asc, from 1."""
    return {
        id_: r + 1
        for r, (id_, _) in enumerate(
            sorted(rows, key=lambda t: (-t[1], t[0]))
        )
    }


def test_rrf_matches_python_model(spark):
    # ties within a list, ids missing from one side, equal scores across
    dense = [(1, 0.9), (2, 0.8), (3, 0.8), (4, 0.2)]
    sparse = [(3, 5.0), (5, 4.0), (1, 4.0)]
    ddf = spark.createDataFrame(dense, ["vec_id", "score"])
    sdf = spark.createDataFrame(sparse, ["vec_id", "score"])

    dr, sr = _ranks(dense), _ranks(sparse)
    ids = sorted(set(dr) | set(sr))
    expected = {}
    for i in ids:
        rrf = sum(
            1.0 / (RRF_RANK_K + r[i]) for r in (dr, sr) if i in r
        )
        expected[i] = round(rrf, 6)

    got = {
        r["vec_id"]: (r["score"], r["dense_rank"], r["sparse_rank"])
        for r in fusion.rrf_fuse({"dense": ddf, "sparse": sdf}, k=10).collect()
    }
    assert set(got) == set(expected)
    for i, (score, drank, srank) in got.items():
        assert score == expected[i]
        assert drank == dr.get(i) and srank == sr.get(i)


def test_linear_fuse_missing_side_is_zero(spark):
    ddf = spark.createDataFrame([(1, 0.8), (2, 0.4)], ["vec_id", "score"])
    sdf = spark.createDataFrame([(2, 1.0), (3, 0.5)], ["vec_id", "score"])
    got = {
        r["vec_id"]: r["score"]
        for r in fusion.linear_fuse(ddf, sdf, k=10, alpha=0.7).collect()
    }
    assert got == {
        1: round(0.7 * 0.8, 6),
        2: round(0.7 * 0.4 + 0.3 * 1.0, 6),
        3: round(0.3 * 0.5, 6),
    }


def test_simhash_pairs_pigeonhole_exact_within_radius(spark):
    """hamming <= 3 pairs MUST all be found (with 4 bands some band is
    untouched — pigeonhole), even when the flipped bits land in three
    DIFFERENT bands; pairs beyond the radius must be excluded."""
    base = 0b10110100_01011010_11001100_00110101
    # 64-bit signatures: the sign bit (bit 63) and the high band must
    # behave like any other bit under arithmetic-shift band extraction
    neg = base - (1 << 63)  # base with bit 63 set, as a signed long
    sigs = [
        (0, base),
        (1, base ^ (1 << 0)),                              # ham 1 vs base
        (2, base ^ (1 << 0) ^ (1 << 8)),                   # ham 2
        (3, base ^ (1 << 0) ^ (1 << 8) ^ (1 << 16)),       # ham 3, 2 bands
        (4, base ^ (1 << 0) ^ (1 << 8) ^ (1 << 16) ^ (1 << 48)),  # ham 4
        (5, base ^ 0xFFFF),                                # far away
        (6, neg),                                          # ham 1 vs base (bit 63)
        (7, neg ^ (1 << 62) ^ (1 << 50)),                  # ham 3 vs base
    ]
    def ham(x, y):
        # mask to 64 bits: Python ints are infinite-precision, so a
        # negative xor must be reduced to its two's-complement pattern
        return bin((x ^ y) & ((1 << 64) - 1)).count("1")

    expected = {
        (a, b, ham(sa, sb))
        for i, (a, sa) in enumerate(sigs)
        for b, sb in sigs[i + 1:]
        if ham(sa, sb) <= 3
    }
    sims = spark.createDataFrame(sigs, ["id", "simhash"]).withColumn(
        "simhash", F.col("simhash").cast("bigint")
    )
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in dedup.simhash_pairs(sims, max_hamming=3).collect()
    }
    assert got == expected
    assert (0, 3, 3) in got  # three flipped bits spanning two bands
    assert (0, 6, 1) in got  # sign-bit flip only
    assert (0, 7, 3) in got  # bits 50/62/63 — all inside the high band


def test_salted_topk_equals_naive_with_ties(spark):
    """topk_per_group_salted must return EXACTLY topk_per_group's rows —
    including on heavy score ties, where the id tie-break decides which
    rows make the cut in both phases."""
    import random

    from vector_search_application_spark.operators import topk

    rng = random.Random(7)
    rows = [
        (g, i, rng.choice([0.1, 0.5, 0.5, 0.9]))  # many exact ties
        for g in range(3)
        for i in range(200)
    ]
    scored = spark.createDataFrame(rows, ["query_id", "vec_id", "score"])
    naive = topk.topk_per_group(scored, "query_id", 10)
    salted = topk.topk_per_group_salted(scored, "query_id", 10, n_salts=8)
    assert sorted(map(tuple, naive.collect())) == sorted(
        map(tuple, salted.collect())
    )


def test_paginate_bounded_window_and_guard(spark):
    """paginate pre-truncates with a distributed top-N (the window only
    sees offset+limit rows) and refuses page depths beyond the guard,
    pointing at keyset_page."""
    import pytest

    from vector_search_application_spark.operators import topk

    df = spark.range(1000).select(F.col("id").alias("doc_id"))
    page = topk.paginate(df, "doc_id", limit=5, offset=10)
    assert [r["doc_id"] for r in page.collect()] == [10, 11, 12, 13, 14]
    plan = page._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan

    with pytest.raises(ValueError, match="keyset_page"):
        topk.paginate(df, "doc_id", limit=5, offset=topk.MAX_PAGE_DEPTH)

    # keyset twin returns the identical page via a cursor predicate
    kp = topk.keyset_page(df, "doc_id", after=9, limit=5)
    assert [r["doc_id"] for r in kp.collect()] == [10, 11, 12, 13, 14]


def _union_find_labels(pairs, ids):
    """Ground truth: union-find attaching the larger root under the
    smaller, so every root is its component's minimum."""
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in ids}


def _count_loops(monkeypatch):
    """A list that grows by one per min_label_components call."""
    loop, loops = dedup.min_label_components, []
    monkeypatch.setattr(
        dedup, "min_label_components", lambda *a, **k: loops.append(1) or loop(*a, **k)
    )
    return loops


def _chain(diameter, start=0):
    return [(i, i + 1) for i in range(start, start + diameter)]


def _components_graphs():
    """(name, pairs, ids of nodes in no pair): a chain, a star, a pair
    and singletons; a chain of diameter 3; no pairs."""
    mixed = [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (10, 12), (10, 13), (20, 21)]
    return [
        ("chain/star/pair", mixed, [30, 31]),
        ("chain of diameter 3", _chain(3), []),
        ("no pairs", [], [1, 2, 3]),
    ]


def _labels(spark, pairs, ids, **kw):
    pairs_df = spark.createDataFrame(pairs, "id_a bigint, id_b bigint")
    nodes_df = spark.createDataFrame([(i,) for i in ids], "id bigint")
    comps = dedup.connected_components(pairs_df, nodes_df, **kw)
    return {r.id: r.canonical_id for r in comps.collect()}


@pytest.mark.parametrize("path", ["driver", "distributed"])
def test_connected_components_matches_union_find(spark, monkeypatch, path):
    """Both paths of connected_components give union-find's min-id
    label to every node, once each, under the input's id type
    (bigint, and int for the first graph). The driver path has no
    iteration cap: a diameter-60 chain converges at the default
    max_iters, where the loop refuses anything past 50 hops."""
    loops = _count_loops(monkeypatch)
    graphs = _components_graphs()
    if path == "distributed":
        # below any row count, so even the empty pair list takes the loop
        monkeypatch.setattr(dedup, "CC_DRIVER_PAIRS", -1)
    else:
        graphs.append(("chain of diameter 60", _chain(60), []))
    cases = [(*g, "bigint") for g in graphs] + [(*graphs[0], "int")]
    for name, pairs, lone, id_type in cases:
        ids = sorted({x for p in pairs for x in p} | set(lone))
        pairs_df = spark.createDataFrame(pairs, "id_a bigint, id_b bigint")
        nodes_df = spark.createDataFrame([(i,) for i in ids], "id bigint")
        if id_type == "int":
            pairs_df = pairs_df.selectExpr("int(id_a) AS id_a", "int(id_b) AS id_b")
            nodes_df = nodes_df.selectExpr("int(id) AS id")
        comps = dedup.connected_components(pairs_df, nodes_df)
        schema = [(f.name, f.dataType.simpleString(), f.nullable) for f in comps.schema]
        assert schema == [("id", id_type, True), ("canonical_id", id_type, True)], name
        rows = comps.collect()
        assert len(rows) == len(ids), name
        want = _union_find_labels(pairs, ids)
        assert {r.id: r.canonical_id for r in rows} == want, name
    assert len(loops) == (len(cases) if path == "distributed" else 0)


def test_connected_components_double_step_parities(spark, monkeypatch):
    """The distributed loop reads the first propagation directly off
    the closed edge list, then propagates TWICE per convergence check
    and detects the fixpoint on the second step alone. Chains of every
    diameter from 1 to 8 — both parities, across three loop iterations
    — must land on the exact min-label closure, including diameters
    where the fixpoint is reached on the FIRST step of an iteration and
    the second step must report no change rather than a phantom one."""
    loops = _count_loops(monkeypatch)
    monkeypatch.setattr(dedup, "CC_DRIVER_PAIRS", 0)
    for d in range(1, 9):
        got = _labels(spark, _chain(d), range(d + 1))
        assert got == {i: 0 for i in range(d + 1)}, f"chain of diameter {d}"
    assert len(loops) == 8


def test_connected_components_star_matches_union_find(spark, monkeypatch):
    """A seeded random graph plus a diameter-30 chain gets exactly the
    union-find components on the driver path and on the distributed
    loop at its default cap; the loop refuses the same graph under
    max_iters=5 rather than return partial labels."""
    rng = random.Random(11)
    base = list(range(60))
    rand_pairs = [
        (a, b)
        for a, b in ((rng.choice(base), rng.choice(base)) for _ in range(40))
        if a != b
    ]
    pairs = rand_pairs + _chain(30, 100)
    ids = sorted(set(base) | {x for p in pairs for x in p})
    want = _union_find_labels(pairs, ids)
    assert _labels(spark, pairs, ids) == want

    monkeypatch.setattr(dedup, "CC_DRIVER_PAIRS", 0)
    assert _labels(spark, pairs, ids) == want
    with pytest.raises(RuntimeError, match="did not converge"):
        _labels(spark, pairs, ids, max_iters=5)


def test_connected_components_cap_boundary(spark, monkeypatch):
    """A pair list of exactly CC_DRIVER_PAIRS rows is labelled on the
    driver and one row more takes the distributed loop; on both sides
    the pair pipeline runs once (an accumulator in a UDF inside the
    pairs counts every row once)."""
    loops = _count_loops(monkeypatch)
    monkeypatch.setattr(dedup, "CC_DRIVER_PAIRS", 4)
    seen = spark.sparkContext.accumulator(0)

    def counted(x):
        seen.add(1)
        return x

    count = F.udf(counted, "bigint").asNondeterministic()
    for n_pairs, n_loops in ((4, 0), (5, 1)):
        seen.value = 0
        pairs = spark.createDataFrame(_chain(n_pairs), "id_a bigint, id_b bigint")
        pairs = pairs.select(count("id_a").alias("id_a"), "id_b")
        lone = n_pairs + 1
        got = {
            r.id: r.canonical_id
            for r in dedup.connected_components(pairs, spark.range(lone + 1)).collect()
        }
        assert got == {**{i: 0 for i in range(lone)}, lone: lone}
        assert len(loops) == n_loops, n_pairs
        assert seen.value == n_pairs


def test_connected_components_refusal_boundary(spark, monkeypatch):
    """On the distributed path max_iters=k allows 1 + 2k propagations:
    a chain whose far end is exactly 2k hops from the min converges to
    the full closure, and one hop more raises — never partial labels."""
    monkeypatch.setattr(dedup, "CC_DRIVER_PAIRS", 0)

    def chain(diameter):
        pairs = spark.createDataFrame(_chain(diameter), ["id_a", "id_b"])
        nodes = spark.createDataFrame([(i,) for i in range(diameter + 1)], ["id"])
        return pairs, nodes

    for k in (1, 2):
        pairs, nodes = chain(2 * k)
        got = {
            r["id"]: r["canonical_id"]
            for r in dedup.connected_components(
                pairs, nodes, max_iters=k
            ).collect()
        }
        assert got == {i: 0 for i in range(2 * k + 1)}, f"max_iters={k}"
        pairs, nodes = chain(2 * k + 1)
        with pytest.raises(RuntimeError, match="did not converge"):
            dedup.connected_components(pairs, nodes, max_iters=k)


def test_closed_edges_plans_pairs_once(spark):
    """The components edge list is one Generate over ONE copy of the
    pairs subtree — no Union, so an expensive pair producer upstream is
    planned (and executed) once."""
    pairs = (
        spark.range(0, 40)
        .selectExpr("id % 7 AS id_a", "id % 11 + 7 AS id_b")
        .groupBy("id_a", "id_b")
        .count()
    )
    edges = dedup.closed_edges(pairs, "id_a", "id_b", "src", "dst")
    plan = edges._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Generate") == 1
    assert plan.count("Aggregate") == 1
    assert "Union" not in plan
    rows = {(r.src, r.dst) for r in edges.collect()}
    want = {
        e
        for r in pairs.collect()
        for e in ((r.id_a, r.id_b), (r.id_b, r.id_a), (r.id_a, r.id_a), (r.id_b, r.id_b))
    }
    assert rows == want


def test_tracked_persist_releases_orphaned_caches(spark):
    """release_all must free caches whose Python references died inside
    an operator (a weak registry would have dropped them — the exact
    blocks the lifecycle module exists to release)."""
    from tests.conftest import SF_SMOKE
    from vector_search_application_spark.functions import cache
    from vector_search_application_spark.operators import bm25
    from vector_search_application_spark.plans import corpus

    cache.release_all()  # clean slate

    def build_and_drop():
        docs = corpus.docs(spark, SF_SMOKE).limit(50)
        bm25.build_postings(docs, id_col="doc_id", text_col="text").count()
        # the persisted postings DF goes out of scope here

    build_and_drop()
    assert cache.release_all() >= 1
    assert cache.release_all() == 0  # registry cleared


def test_release_matches_memoized_twin_by_plan(spark):
    """release() matches by canonical plan, as Spark's CacheManager
    does when it uncaches: releasing a separately built sameSemantics
    twin of a memoized value frees that value's blocks, so the memo
    entry and the tracked reference must go too — plan_memo rebuilds
    instead of handing back a plan that is no longer cached."""
    from pyspark.sql import functions as F

    from vector_search_application_spark.functions import cache

    cache.release_all()
    base = spark.range(200)

    def agg():
        return base.groupBy((F.col("id") % 7).alias("k")).count()

    def memoized():
        return cache.plan_memo(
            base, ("twin",), lambda: cache.tracked_persist(agg())
        )

    old = memoized()
    old.count()
    twin = agg()
    assert twin is not old and twin.sameSemantics(old)
    cache.release(twin)
    assert memoized() is not old
    assert not any(d is old for d in cache._LIVE)
    cache.release_all()


def test_exact_cascade_batch_matches_single(spark):
    """The batched cascade equals N independent exact_cascade runs —
    including a query that hits primary, one that only hits secondary,
    and one that misses both (present in the batch, absent from the
    output)."""
    from vector_search_application_spark.operators import exact

    rows = [
        (1, "PN1", "M1"),
        (2, "PN1", "M2"),   # duplicate primary value
        (3, "PN3", "PN9"),
        (4, "XX", "PN9"),   # secondary-only hit for PN9
        (5, "XX", "PN1"),   # secondary for PN1 must be gated off (primary hit)
    ]
    df = spark.createDataFrame(rows, ["id", "p", "s"])
    queries = [("PN1",), ("PN9",), ("NOPE",)]
    qdf = spark.createDataFrame(
        [(i, q[0]) for i, q in enumerate(queries)], ["query_id", "q"]
    )
    got = {
        (r.query_id, r.id): (r.score, r.matched_field)
        for r in exact.exact_cascade_batch(df, qdf, "p", "s").collect()
    }
    expected = {}
    for qid, (q,) in enumerate(queries):
        for r in exact.exact_cascade(df, q, "p", "s").collect():
            expected[(qid, r.id)] = (r.score, r.matched_field)
    assert got == expected
    assert not [k for k in got if k[0] == 2]  # NOPE returns no rows


def test_max_dedup_fuse_batch_matches_single(spark):
    """Per query, the batched max-dedup fusion equals max_dedup_fuse:
    max score on duplicate ids, 'exact+vector' labels, same top-k
    cut with the same tie order."""
    from vector_search_application_spark.operators import fusion as FU

    exact_rows = [
        (0, 1, 1.0, "exact"), (0, 2, 1.0, "exact"),
        (1, 7, 0.9, "exact"),
    ]
    vector_rows = [
        (0, 1, 0.5, "vector"), (0, 3, 0.8, "vector"), (0, 4, 0.8, "vector"),
        (1, 7, 0.95, "vector"), (1, 8, 0.2, "vector"),
    ]
    cols = ["query_id", "id", "score", "search_type"]
    e = spark.createDataFrame(exact_rows, cols)
    v = spark.createDataFrame(vector_rows, cols)
    got = {
        (r.query_id, r.id): (r.score, r.search_type)
        for r in FU.max_dedup_fuse_batch(e, v, k=3).collect()
    }
    expected = {}
    for qid in (0, 1):
        eq = e.filter(F.col("query_id") == qid).drop("query_id")
        vq = v.filter(F.col("query_id") == qid).drop("query_id")
        for r in FU.max_dedup_fuse(eq, vq, k=3).collect():
            expected[(qid, r.id)] = (r.score, r.search_type)
    assert got == expected
    assert got[(1, 7)] == (0.95, "exact+vector")


def test_rrf_fuse_empty_branches_raises(spark):
    """An empty branches dict (a caller's dynamic mode-filter removed
    them all) must raise a named error, not NoneType.groupBy."""
    import pytest

    with pytest.raises(ValueError, match="at least one branch"):
        fusion.rrf_fuse({})
    with pytest.raises(ValueError, match="at least one branch"):
        fusion.rrf_fuse_batch({})
