"""Property tests for the portable primitives (hypothesis + DuckDB).

Cross-engine Spark<->DuckDB parity is covered per-query by the registry
oracle gate; these pin the DECLARED semantics themselves against an
independent Python model, over adversarial inputs, at DuckDB speed
(no Spark session needed).
"""

import re

import duckdb
from hypothesis import given, settings
from hypothesis import strategies as st

from vector_search_application_spark.functions import portable as P
from vector_search_application_spark.plans.constants import (
    MINHASH_A,
    MINHASH_B,
    MINHASH_PERMS,
    MINHASH_PRIME,
)


def py_tokens(text: str) -> list[str]:
    """Independent model of the declared tokenizer: lowercase, split on
    runs of [^a-z0-9], drop empties."""
    return [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]


@settings(max_examples=300, deadline=None)
@given(st.text(max_size=200))
def test_tokens_sql_matches_python_model(text):
    con = duckdb.connect()
    got = con.execute(
        f"SELECT {P.tokens_sql('?')}", [text]
    ).fetchone()[0]
    assert list(got) == py_tokens(text)


@settings(max_examples=300, deadline=None)
@given(st.text(max_size=120), st.text(max_size=120))
def test_md5_long_sql_deterministic_and_60bit(a, b):
    con = duckdb.connect()
    va, vb = con.execute(
        f"SELECT {P.md5_long_sql('?')}, {P.md5_long_sql('?')}", [a, b]
    ).fetchone()
    assert 0 <= va < 1 << 60
    if a == b:
        assert va == vb


def test_minhash_family_never_overflows_signed64():
    """a_i*h + b_i must fit signed 64-bit for every 32-bit h in BOTH
    engines (DuckDB errors on overflow; Spark silently wraps)."""
    h_max = (1 << 32) - 1
    for a, b in zip(MINHASH_A, MINHASH_B):
        assert 0 < a < 1 << 31 and a % 2 == 1
        assert 0 <= b < 1 << 31
        assert a * h_max + b < (1 << 63) - 1
    assert len(set(zip(MINHASH_A, MINHASH_B))) == MINHASH_PERMS
    assert MINHASH_PRIME == (1 << 61) - 1


@settings(max_examples=200, deadline=None)
@given(
    st.lists(st.floats(-1e6, 1e6, allow_nan=False, width=32), min_size=1, max_size=64)
)
def test_cosine_sql_bounded_and_self_similar(xs):
    con = duckdb.connect()
    lit = "[" + ",".join(repr(float(x)) for x in xs) + "]::FLOAT[]"
    cos_self, cos_neg = con.execute(
        f"SELECT {P.rounded_sql(P.cosine_sql(lit, lit))},"
        f" {P.rounded_sql(P.cosine_sql(lit, f'list_transform({lit}, x -> -x)'))}"
    ).fetchone()
    if any(x != 0.0 for x in xs):
        assert abs(cos_self - 1.0) < 1e-6
        assert abs(cos_neg + 1.0) < 1e-6
    else:
        assert cos_self == 0.0  # declared zero-norm fallback


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),   # user
            st.integers(min_value=0, max_value=50),  # ts (collisions likely)
            st.booleans(),                            # True -> left row
        ),
        max_size=30,
    )
)
def test_asof_union_window_formulation_matches_brute_force(rows):
    """The union + last_value(IGNORE NULLS) as-of formulation (the one
    both engines declare, plans/registry_streaming._ASOF_SQL) must equal
    the brute-force definition: latest right row with ts <= left ts,
    ties preferring the right row (inclusive), then highest id."""
    events = [(i, u, t, is_l) for i, (u, t, is_l) in enumerate(rows)]
    con = duckdb.connect()
    con.execute("CREATE TABLE ev (id BIGINT, u BIGINT, ts BIGINT, is_l BOOLEAN)")
    if events:
        con.executemany("INSERT INTO ev VALUES (?, ?, ?, ?)", events)
    got = dict(
        con.execute(
            """
WITH tagged AS (
    SELECT u, id, ts, 1 AS tag, NULL::BIGINT AS r_id
    FROM ev WHERE is_l
    UNION ALL
    SELECT u, id, ts, 0, id FROM ev WHERE NOT is_l
),
filled AS (
    SELECT u, id, ts, tag,
           last_value(r_id IGNORE NULLS) OVER w AS m_id
    FROM tagged
    WINDOW w AS (PARTITION BY u ORDER BY ts ASC, tag ASC, id ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT id, m_id FROM filled WHERE tag = 1
"""
        ).fetchall()
    )
    lefts = [(i, u, t) for i, u, t, is_l in events if is_l]
    rights = [(i, u, t) for i, u, t, is_l in events if not is_l]
    assert set(got) == {i for i, _, _ in lefts}
    for i, u, t in lefts:
        cand = [(rt, ri) for ri, ru, rt in rights if ru == u and rt <= t]
        want = max(cand)[1] if cand else None
        assert got[i] == want, (i, got[i], want)


def py_chunks(text: str):
    """Independent model of the chunk layout: starts step by the
    stride; a non-initial window is kept only if it contributes tokens
    beyond the previous window's coverage."""
    from vector_search_application_spark.plans.constants import (
        CHUNK_STRIDE,
        CHUNK_TOKENS,
    )

    toks = py_tokens(text)
    n = len(toks)
    out = []
    for s in range(0, n, CHUNK_STRIDE):
        if s == 0 or n - s > CHUNK_TOKENS - CHUNK_STRIDE:
            out.append(
                (
                    s // CHUNK_STRIDE,
                    s,
                    min(CHUNK_TOKENS, n - s),
                    " ".join(toks[s : s + CHUNK_TOKENS]),
                )
            )
    return out


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=500))
def test_chunk_sql_matches_python_model(text):
    from vector_search_application_spark.plans.registry_curation import (
        _chunk_sql_from,
    )

    con = duckdb.connect()
    sql = _chunk_sql_from("(SELECT 0 AS doc_id, ? AS text)")
    rows = con.execute(sql, [text]).fetchall()
    got = sorted((r[1], r[2], r[3], r[4]) for r in rows)
    want = sorted(py_chunks(text))
    assert got == want


# --- the dedup scale probe's corpus construction premise ---------------

_ASCII = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=200
)


def _rename(text: str, tag: str) -> str:
    """The probe's injective per-replica token renaming (prefix every
    alphanumeric run), tools/dedup_scale_probe.build_salted_dir."""
    return re.sub(r"([A-Za-z0-9]+)", tag + r"\1", text)


@settings(max_examples=300, deadline=None)
@given(_ASCII, st.integers(min_value=0, max_value=99))
def test_token_renaming_is_a_bijection_on_token_lists(text, rep):
    """SCALING_DEDUP.md's construction premise: prefixing every
    alphanumeric run with the replica tag maps the token LIST
    elementwise (same count, same positions, injectively renamed), so
    every shingle-set statistic — n-gram Jaccard, rare-shingle document
    frequency, minhash band structure — is preserved exactly under the
    bijection. Scoped to ASCII text, which is what the synthetic corpus
    contains (non-ASCII case-folding like the Kelvin sign K->k can turn
    a renaming separator into a token character)."""
    tag = f"q{rep}z"
    assert py_tokens(_rename(text, tag)) == [
        tag + t for t in py_tokens(text)
    ]


@settings(max_examples=200, deadline=None)
@given(_ASCII, _ASCII, st.integers(min_value=0, max_value=99))
def test_shingle_jaccard_invariant_under_renaming(a, b, rep):
    """Follows from the bijection, pinned directly: the 3-token
    shingle-set Jaccard between any two docs is unchanged by the
    probe's renaming — the quantity whose constancy makes the
    controlled-duplicate-rate measurement valid."""
    tag = f"q{rep}z"

    def sh(text):
        toks = py_tokens(text)
        return {
            "_".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        }

    def jac(x, y):
        sx, sy = sh(x), sh(y)
        if not sx and not sy:
            return None
        u = len(sx | sy)
        return len(sx & sy) / u if u else None

    assert jac(a, b) == jac(_rename(a, tag), _rename(b, tag))


# ---------------------------------------------------------------------------
# repetition flag-fold arithmetic (the mx_from_flags / dup_from_flags
# folds of functions/text.repetition_features_expr): the recurrences
# re-written literally in Python, checked against Counter ground truth
# on random gram lists
# ---------------------------------------------------------------------------

def _py_flags(grams):
    s = sorted(grams)
    return [1 if s[i + 1] == s[i] else 0 for i in range(len(s) - 1)]


def _py_mx_from_flags(fl):
    # mirrors _mx_from_flags: run' = (run+1)*f; mx' = max(mx, run')
    run = mx = 0
    for f in fl:
        run = (run + 1) * f
        mx = max(mx, run)
    return 1 + max(mx, run)


def _py_dup_from_flags(fl):
    # mirrors _dup_from_flags: closing a run of k 1-flags pays k+1
    run = dup = 0
    for f in fl:
        dup = dup + (1 - f) * (run + min(run, 1))
        run = (run + 1) * f
    return dup + run + min(run, 1)


@settings(max_examples=500, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=6), min_size=1,
                max_size=60))
def test_flag_folds_match_counter_ground_truth(grams):
    """The arithmetic-only folds must equal the frequency statistics
    they replaced: max gram frequency and total instances of grams
    occurring >= 2 times (small alphabet forces heavy runs)."""
    from collections import Counter

    c = Counter(grams)
    fl = _py_flags(grams)
    assert _py_mx_from_flags(fl) == max(c.values())
    assert _py_dup_from_flags(fl) == sum(v for v in c.values() if v >= 2)


@settings(max_examples=300, deadline=None)
@given(st.text(alphabet="ab _.x", max_size=80),
       st.integers(min_value=2, max_value=5))
def test_consuming_gram_extraction_is_complete(text, n):
    """The n shifted consuming regex passes behind hashed_ngram_ids_expr
    must yield exactly the position-complete n-gram multiset of the
    token list (what transform(sequence, slice) builds)."""
    toks = py_tokens(text)
    want = sorted(
        tuple(toks[i : i + n]) for i in range(len(toks) - n + 1)
    )
    # simulate the passes: pass j consumes non-overlapping n-grams of
    # the token list with the first j tokens removed
    got = []
    for j in range(n):
        t = toks[j:]
        i = 0
        while i + n <= len(t):
            got.append(tuple(t[i : i + n]))
            i += n
    assert sorted(got) == want


def test_classifier_agrees_across_engines_on_control_whitespace(spark):
    """Java '$' matches before a final line terminator, RE2 does not,
    and Java '.' excludes \\r where RE2 matches it — the regexp-strip
    cleanup plus the [^\\n] length class must keep the two engines
    decision-identical on queries carrying newlines/CRs."""
    import duckdb

    from vector_search_application_spark.functions import classifier as C
    from pyspark.sql import functions as F

    cases = ["RAD123456\n", "RAD123456", " HYP220479\t\n", "AB\rC12",
             "gas torch\n", "X1\n2Y34567", "\nMIL0007"]
    rows = spark.sql(
        "SELECT * FROM VALUES "
        + ", ".join(f"({i})" for i in range(len(cases)))
        + " AS t(i)"
    ).withColumn(
        "q",
        F.element_at(F.array(*[F.lit(c) for c in cases]), F.col("i") + 1),
    )
    got = {
        r["i"]: (r["score"], r["flag"])
        for r in rows.select(
            "i",
            C.partno_score(F.col("q")).alias("score"),
            C.is_part_number(F.col("q")).alias("flag"),
        ).collect()
    }
    con = duckdb.connect()
    for i, q in enumerate(cases):
        lit = "'" + q.replace("'", "''").replace("\n", "' || chr(10) || '").replace("\r", "' || chr(13) || '").replace("\t", "' || chr(9) || '") + "'"
        score, flag = con.execute(
            f"SELECT {C.partno_score_sql(lit)}, {C.is_part_number_sql(lit)}"
        ).fetchone()
        assert got[i] == (score, flag), (q, got[i], (score, flag))
