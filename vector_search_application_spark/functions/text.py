"""Text-analysis functions for training-data pipelines: language-ID
heuristic, quality scoring, token statistics, document fingerprinting.

Beyond-the-reference surface (the reference has no text analytics);
first-class declared queries in registry_text. Each feature has ONE
Spark form and one DuckDB twin (``*_sql``) for the oracle. The Spark
form is a Column builder where the feature is a few JVM calls
(ws_strip_upper, ws_token_count, re_token_count, bpe_tokens) and one
parsed expression string (``*_expr``) where it is a tree of lambda
HOFs, whose Column form cost ~150 py4j round-trips per plan build; the
token arrays inside them come from portable.tokens_spark_sql. Both
kinds run map-side inside the scan with zero shuffles. The
token-count, quality and repetition pairs are pinned row for row over
the sf0.001 documents plus an edge corpus (tests/test_text_twins.py).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..plans.constants import STOPWORDS
from . import portable as P

FP_MOD = 1_000_000_007  # fingerprint modulus (keeps sums in int64)

# Portable whitespace class: Java \s includes \x0B (vertical tab),
# RE2's does not — any twin pattern using \s diverges on VT-bearing
# text. Every whitespace reference in a paired pattern spells the
# class out instead.
WS_CLASS = r"\t\n\x0B\f\r "

# The same set as literal characters, for Python-side str.strip() on
# query literals (str.strip() with no args strips full Unicode
# whitespace — broader than either engine's regex \s, so a NBSP-edged
# query would clean differently in the Python path vs the batch/SQL
# twins unless the set is pinned here too).
WS_CHARS = "\t\n\x0b\f\r "


def duck_ws_strip_sql(expr: str) -> str:
    """The DuckDB-SQL twin of ``value.strip(WS_CHARS)``: strip the
    pinned whitespace class from both ends. Every oracle that pairs
    with a Python/Spark strip interpolates THIS fragment instead of
    hand-spelling the class, so a change to the pinned set can never
    drift the engine and oracle halves apart ('g' is DuckDB's
    replace-all flag — this fragment is for oracle SQL, not
    Spark SQL)."""
    return (
        f"regexp_replace({expr}, '^[{WS_CLASS}]+|[{WS_CLASS}]+$', '', 'g')"
    )


def ws_strip_upper(col: Column) -> Column:
    """The Spark twin of ``upper(duck_ws_strip_sql(...))``: strip the
    pinned whitespace class from both ends, then uppercase. Every
    Spark-side query cleaner paired with that oracle fragment calls
    THIS (classifier._cleaned, exact.exact_match_batch) so the two
    halves can only change together. regexp strip, not F.trim or \\s:
    Java \\s includes \\x0B, RE2's does not, and trim strips only
    ASCII space."""
    return F.upper(
        F.regexp_replace(col, rf"^[{WS_CLASS}]+|[{WS_CLASS}]+$", "")
    )

# regex-token pattern: word / number / single symbol (BPE-ish
# pre-tokenizer). Whitespace is excluded from the symbol branch —
# counting every tab/newline as a token skewed n_re_tokens by ~2 per
# line on multi-line text (both engines agreed, so the gate never saw
# it; the STATISTIC was wrong).
RE_TOKEN_PAT = f"[a-z]+|[0-9]+|[^a-z0-9{WS_CLASS}]"


def _stopword_ratio_spark_sql(toks: str) -> str:
    """Spark SQL: the stopword share of the token array ``toks``, 0.0
    for no tokens. Shared by stopword_ratio_expr and the bound token
    array of quality_features_expr."""
    sw = "array(" + ", ".join(f"'{w}'" for w in STOPWORDS) + ")"
    n = f"size({toks})"
    n_sw = f"size(filter({toks}, t -> array_contains({sw}, t)))"
    return f"CASE WHEN {n} > 0 THEN CAST({n_sw} AS DOUBLE) / {n} ELSE 0.0D END"


def stopword_ratio_expr(text_sql: str) -> Column:
    return F.expr(_stopword_ratio_spark_sql(P.tokens_spark_sql(text_sql)))


def stopword_ratio_sql(expr: str) -> str:
    toks = P.tokens_sql(expr)
    sw = "[" + ", ".join(f"'{w}'" for w in STOPWORDS) + "]"
    return (
        f"CASE WHEN len({toks}) > 0 THEN "
        f"len(list_filter({toks}, t -> list_contains({sw}, t)))::DOUBLE"
        f" / len({toks}) ELSE 0.0 END"
    )


# character set the punct strip keeps, shared by both engines. translate()
# (a per-char map, no regex) deletes these from lower(text); what remains
# is the punctuation. Value-identical to the previous
# regexp_replace(lower(text), '[^a-z0-9 ]', '') formulation — the kept
# count is length(lower) - length(translate) in both — but ~18x faster on
# the Spark side (java.util.regex rewrote the whole string per row; this
# is the hot scalar of the per-document featurization family:
# quality_filter_funnel / source_data_card / training_manifest_full).
PUNCT_KEEP = "abcdefghijklmnopqrstuvwxyz0123456789 "


def punct_ratio_sql(expr: str) -> str:
    low = P.lower_sql(expr)
    kept = f"(length({low}) - length(translate({low}, '{PUNCT_KEEP}', '')))"
    return (
        f"CASE WHEN length({expr}) > 0 THEN "
        f"(length({expr}) - {kept})::DOUBLE / length({expr})"
        f" ELSE 0.0 END"
    )


def uniq_token_ratio_sql(expr: str) -> str:
    toks = P.tokens_sql(expr)
    return (
        f"CASE WHEN len({toks}) > 0 THEN "
        f"len(list_distinct({toks}))::DOUBLE / len({toks}) ELSE 0.0 END"
    )


def quality_score_sql(expr: str) -> str:
    n = f"len({P.tokens_sql(expr)})"
    len_ok = f"CASE WHEN {n} >= 5 AND {n} <= 1000 THEN 1.0 ELSE 0.0 END"
    low_punct = f"greatest(0.0, 1.0 - {punct_ratio_sql(expr)} * 5.0)"
    sw_ok = f"least(1.0, {stopword_ratio_sql(expr)} * 10.0)"
    return P.rounded_sql(
        f"0.25 * ({len_ok}) + 0.25 * ({low_punct})"
        f" + 0.25 * ({sw_ok}) + 0.25 * ({uniq_token_ratio_sql(expr)})"
    )


def quality_score_expr(text_sql: str) -> Column:
    """[0,1] quality heuristic: length band + low punctuation +
    stopword presence (fluency proxy) + lexical diversity. The
    ``quality`` field of quality_features_expr, so the tokenizer runs
    once behind its bind-once barrier — the inline formulation
    re-tokenized 4x per row with no CSE (measured ~5x slower on the
    data-card projection)."""
    return quality_features_expr(text_sql)[0]["quality"]


def quality_features_expr(text_sql: str) -> Column:
    """1-element ``array<struct<punct_ratio, uniq_ratio, quality,
    n_tokens, stopword_ratio>>`` over a SQL column reference, with the
    token array and the punct ratio bound ONCE as a lambda variable —
    callers ``explode()`` it so the tokenizer (the expensive regex)
    runs once per row instead of 5x. A plain shared-Project split gets
    re-inlined by CollapseProject (see operators/dedup.py simhash); a
    Generate node is a real barrier. The punct ratio binds too because
    HOF lambdas get no CSE: referenced twice unbound, it paid two
    lower+translate passes per row.

    ONE parsed expression string (r13): the Column-builder form cost
    ~150 py4j round-trips per plan build (each lambda is several
    gateway calls), ~0.15 s of driver latency on every plan that
    featurizes text. Pinned row for row to the DuckDB twins
    (punct_ratio_sql, uniq_token_ratio_sql, quality_score_sql,
    token_count_sql, stopword_ratio_sql) by
    tests/test_curation_ops.py::test_quality_features_expr_parity."""
    kept = (
        f"(length(lower({text_sql}))"
        f" - length(translate(lower({text_sql}), '{PUNCT_KEEP}', '')))"
    )
    pr = (
        f"CASE WHEN length({text_sql}) > 0 THEN"
        f" CAST((length({text_sql}) - {kept}) AS DOUBLE) / length({text_sql})"
        f" ELSE 0.0D END"
    )
    n = "size(b.toks)"
    swr = _stopword_ratio_spark_sql("b.toks")
    ur = (
        f"CASE WHEN {n} > 0 THEN"
        f" CAST(size(array_distinct(b.toks)) AS DOUBLE) / {n}"
        f" ELSE 0.0D END"
    )
    len_ok = f"CASE WHEN {n} >= 5 AND {n} <= 1000 THEN 1.0D ELSE 0.0D END"
    low_punct = "greatest(0.0D, 1.0D - b.pr * 5.0D)"
    sw_ok = f"least(1.0D, ({swr}) * 10.0D)"
    quality = (
        f"round(CAST(0.25D * ({len_ok}) + 0.25D * ({low_punct})"
        f" + 0.25D * ({sw_ok}) + 0.25D * ({ur}) AS DOUBLE), 6)"
    )
    return F.expr(
        f"transform(array(named_struct('toks', {P.tokens_spark_sql(text_sql)},"
        f" 'pr', {pr})),"
        f" b -> named_struct("
        f"'punct_ratio', round(CAST(b.pr AS DOUBLE), 6),"
        f" 'uniq_ratio', round(CAST({ur} AS DOUBLE), 6),"
        f" 'quality', {quality},"
        f" 'n_tokens', CAST({n} AS INT),"
        f" 'stopword_ratio', {swr}))"
    )


def ws_token_count(text: Column) -> Column:
    return F.size(
        F.filter(
            F.split(F.trim(text), f"[{WS_CLASS}]+"), lambda t: t != F.lit("")
        )
    )


def ws_token_count_sql(expr: str) -> str:
    return (
        f"len(list_filter(string_split_regex(trim({expr}), '[{WS_CLASS}]+'),"
        " t -> t <> ''))"
    )


def re_token_count(text: Column) -> Column:
    """BPE-ish pre-tokenizer count: words / digit runs / single symbols."""
    return F.size(F.regexp_extract_all(F.lower(text), F.lit(RE_TOKEN_PAT), 0))


def re_token_count_sql(expr: str) -> str:
    return f"len(regexp_extract_all({P.lower_sql(expr)}, '{RE_TOKEN_PAT}'))"


# --- repetition signals (Gopher-style quality rules) ----------------------
# Per-row array expressions: the Spark form sorts hashed gram ids once
# (repetition_features_expr); the DuckDB twins count true string grams
# as distinct-grams x scan, O(u*n) per document. Both are fine for
# per-row corpus docs; a pipeline facing book-length texts would
# explode grams and count via groupBy(doc_id, gram) instead (one
# shuffle keyed on the doc), trading per-row cost for a keyed
# aggregation. Ratios are exact int/int divisions, identical across
# engines; rounded anyway to stay inside the portable-parity contract
# (functions/portable.py).


def ngrams_sql(toks: str, n: int) -> str:
    """Adjacent token n-grams joined by '_' (empty below n tokens)."""
    parts = " || '_' || ".join(f"{toks}[i + {j}]" for j in range(n))
    return (
        f"list_transform(range(1, greatest(len({toks}) - {n - 2}, 1)),"
        f" i -> {parts})"
    )


def top_ngram_ratio_sql(expr: str, n: int = 2) -> str:
    """Fraction of the document's n-gram instances taken by its single
    most frequent n-gram (Gopher: high -> boilerplate/repetition)."""
    toks = P.tokens_sql(expr)
    g = ngrams_sql(toks, n)
    freqs = "list_transform(list_distinct(g), x -> len(list_filter(g, y -> y = x)))"
    ratio = (
        f"CASE WHEN len(g) > 0 THEN "
        f"{P.rounded_sql(f'list_max({freqs})::DOUBLE / len(g)')}"
        f" ELSE 0.0 END"
    )
    return f"list_transform([{g}], g -> {ratio})[1]"


# Single-pass joined-token string: tokens are strictly [a-z0-9]+ (the
# shared tokenizer alphabet), so the \x1f unit separator cannot occur
# inside one and gram boundaries are unambiguous.
TOKEN_SEP = "\x1f"
_PAIR_RE = f"[^{TOKEN_SEP}]+{TOKEN_SEP}[^{TOKEN_SEP}]+"
_TRIPLE_RE = (
    f"[^{TOKEN_SEP}]+{TOKEN_SEP}[^{TOKEN_SEP}]+{TOKEN_SEP}[^{TOKEN_SEP}]+"
)


def joined_tokens_sql(text_sql: str) -> str:
    """Spark SQL: the P.tokens_spark_sql token list as ONE \\x1f-joined
    string, built by a single linear regexp_replace — identical content
    to ``array_join(tokens, TOKEN_SEP)`` (separator runs collapse
    to one \\x1f; btrim clears the leading/trailing separator that
    split turns into empty tokens) without materializing the array."""
    return (
        f"btrim(regexp_replace(lower({text_sql}),"
        f" '{P.TOKEN_SPLIT_RE}', '{TOKEN_SEP}'), '{TOKEN_SEP}')"
    )


def _strip_first_token_sql(s: str) -> str:
    return f"regexp_replace({s}, '^[^{TOKEN_SEP}]+{TOKEN_SEP}', '')"


def hashed_ngram_ids_expr(text_sql: str, n: int) -> Column:
    """``array<bigint>``: xxhash64 of every token n-gram of the SQL
    column ``text_sql`` (with multiplicity, arbitrary order). The gram
    strings come from n shifted CONSUMING regex passes over the
    joined-token string (the repetition_features_expr shape) and are
    hashed immediately — callers that only need gram EQUALITY (dedup
    blocking, decontamination overlap counts, distinct-set sizes) get
    long sorts/joins/group-bys instead of multi-byte string ones, and
    no concat_ws allocation per gram. Measured on the x100 probe
    corpus: the 5-gram shingle explode+groupBy stage went 10.6 s ->
    2.8 s vs the concat_ws(slice) build.

    NOT value-interchangeable with string grams where the gram text
    surfaces (boilerplate reports) or feeds a pinned hash family
    (MinHash/SimHash md5 signatures) — those keep string shingles.
    Within-corpus 64-bit collisions are the only way counts could
    differ from the string form (~2.6e-5 for 25M distinct shingles);
    the DuckDB oracle twins keep counting true string grams, so the
    driver hash gate continuously re-proves the equivalence, and
    tests/test_hashed_grams.py pins the multiset against
    xxhash64(concat_ws(slice)). One parsed string: the Column form
    cost ~60 ms of py4j lambda construction per plan build."""
    pat = TOKEN_SEP.join([f"[^{TOKEN_SEP}]+"] * n)
    parts = ["s"]
    for _ in range(n - 1):
        parts.append(_strip_first_token_sql(parts[-1]))
    grams = ", ".join(
        f"transform(regexp_extract_all({p}, '{pat}', 0), x -> xxhash64(x))"
        for p in parts
    )
    return F.expr(
        f"transform(array({joined_tokens_sql(text_sql)}),"
        f" s -> concat({grams}))[0]"
    )


def repetition_features_expr(text_sql: str) -> Column:
    """1-element ``array<struct<top_2gram_ratio, dup_3gram_ratio>>``
    over a SQL column reference computing BOTH Gopher repetition
    signals — callers ``explode()`` it. Pinned row for row to
    top_ngram_ratio_sql(2) / dup_ngram_ratio_sql(3) by
    tests/test_pipeline_ops.py::test_repetition_features_matches_single_signal_fns.

    Shape, chosen by measurement (all value-identical variants, A/B'd
    interleaved in one session on the x100 probe corpus):
    - tokens live as ONE joined string (joined_tokens_sql);
    - n-grams come from CONSUMING regex passes at shifted token
      offsets (2 passes for 2-grams, 3 for 3-grams, each linear and
      non-overlapping; order doesn't matter because the stats sort) —
      ~2.4x cheaper than a per-element element_at+concat_ws HOF build;
    - each gram immediately becomes its xxhash64 LONG: the stats
      depend only on gram equality classes, which hashing preserves
      (a within-document 64-bit collision — ~1e4 grams/doc, p ~ 5e-12
      per doc — is the only way values could differ from the string
      form; the DuckDB twins count true string grams, so the driver
      hash gate continuously re-proves this);
    - frequencies come from neighbor-equality FLAGS over the
      once-sorted long array and arithmetic-only 2-int folds — 4.4x
      faster than a string sort + (prev, run, acc) struct fold at x100
      (12.7 s -> 2.9 s, 500k docs): the interpreted per-element step
      drops from 8 null-checking string compares to 2-3 int ops.
    Rejected on measurement: per-char zero-width lookahead gram
    extraction (~1.4x whole-query cost), run-finding via backreference
    regex on an RS-joined sorted gram string (array_join dominated),
    flag folds over STRING arrays (slice/zip_with allocs dominated),
    struct grams (struct sort slower than string sort), pyspark.ml
    NGram (marginal), explode+groupBy (2-4x slower).
    Each stage binds once as a lambda variable (HOF lambdas get no
    CSE; an unbound array_sort inside a lambda re-sorts PER ELEMENT —
    measured 68 s vs 3 s at x100). One parsed string: the Column form
    built ~20 nested lambda HOFs (~150 ms of py4j per plan build)."""
    s1 = _strip_first_token_sql("s")
    s2 = _strip_first_token_sql(s1)
    g2 = (
        f"concat(regexp_extract_all(s, '{_PAIR_RE}', 0),"
        f" regexp_extract_all({s1}, '{_PAIR_RE}', 0))"
    )
    g3 = (
        f"concat(regexp_extract_all(s, '{_TRIPLE_RE}', 0),"
        f" regexp_extract_all({s1}, '{_TRIPLE_RE}', 0),"
        f" regexp_extract_all({s2}, '{_TRIPLE_RE}', 0))"
    )
    grams = (
        f"named_struct("
        f"'gt', transform({g2}, x -> xxhash64(x)),"
        f" 'gd', transform({g3}, x -> xxhash64(x)))"
    )

    def eq_flags(g: str) -> str:
        return (
            f"transform(array(array_sort({g})),"
            f" s -> zip_with(slice(s, 1, size({g}) - 1),"
            f" slice(s, 2, size({g}) - 1),"
            f" (a, b) -> CAST((a = b) AS INT)))[0]"
        )

    # max gram frequency = 1 + the longest run of 1-flags; run' =
    # (run+1)*f zeroes the run on every 0-flag without branching
    def mx_from_flags(fl: str) -> str:
        return (
            f"1 + aggregate({fl},"
            f" named_struct('run', 0, 'mx', 0),"
            f" (acc, f) -> named_struct('run', (acc.run + 1) * f,"
            f" 'mx', greatest(acc.mx, (acc.run + 1) * f)),"
            f" acc -> greatest(acc.mx, acc.run))"
        )

    # a maximal run of k 1-flags is k+1 equal grams: on each 0-flag
    # the closing run pays run + min(run, 1)
    def dup_from_flags(fl: str) -> str:
        return (
            f"aggregate({fl},"
            f" named_struct('run', 0, 'dup', 0),"
            f" (acc, f) -> named_struct('run', (acc.run + 1) * f,"
            f" 'dup', acc.dup + (1 - f) * (acc.run + least(acc.run, 1))),"
            f" acc -> acc.dup + acc.run + least(acc.run, 1))"
        )

    top = (
        f"CASE WHEN size(gs.gt) > 0 THEN"
        f" round(CAST(CAST(({mx_from_flags(eq_flags('gs.gt'))}) AS DOUBLE)"
        f" / size(gs.gt) AS DOUBLE), 6)"
        f" ELSE 0.0D END"
    )
    dup = (
        f"CASE WHEN size(gs.gd) > 0 THEN"
        f" round(CAST(CAST(({dup_from_flags(eq_flags('gs.gd'))}) AS DOUBLE)"
        f" / size(gs.gd) AS DOUBLE), 6)"
        f" ELSE 0.0D END"
    )
    ratios = (
        f"named_struct('top_2gram_ratio', {top}, 'dup_3gram_ratio', {dup})"
    )
    return F.expr(
        f"transform(transform(array({joined_tokens_sql(text_sql)}),"
        f" s -> {grams}), gs -> {ratios})"
    )


def dup_ngram_ratio_sql(expr: str, n: int = 3) -> str:
    """Fraction of n-gram instances whose n-gram occurs more than once
    in the document (Gopher's duplicate-n-gram-fraction)."""
    toks = P.tokens_sql(expr)
    g = ngrams_sql(toks, n)
    dup = (
        "list_sum(list_transform(list_distinct(g),"
        " x -> CASE WHEN len(list_filter(g, y -> y = x)) > 1"
        " THEN len(list_filter(g, y -> y = x)) ELSE 0 END))"
    )
    ratio = (
        f"CASE WHEN len(g) > 0 THEN "
        f"{P.rounded_sql(f'({dup})::DOUBLE / len(g)')}"
        f" ELSE 0.0 END"
    )
    return f"list_transform([{g}], g -> {ratio})[1]"


# --- BPE-style pretokenizer (portable: no lookahead, ASCII classes) -------

# GPT-2's pretokenizer splits contractions / letter runs / digit runs /
# punctuation runs; its real pattern needs lookahead + unicode
# categories, which RE2 (DuckDB) lacks — this is the lookahead-free
# ASCII projection, identical under Java regex and RE2.
BPE_SPLIT_RE = (
    r"'(?:s|t|re|ve|m|ll|d)|[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9" + WS_CLASS + "]+"
)


def bpe_tokens(text):
    from pyspark.sql import functions as F

    return F.regexp_extract_all(text, F.lit(BPE_SPLIT_RE), 0)


def bpe_tokens_sql(expr: str) -> str:
    return f"regexp_extract_all({expr}, $bpe${BPE_SPLIT_RE}$bpe$)"
