"""Portable deterministic primitives: one Spark form and one DuckDB-SQL
twin of each.

The driver's correctness gate runs every declared query in BOTH engines
and hash-compares values, so each deterministic function here has two
implementations generated from the same constants:

  ``foo_spark_sql(expr)`` -> Spark SQL fragment, for ``selectExpr`` /
                             ``F.expr`` (one parse instead of a py4j
                             round-trip per Column node)
  ``foo_sql(expr)``       -> DuckDB SQL fragment computing the identical
                             value

``md5_long`` and ``rounded``, a few JVM calls each, stay Column
builders beside their ``*_sql`` twins. Driver-side values have Python
twins (``tokens_py``, ``round_half_up``), each pinned to the JVM form.

Conventions that make the hashes match:
  - every float that reaches an output is ``round(x, ROUND_DIGITS)``
  - all accumulation happens in DOUBLE on both sides
  - the shared hash is md5-based (both engines produce identical
    lowercase hex), folded to a non-negative 60-bit BIGINT
  - tokenization is lowercase + split on ``[^a-z0-9]+`` with empty
    tokens dropped (reference analyzer declared in SURVEY.md §7 step 5)

The full contract, including the CLOSED list of accepted float-fold
exceptions (PQ ADC s-ordered fold, hyperplane-LSH sign-on-rounded-dot,
MMR round-before-max), lives in PARITY.md at the repo root.
"""

from __future__ import annotations

import decimal
import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..plans.constants import ROUND_DIGITS

TOKEN_SPLIT_RE = "[^a-z0-9]+"


# ---------------------------------------------------------------------------
# hashing
# ---------------------------------------------------------------------------

def md5_long(col: Column, seed: str = "") -> Column:
    """Deterministic non-negative 60-bit hash of a string column.

    Replaces the reference's salted ``abs(hash(x)) % 2**63`` point-id
    synthesis (reference app/main.py:137, scripts/indexing.py:557) with
    a run-reproducible hash — documented fidelity improvement
    (SURVEY.md §1.4).
    """
    payload = F.concat(F.lit(f"{seed}|"), col) if seed else col
    return F.conv(F.substring(F.md5(payload), 1, 15), 16, 10).cast("bigint")


def md5_long_sql(expr: str, seed: str = "") -> str:
    payload = f"'{seed}|' || ({expr})" if seed else f"({expr})"
    return f"('0x' || substr(md5({payload}), 1, 15))::BIGINT"


# ---------------------------------------------------------------------------
# tokenizer
# ---------------------------------------------------------------------------

_TOKEN_RE = re.compile("[a-z0-9]+")


def tokens_py(text: str) -> list[str]:
    """Python twin of ``tokens_spark_sql`` for driver-side values
    (query terms, query embeddings): the non-empty [a-z0-9] runs of the
    lowercased text are exactly what splitting on [^a-z0-9]+ and
    dropping the empty strings leaves. Pinned against the JVM form over
    an edge corpus (tests/test_query_literals.py::test_tokens_py_parity)."""
    return _TOKEN_RE.findall(text.lower())


def lower_sql(expr: str) -> str:
    """DuckDB twin of Spark ``lower``. Java lowercases İ (U+0130) to
    i + U+0307 COMBINING DOT ABOVE, so Spark splits "İstanbul" into
    ['i', 'stanbul']; DuckDB lowercases it to a bare i, one token. The
    replace spells the Java mapping out first. Java's other special
    lowercase (final sigma) stays non-ASCII and one character, so no
    token, length or [a-z0-9] count changes. Every DuckDB twin of a
    Spark ``lower`` calls this (tests/test_text_twins.py pins them)."""
    return f"lower(replace({expr}, chr(304), 'i' || chr(775)))"


def tokens_sql(expr: str) -> str:
    return (
        f"list_filter(string_split_regex({lower_sql(expr)}, '{TOKEN_SPLIT_RE}'),"
        " t -> t <> '')"
    )


def tokens_spark_sql(expr: str) -> str:
    """array<string> of non-empty lowercase tokens of the SQL
    expression ``expr`` — the only Spark form of the tokenizer.

    A DIRECT regex split + array_remove, the same shape as the DuckDB
    twin (string_split_regex + list_filter). Two rejected alternatives,
    both measured on the x100 probe corpus: a higher-order-function
    filter (interpreted per element, ~3x slower) and the earlier
    regexp_replace-collapse + trim + split (value-identical, but the
    replace pass REWRITES every multi-KB string before splitting — ~10%
    slower warm and ~5x slower on the cold JIT path). Splitting on
    [^a-z0-9]+ yields empty strings only at a leading/trailing
    separator run, which array_remove clears, so the token list is
    identical across all three forms (edge cases pinned in the
    tokenizer A/B: empty, all-separator, unicode, newline/tab)."""
    return f"array_remove(split(lower({expr}), '{TOKEN_SPLIT_RE}'), '')"


def token_count_sql(expr: str) -> str:
    return f"len({tokens_sql(expr)})"


# ---------------------------------------------------------------------------
# vector math (arrays accumulated in DOUBLE on both sides)
# ---------------------------------------------------------------------------
# The Spark forms are parsed SQL strings: the zip_with/aggregate lambda
# trees cost ~80 ms of py4j construction per cosine as Columns.

def dot_sql(a: str, b: str) -> str:
    return f"list_dot_product(({a})::DOUBLE[], ({b})::DOUBLE[])"


def dot_spark_sql(a: str, b: str) -> str:
    """Dot product of two array expressions: zip_with double products,
    accumulated left-assoc from 0.0 (the IEEE order the Python twins in
    operators/ann.py replicate)."""
    return (
        f"aggregate(zip_with({a}, {b},"
        " (x, y) -> cast(x as double) * cast(y as double)),"
        " 0.0D, (acc, x) -> acc + x)"
    )


def norm_sql(a: str) -> str:
    return f"sqrt({dot_sql(a, a)})"


def norm_spark_sql(a: str) -> str:
    return f"sqrt({dot_spark_sql(a, a)})"


def cosine_sql(a: str, b: str) -> str:
    return (
        f"coalesce({dot_sql(a, b)} / nullif({norm_sql(a)} * {norm_sql(b)}, 0.0), 0.0)"
    )


def cosine_case_spark_sql(dot: str, na: str, nb: str) -> str:
    """dot / (na * nb), and 0.0 where that denominator is not positive:
    the reference's zero-vector embedding-failure fallback
    (app/services/search_service.py:136). The one spelling of that
    CASE; every Spark cosine goes through it."""
    denom = f"({na}) * ({nb})"
    return f"CASE WHEN {denom} > 0.0D THEN ({dot}) / ({denom}) ELSE 0.0D END"


def cosine_spark_sql(a: str, b: str, na: str | None = None, nb: str | None = None) -> str:
    """Cosine similarity of two array expressions. ``na`` / ``nb`` are
    expressions holding norms the caller bound once (a column, a lambda
    variable, a literal); by default each norm is recomputed inline."""
    return cosine_case_spark_sql(
        dot_spark_sql(a, b),
        norm_spark_sql(a) if na is None else na,
        norm_spark_sql(b) if nb is None else nb,
    )


_QUANTA: dict[int, "decimal.Decimal"] = {}


def round_half_up(x: float, digits: int = ROUND_DIGITS) -> float:
    """Python twin of Spark ROUND on DOUBLE: HALF_UP over the SHORTEST
    decimal repr of the double (BigDecimal.valueOf = Double.toString,
    which Python's repr() also produces) — NOT over the exact binary
    expansion, and NOT Python round()'s banker's rounding. Any
    driver-side value that must compare equal to an engine-rounded
    value goes through this. Called from per-candidate scoring loops
    (rerank, ann), so the quantum is cached per digit count."""
    q = _QUANTA.get(digits)
    if q is None:
        q = _QUANTA.setdefault(digits, decimal.Decimal(1).scaleb(-digits))
    return float(
        decimal.Decimal(repr(x)).quantize(q, rounding=decimal.ROUND_HALF_UP)
    )


def rounded(col: Column, digits: int = ROUND_DIGITS) -> Column:
    return F.round(col.cast("double"), digits)


def rounded_sql(expr: str, digits: int = ROUND_DIGITS) -> str:
    return f"round(({expr})::DOUBLE, {digits})"


# ---------------------------------------------------------------------------
# driver-side values as plan literals
# ---------------------------------------------------------------------------

def local_values(spark, schema: str, rows: list[str]) -> DataFrame:
    """A LocalRelation of driver-side values under the DDL ``schema``
    ("dim INT, qcomp DOUBLE"): ``rows`` are SQL literal tuples
    ("3, 0.25D") typed like the schema, and none gives the empty
    relation. Building it parses one SQL string; collecting it runs no
    Spark job (a local table scan collects on the driver)."""
    cols = [c.split() for c in schema.split(",")]
    if not rows:
        nulls = ", ".join(f"CAST(NULL AS {t}) AS {n}" for n, t in cols)
        return spark.sql(f"SELECT {nulls} WHERE false")
    body = ", ".join(f"({r})" for r in rows)
    names = ", ".join(n for n, _ in cols)
    return spark.sql(f"SELECT * FROM VALUES {body} AS v({names})")


def collected(df: DataFrame) -> DataFrame:
    """``df``'s rows as a LocalRelation under ``df``'s schema: the plan
    runs once, and collecting the result, or a limit of it, runs no
    Spark job. The rows stay in the JVM (two py4j calls, none per row);
    PySpark's ``createDataFrame(rows)`` would re-parallelize them, and
    its collect is a job again."""
    jdf = df._jdf
    jss = df.sparkSession._jsparkSession
    return DataFrame(
        jss.createDataFrame(jdf.collectAsList(), jdf.schema()),
        df.sparkSession,
    )


def in_sql(col: str, literals: list[str]) -> str:
    """``col IN (...)`` over driver-side SQL literals, as one predicate
    string (one parse, however many values); false for none."""
    return f"{col} IN ({', '.join(literals)})" if literals else "false"
