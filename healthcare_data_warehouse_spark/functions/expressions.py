"""Pure Column-expression library.

The reference implements these as row-at-a-time Python UDFs applied with
``Series.apply`` (scripts/etl.py:35-72,102-107) or as dbt-compiled SQL
(fact_visits.sql:40-51). Here each is a native Column expression so it runs
inside whole-stage codegen on the JVM — the single biggest structural
speedup over the reference's ETL loop (SURVEY.md §2.8, §2.10 X1/X2).

Determinism contract: every expression that the DuckDB oracle replays must
be bit-reproducible across engines. Two rules follow:

1. Time is parameterized (``as_of``), never ``current_date()``.
2. Sums/averages of doubles go through ``dec_sum``/``dsum``/``davg``, which
   have exact DECIMAL(18,4) semantics (each value rounded to 4dp once; the
   sum exact and order-independent — a distributed sum of doubles is NOT
   reproducible across partitionings) and only then cast to double.
   Grouped sums accumulate the rounded values' unscaled longs in int64
   limbs, not in a per-row decimal: the same idea as the power-iteration's
   int64 micro-unit sums.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.window import WindowSpec

from ..config import AS_OF_DATE, DP_EPSILON, DP_SENSITIVITY

# ---------------------------------------------------------------------------
# Anonymization / privacy (reference: scripts/etl.py:35-37, 65-72)
# ---------------------------------------------------------------------------


def anonymize(col: Column | str) -> Column:
    """SHA-256 hash of a PII string column (hex, lowercase).

    Reference: ``hashlib.sha256(name.encode()).hexdigest()``
    (scripts/etl.py:35-37). DuckDB's ``sha256()`` matches bit-for-bit.
    """
    return F.sha2(F.col(col) if isinstance(col, str) else col, 256)


# Salt for the hash-derived DP uniform. A *fixed* salt keeps results
# reproducible run-to-run; rotating it per release re-randomizes the noise
# without touching code.
DP_HASH_SALT = "lap1:"

# 2^52 as a double — exact. (v + 0.5) / 2^52 with v drawn from 52 md5 bits
# is pure IEEE arithmetic (integer + 0.5, then division by a power of two),
# so Spark and DuckDB produce identical bits for the uniform.
_TWO_POW_52 = 4503599627370496.0


def hash_uniform(key: Column | str, salt: str = DP_HASH_SALT) -> Column:
    """Deterministic uniform in (0, 1) from the top 52 bits of md5(salt||key).

    md5 is bit-identical in Spark and DuckDB, so unlike ``F.rand(seed)``
    (whose xorshift stream depends on Spark's partition layout) this uniform
    is replayable by the oracle: Spark reads the first 13 hex chars via
    ``conv(·,16,10)``, DuckDB via ``('0x' || substr(md5(·),1,13))::BIGINT``.
    The +0.5 offset keeps u strictly inside (0,1) so ln(1-2|u-1/2|) is finite.
    """
    k = F.col(key) if isinstance(key, str) else key
    h = F.md5(F.concat(F.lit(salt), k.cast("string")))
    v = F.conv(F.substring(h, 1, 13), 16, 10).cast("long")
    return (v + F.lit(0.5)) / F.lit(_TWO_POW_52)


def hash52(col: Column | str, salt: str = "") -> Column:
    """52-bit hash in [0, 2^52) from the top 13 hex chars of md5(salt||col).

    The oracle-replayable stand-in for ``F.xxhash64``: DuckDB has no
    xxhash, but md5 is bit-identical in both engines, so any operator
    whose output depends on hash VALUES (MinHash signatures, SimHash
    bits, CMS buckets, LSH bands) becomes hash-certifiable by swapping
    its hash family to this. DuckDB side: ``ohash52``.
    """
    c = F.col(col) if isinstance(col, str) else col
    h = F.md5(F.concat(F.lit(salt), c.cast("string")))
    return F.conv(F.substring(h, 1, 13), 16, 10).cast("long")


def ohash52(sql: str, salt: str = "") -> str:
    """DuckDB-SQL fragment bit-equivalent to ``hash52``."""
    return (f"(('0x' || substr(md5('{salt}' || CAST({sql} AS VARCHAR)), 1, 13))"
            f"::BIGINT)")


def md5hex(col: Column | str, salt: str = "") -> Column:
    """md5(salt||col) hex Column — slice disjoint hex ranges with
    ``hexslice`` to derive SEVERAL independent sub-hashes from ONE md5
    evaluation (whole-stage codegen's common-subexpression elimination
    computes the md5 once however many slices reference it). 32 hex chars
    = 128 bits to budget across slices."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(F.concat(F.lit(salt), c.cast("string")))


def hexslice(m: Column, start: int, n_hex: int) -> Column:
    """Long from ``n_hex`` hex chars of an md5 Column at 1-based ``start``
    (n_hex ≤ 15 keeps the value positive in a signed long). DuckDB side:
    ``('0x' || substr(m, start, n_hex))::BIGINT``."""
    return F.conv(F.substring(m, start, n_hex), 16, 10).cast("long")


def laplace_noise_hash(key: Column | str, epsilon: float = DP_EPSILON,
                       sensitivity: float = DP_SENSITIVITY,
                       salt: str = DP_HASH_SALT) -> Column:
    """Laplace(0, sensitivity/epsilon) noise keyed on a row identifier.

    Inverse-CDF of a uniform that comes from ``hash_uniform`` (md5 bits)
    instead of ``F.rand``: per-row values are a pure function of the key,
    independent of partitioning, and replayable bit-for-bit by the DuckDB
    oracle (verified: 0/150000 mismatches at sf0.1 after 2dp rounding).
    Reference semantics unchanged (np.random.laplace, scripts/etl.py:65-72).
    """
    scale = sensitivity / epsilon
    u = hash_uniform(key, salt) - F.lit(0.5)
    return -F.lit(scale) * F.signum(u) * F.log(1 - 2 * F.abs(u))


def with_privacy_noise_hash(cost: Column | str, key: Column | str,
                            epsilon: float = DP_EPSILON,
                            sensitivity: float = DP_SENSITIVITY,
                            salt: str = DP_HASH_SALT) -> Column:
    """cost + key-derived Laplace noise, clamped at 0 (fact_visits.sql:40-44)."""
    c = F.col(cost) if isinstance(cost, str) else cost
    return F.greatest(F.lit(0.0), c + laplace_noise_hash(key, epsilon, sensitivity, salt))


def olaplace_noise(key_sql: str, epsilon: float = DP_EPSILON,
                   sensitivity: float = DP_SENSITIVITY,
                   salt: str = DP_HASH_SALT) -> str:
    """DuckDB-SQL fragment bit-equivalent to ``laplace_noise_hash``."""
    scale = sensitivity / epsilon
    u = (f"((('0x' || substr(md5('{salt}' || CAST({key_sql} AS VARCHAR)), 1, 13))::BIGINT"
         f" + 0.5) / {_TWO_POW_52!r} - 0.5)")
    return f"(-({scale!r}) * sign({u}) * ln(1 - 2 * abs({u})))"


# ---------------------------------------------------------------------------
# Age / bucketing (reference: scripts/etl.py:40-62)
# ---------------------------------------------------------------------------


def age_years(dob: Column | str, as_of: str = AS_OF_DATE) -> Column:
    """Completed years between ``dob`` and ``as_of``.

    Reference semantics (scripts/etl.py:40-46): year difference minus one
    when the birthday hasn't passed yet. Expressed with year/month/day
    arithmetic (not months_between) so the DuckDB oracle can replay it
    exactly.
    """
    d = F.col(dob) if isinstance(dob, str) else dob
    d = d.cast("date")
    ref = dt.date.fromisoformat(as_of)
    not_passed = (F.month(d) > ref.month) | ((F.month(d) == ref.month) & (F.dayofmonth(d) > ref.day))
    return (F.lit(ref.year) - F.year(d) - not_passed.cast("int")).cast("int")


def age_bucket(age: Column | str) -> Column:
    """Age → age-group label, reference buckets (scripts/etl.py:49-62).

    Boundaries: <18 Child, <35 Young Adult, <50 Adult, <65 Middle-Aged,
    else Senior; NULL → Unknown.
    """
    a = F.col(age) if isinstance(age, str) else age
    return (
        F.when(a.isNull(), "Unknown")
        .when(a < 18, "Child (0-17)")
        .when(a < 35, "Young Adult (18-34)")
        .when(a < 50, "Adult (35-49)")
        .when(a < 65, "Middle-Aged (50-64)")
        .otherwise("Senior (65+)")
    )


def balance_bucket(bal: Column | str) -> Column:
    """Account-balance bucket — the driver-data analog of age_bucket.

    Same CASE-chain shape as scripts/etl.py:49-62 applied to the TPC-H-ish
    ``c_acctbal`` (domain roughly [-1000, 10000]).
    """
    b = F.col(bal) if isinstance(bal, str) else bal
    return (
        F.when(b.isNull(), "Unknown")
        .when(b < 0, "Negative")
        .when(b < 2000, "Low")
        .when(b < 5000, "Medium")
        .when(b < 8000, "High")
        .otherwise("Top")
    )


def visit_cohort(n: Column | str) -> Column:
    """Visit-frequency cohort buckets (analytics_examples.sql:114-129)."""
    c = F.col(n) if isinstance(n, str) else n
    return (
        F.when(c == 1, "1 visit")
        .when(c <= 3, "2-3 visits")
        .when(c <= 5, "4-5 visits")
        .otherwise("6+ visits")
    )


def valid_record(*cols: str) -> Column:
    """Conjunctive NOT-NULL validity flag (scripts/etl.py:110,206-211)."""
    expr = F.lit(True)
    for c in cols:
        expr = expr & F.col(c).isNotNull()
    return expr


# ---------------------------------------------------------------------------
# Oracle-reproducible numeric aggregates
# ---------------------------------------------------------------------------

_DEC = "decimal(18,4)"


def round2(col: Column, digits: int = 2) -> Column:
    """Bit-reproducible decimal rounding of a double.

    ``F.round`` on a double converts through the *shortest decimal
    representation* (JVM ``BigDecimal.valueOf``) and rounds HALF_UP, while
    DuckDB rounds the true binary value — e.g. the double nearest
    4201.315 rounds to 4201.32 in Spark but 4201.31 in DuckDB. The
    ``floor(x * 10^d + 0.5) / 10^d`` formula is pure IEEE double
    arithmetic, so both engines produce identical bits. Oracle side:
    ``floor((x) * 100 + 0.5) / 100``.
    """
    scale = 10 ** digits
    return F.floor(col * scale + F.lit(0.5)) / F.lit(scale)


def _oround(x: str, digits: int = 2) -> str:
    """Oracle-SQL fragment equivalent of ``round2``."""
    scale = 10 ** digits
    return f"floor(({x}) * {scale} + 0.5) / {scale}"


_LIMB_BITS = 21
_LIMB_MASK = (1 << _LIMB_BITS) - 1


def _unscaled(x: str) -> str:
    """SQL for the unscaled long of ``CAST(x AS DECIMAL(18,4))``, per row.

    The cast rounds the shortest decimal string of x (``Double.toString``)
    HALF_UP to 4dp. That string is within 0.5 ulp(x) of x, and
    ``y = fl(x·1e4)`` is within 0.5 ulp(y) of x·1e4, so y is within 1.5
    ulp(y) < |y|·1e-15 of the value the cast rounds. When |y| < 1e15 and
    y's fraction is farther than that (plus 1e-9) from .5, ``rint(y)`` is
    the cast's integer. The rest (ties, |x| ≥ 1e11, NaN/±Inf, null) take
    the cast itself, which keeps its ANSI ``NUMERIC_VALUE_OUT_OF_RANGE``
    for |x| ≥ 1e14 and its NULL for NaN/±Inf. The same bounds hold for a
    decimal or integral x: its double is correctly rounded too.
    """
    y = f"(({x}) * 10000D)"
    return (f"CASE WHEN abs({y}) < 1e15D AND 0.5D - abs({y} - rint({y}))"
            f" > abs({y}) * 1e-15D + 1e-9D THEN CAST(rint({y}) AS BIGINT)"
            f" ELSE CAST(CAST({x} AS {_DEC}) * 10000 AS BIGINT) END")


def _limb_sum(x: str) -> str:
    """SQL for the exact decimal(28,4) sum from three 21-bit limb sums.

    |unscaled| < 1e18 < 2^60: the two low limbs are in [0, 2^21), the
    signed high limb in [-2^18, 2^18]. Each limb sum stays inside int64
    for 2^42 rows (4.4 trillion) in one group; the decimal(28,4) sum of
    that many large values overflows long before. The limb sums are
    combined once per group, hi·2^42 + mid·2^21 + lo unscaled, with exact
    decimal products (2^42·1e-4 and 2^21·1e-4 are finite decimals); the
    final cast overflows exactly where the decimal(28,4) sum does."""
    u = _unscaled(x)
    lo = f"sum(({u}) & {_LIMB_MASK})"
    mid = f"sum(shiftright({u}, {_LIMB_BITS}) & {_LIMB_MASK})"
    hi = f"sum(shiftright({u}, {2 * _LIMB_BITS}))"
    return (f"CAST(CAST({hi} AS DECIMAL(20,0)) * 439804651.1104BD"
            f" + CAST({mid} AS DECIMAL(20,0)) * 209.7152BD"
            f" + CAST({lo} AS DECIMAL(20,0)) * 0.0001BD AS DECIMAL(28,4))")


def dec_sum(x: str, over: WindowSpec | None = None) -> Column:
    """Exact ``sum(CAST(x AS DECIMAL(18,4)))`` without a per-row decimal.

    ``x`` is a SQL expression over the frame's columns (a column name is
    one). Returns the decimal(28,4) that ``F.sum(F.expr(x).cast(
    "decimal(18,4)"))`` (``.over(over)`` when given) returns, bit for bit,
    for a double, decimal or integral ``x``. Each row's cast value is
    taken as its unscaled long (``_unscaled``: a double ``rint`` with a
    proven error margin, the cast itself only at the margin), split into
    three 21-bit limbs, and the limbs are summed as plain int64 — exact
    and order-independent like the decimal sum, without its per-row
    ``Double.toString`` → ``BigDecimal`` and decimal(28,4) buffer update.
    This is the idea of Spark's ``DecimalAggregates`` rule (sum unscaled
    longs), which only fires for precision + 10 ≤ 18 and so never for
    decimal(18,4).

    The kernel is SQL text parsed by one ``F.expr``: built from PySpark
    Column operations it took about 60 py4j round trips, 64 ms per
    ``dsum`` on a 4-core host, which the catalog paid on every plan build.
    Its generated code is about 2.8× the decimal sum's, so the first
    aggregate of each shape in a fresh JVM runs slower than the decimal
    sum would (ROADMAP, Direction 1, "the limb kernel's cold start").

    A window (``over``) keeps the decimal sum. Spark's Window operator
    updates and emits each window function on every row, and gives every
    reference to one its own function, so the limbs cost three or more
    functions where the decimal sum costs one: over sf0.1 orders
    (``partitionBy(o_custkey)``, 4 cores) three limb sums with the
    combine above them took 0.60 s, the decimal sum 0.51 s.
    Oracle side: ``sum(CAST(x AS DECIMAL(18,4)))``."""
    if over is not None:
        return F.expr(f"sum(CAST({x} AS {_DEC}))").over(over)
    return F.expr(_limb_sum(x))


def dsum(x: str, over: WindowSpec | None = None) -> Column:
    """Order-independent SUM of a double SQL expression, as a double.

    A distributed double sum depends on partition combine order; at 100 TB
    two runs of the same query can differ in the last ulps, and the DuckDB
    oracle would differ too. This is the exact decimal(18,4) sum of
    ``dec_sum`` (each input rounded to 4dp once, deterministically) cast to
    double once per group. Oracle side:
    ``CAST(sum(CAST(x AS DECIMAL(18,4))) AS DOUBLE)``.
    """
    return dec_sum(x, over).cast("double")


def davg(x: str, over: WindowSpec | None = None) -> Column:
    """Order-independent AVG of a double SQL expression (see ``dsum``).

    Exact decimal sum cast to double, then double division by the count —
    matches DuckDB bit-for-bit via
    ``CAST(sum(CAST(x AS DECIMAL(18,4))) AS DOUBLE) / count(x)``.
    """
    n = F.expr(f"count({x})")
    return dsum(x, over) / (n.over(over) if over is not None else n)
