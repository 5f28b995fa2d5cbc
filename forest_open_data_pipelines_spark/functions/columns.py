"""Column-expression helpers shared by operators.

These are Catalyst expressions (JVM-side, whole-stage-codegen'd), not
Python UDFs — the hot path never leaves the JVM.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MONEY_DP = 2  # decimal places for monetary aggregates (oracle parity)
RATIO_DP = 6  # decimal places for ratios/averages (oracle parity)


def period_month(ts: Column) -> Column:
    """'YYYY-MM' period label, the reference's canonical monthly key.

    Reference: reports/builders/bdqueimadas_incremental.py builds
    ``period`` strings the same way from the detection timestamp.
    """
    return F.date_format(ts, "yyyy-MM")


def period_year(ts: Column) -> Column:
    return F.year(ts)


def safe_pct_change(current: Column, previous: Column) -> Column:
    """Percent change; null when the base is 0/null.

    Reference: reports/builders/bdqueimadas_overview.py:1334-1338
    (``_safe_pct_change``) — returns None on zero base.
    """
    return ratio(
        F.when(
            previous.isNotNull() & (previous != 0),
            (current - previous) / previous * 100.0,
        )
    )


def money(col: Column) -> Column:
    """Round a monetary aggregate to absorb summation-order ulp drift
    between engines (Spark vs DuckDB oracle). Money columns are either
    exact DECIMAL sums (HALF_UP identical on both engines — the
    scale-then-round migration must NOT touch these: a double detour
    would lose exactness) or doubles whose 2-dp boundary class has
    been empirically quiet; the boundary-RICH 6-dp ratios are the
    hardened path (see ``ratio``)."""
    return F.round(col, MONEY_DP)


def micro_div(num_sql: str, den_sql: str) -> Column:
    """Exact half-up micro-unit division: ``round(num/den · 10⁶)`` with
    PURE INTEGER arithmetic — ``num·10⁶ div den`` plus one when twice
    the remainder reaches the divisor. No float touches the boundary,
    so Spark and a DuckDB oracle using ``num*1000000 // den`` + the
    same remainder test agree bit-for-bit (the dedup_winnowing
    convention, shared by overlap/containment/transition-probability/
    error-ppm columns). Arguments are SQL fragments for the integer
    numerator and divisor (column names or expressions); the divisor
    is evaluated twice, so keep it a simple column/least() — both
    engines' optimizers CSE it.

    PRECONDITION: numerator and divisor must be NON-NEGATIVE (and the
    divisor positive). Spark's ``div``/``%`` truncate toward zero and
    the half-up correction adds +1 unconditionally, so a signed
    numerator would round AWAY from the true half-up result. Every
    current call site divides counts/byte totals; a signed caller must
    split sign out first (``sign(x) * micro_div(abs(x), d)``)."""
    return F.expr(
        f"({num_sql}) * 1000000L div ({den_sql})"
        f" + CASE WHEN (({num_sql}) * 1000000L % ({den_sql})) * 2"
        f" >= ({den_sql}) THEN 1 ELSE 0 END"
    )


def scaled_round(col: Column, dp: int) -> Column:
    """Scale-then-round at ``dp`` decimals: round(x·10^dp)/10^dp —
    binary-identical to DuckDB's native round(x, dp) for every double
    (see ``ratio``); use for any double-typed rounding that an oracle
    mirrors, at whatever precision."""
    scale = F.lit(float(10**dp))
    return F.round(col * scale, 0) / scale


def ratio(col: Column) -> Column:
    """6-dp ratio rounding, SCALE-THEN-ROUND: ``round(x·10⁶) / 10⁶``.

    Why not ``F.round(col, 6)``: Spark rounds doubles through the
    shortest decimal string (BigDecimal.valueOf), so a double whose
    shortest repr ends exactly at the 6-dp half boundary (e.g.
    0.0001245) rounds UP even when the binary value sits below the
    true boundary — while DuckDB's round(x, 6) scales in binary
    (round(x·10⁶)/10⁶ exactly, verified on a 240k adversarial-rational
    sample: 0 scale-then-round vs 363 string-round mismatches). Doing
    the multiply explicitly on the Spark side makes both engines round
    the SAME double the SAME way at every boundary, closing the
    HALF_UP-vs-binary class (SURVEY §4) systematically — the r5
    minute-conversion fixes were instances of this pattern. At 0 dp
    the two schemes agree for every double (N.5 is exactly
    representable), so the oracle SQL keeps its native round(x, 6).

    Inputs must be double-typed (every call site is; a decimal input
    would silently detour through double — keep exact decimals on
    ``money``/explicit rounding instead).
    """
    return scaled_round(col, RATIO_DP)


def dot(a: Column | str, b: Column | str) -> Column:
    """Dot product of two numeric arrays as a left-to-right fold from
    0.0, each term promoted to double before the multiply — the same
    addition order as the DuckDB oracle's ``list_dot_product`` and the
    Arrow kernels' sequential-across-dims accumulation, so every
    engine sums the identical doubles."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column | str) -> Column:
    """Euclidean norm: sqrt of the left-to-right sum of squares (the
    ``dot`` fold order)."""
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x))


def cosine(num: Column, norm_a: Column, norm_b: Column) -> Column:
    """Unrounded cosine ``num / (norm_a · norm_b)``; NULL when either
    norm is zero. A zero vector has no direction, so every vector
    operator scores it NULL — it fails every threshold and ranks after
    every real score — instead of raising DIVIDE_BY_ZERO or producing a
    NaN. DuckDB's ``x / 0.0`` is NULL too, so the oracles agree. Each
    caller applies its own rounding (``ratio``, micro or nano units)."""
    return F.try_divide(num, norm_a * norm_b)


def parse_pt_numeric(text: Column) -> Column:
    """Locale-tolerant numeric parse: strings containing a comma are
    read as pt-BR ('1.234,56' — dots are thousand separators, comma is
    the decimal mark); otherwise as plain en numerics. Unparseable
    input yields null, never an error.

    Reference: social/anp_producao/pipeline.py:241-246
    (``_parse_numeric``) — the comma test decides per value, not per
    column, because ANP files mix both renderings.
    """
    trimmed = F.trim(text)
    normalized = F.when(
        trimmed.contains(","),
        F.replace(F.replace(trimmed, F.lit("."), F.lit("")), F.lit(","), F.lit(".")),
    ).otherwise(trimmed)
    return normalized.try_cast("double")
