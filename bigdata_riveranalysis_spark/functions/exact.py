"""Engine-exact rounded aggregates over fixed-point data.

``round(avg(x), 4)`` / ``round(sum(x), 4)`` over a large unordered
aggregation is not engine-stable when ``x`` carries fixed decimal
precision (money, sensor readings, integer counts): the true
aggregate is a rational that systematically lands exactly on a
rounding half-boundary (e.g. 56.20875), and Spark's parallel partial
sums differ from DuckDB's sequential sum in the last double ulp,
flipping the rounded digit (observed at sf0.1 on the sensor
averages).

Fix: aggregate INTEGERS. ``round(x·100)`` is an exact long for
≤2-decimal data (corpus property pinned in tests), fixed-point
products stay integers at a known scale, and the rounded output is
produced with the same integer arithmetic in both engines:

  round4(S / 10^s)        = S·10^(4-s) / 10^4            (s ≤ 4, exact)
                          = floor((2·S + d) / (2·d)) / 10^4, d = 10^(s-4)
  round4(S / (n·10^s))    = floor((2·m·S + n·d) / (2·n·d)) / 10^4,
                            m = 10^max(0, 4-s), d = 10^max(0, s-4)

The integer aggregates are bit-identical across engines and
partitionings; the final double division/floor sees identical
operands in both engines, so IEEE determinism gives identical
results even where the quotient exceeds exact-double range. The
rounding convention is half-up (floor(x + 1/2)) on both sides by
construction — no dependence on either engine's round() internals.

Each helper has a Spark and a DuckDB-SQL twin so registered queries
and their oracles share one definition.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def cents(col: Column | str) -> Column:
    """x·100 as an exact long — valid for ≤2-decimal data."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * 100).cast("long")


def cents_sql(expr: str) -> str:
    return f"CAST(round(({expr}) * 100) AS BIGINT)"


def wide_sum(int_col: Column) -> Column:
    """Σe on DECIMAL(38,0) — the long-sum's 100 TB headroom fix.

    A per-row term of 1e7 (price cents) overflows a LONG sum around
    1e12 rows and the scale-6 charge term (~1e11/row) already at
    ~9e7 rows/group ≈ sf30 — where Spark's ANSI sum raises while
    DuckDB silently promotes BIGINT→HUGEINT and keeps going (engine
    divergence; ADVICE r5 latent). Decimal128 matches HUGEINT's
    ~1.7e38 headroom, the sum stays exact, and every downstream
    rounding identity is unchanged because the final division still
    sees bit-identical operands after the explicit double cast.

    Measured cost (sf0.1, local[32], warm): q1_pricing_summary — the
    most sum-dense query — 0.66 s → 1.05 s. Accepted: the long path's
    ANSI overflow is a correctness cliff, and at real scale these
    scans are IO-bound, so the Decimal128 ALU cost amortizes away.
    """
    return F.sum(int_col.cast("decimal(38,0)"))


def sum_round4(int_col: Column, scale: int) -> Column:
    """round(sum(e)/10^scale, 4) for an exact integer column e."""
    s = wide_sum(int_col)
    if scale <= 4:
        # exact decimal product, converted to double only AT the
        # division — the same point DuckDB converts its HUGEINT
        # product, so both engines divide the identical double.
        return (s * F.lit(10 ** (4 - scale))).cast("double") / F.lit(10000.0)
    d = 10 ** (scale - 4)
    # ditto: 2·S + d is exact in decimal; the cast makes the divide a
    # DOUBLE divide (decimal/int would be DECIMAL division with its
    # own scale-derived rounding — a different op tree than DuckDB's).
    return F.floor(
        (F.lit(2) * s + F.lit(d)).cast("double") / F.lit(2 * d)
    ) / F.lit(10000.0)


def sum_round4_sql(int_expr: str, scale: int) -> str:
    # CAST ... AS HUGEINT before any literal multiply: DuckDB evaluates
    # products in the operands' types (sum(BIGINT) already promotes to
    # HUGEINT, but a bare column/element pick stays INT32/INT64 and
    # 20000·S overflows where the Spark twin widens to DECIMAL(38,0) —
    # the r6 hypothesis counterexample (107375, 1)). The explicit cast
    # mirrors wide_sum's headroom on the oracle side.
    s = f"CAST(sum({int_expr}) AS HUGEINT)"
    if scale <= 4:
        return f"({s} * {10 ** (4 - scale)}) / 10000.0"
    d = 10 ** (scale - 4)
    return f"floor((2 * {s} + {d}) / {2 * d}) / 10000.0"


def val_round4(c: Column, scale: int) -> Column:
    """round_half_up(e/10^scale, 4) for a SINGLE exact integer value
    (min/max/element picks) — the scalar sibling of sum_round4, same
    floor((2e+d)/(2d)) identity. Needed because round(e/10^s, 4) on
    doubles diverges between engines at half-boundaries when s > 4:
    Spark rounds the shortest decimal rendering of the double
    (BigDecimal HALF_UP), DuckDB the raw binary value — observed on
    sf0.1 min inter-event gaps ending in 5 at the 5th decimal
    (1653.21745 → 1653.2174 vs 1653.2173; r6 cross-SF sweep)."""
    w = c.cast("decimal(38,0)")  # same headroom as wide_sum, same cliff
    if scale <= 4:
        return (w * F.lit(10 ** (4 - scale))).cast("double") / F.lit(10000.0)
    d = 10 ** (scale - 4)
    return F.floor(
        (F.lit(2) * w + F.lit(d)).cast("double") / F.lit(2 * d)
    ) / F.lit(10000.0)


def val_round4_sql(int_expr: str, scale: int) -> str:
    e = f"CAST(({int_expr}) AS HUGEINT)"  # see sum_round4_sql
    if scale <= 4:
        return f"({e} * {10 ** (4 - scale)}) / 10000.0"
    d = 10 ** (scale - 4)
    return f"floor((2 * {e} + {d}) / {2 * d}) / 10000.0"


def ratio_round4(s: Column, n: Column, scale: int) -> Column:
    """round_half_up(S / (n·10^scale), 4) for exact integer S and n —
    the building block for averages, including two-phase (salted)
    decompositions where S and n arrive as partial sums. S is widened
    to DECIMAL(38,0) before the ×2m step (no-op if already decimal),
    so the numerator stays exact at any corpus size; the explicit
    double cast then mirrors DuckDB's HUGEINT→DOUBLE conversion at
    the division."""
    m, d = 10 ** max(0, 4 - scale), 10 ** max(0, scale - 4)
    num = F.lit(2 * m) * s.cast("decimal(38,0)") + n * F.lit(d)
    return F.floor(num.cast("double") / (F.lit(2 * d) * n)) / F.lit(10000.0)


def ratio_round4_sql(s_expr: str, n_expr: str, scale: int) -> str:
    """DuckDB twin of ratio_round4 for arbitrary integer numerator /
    denominator expressions (nonnegative S — the floor identity IS
    half-up only then). Prefer this over ``round(s/(1.0*n), 4)``:
    rounding the double quotient diverges between engines when the
    exact rational's shortest decimal rendering ties at the 5th
    digit (Spark re-rounds that rendering, DuckDB the raw binary —
    the r6 interarrival finding, which applies to every int/int
    ratio whose denominator has only 2/5 factors)."""
    m, d = 10 ** max(0, 4 - scale), 10 ** max(0, scale - 4)
    # CAST AS HUGEINT before the ×2m step: without it DuckDB evaluates
    # 2m·S in S's own width and raises "Overflow in multiplication of
    # INT32" at S=107375 (the r6 red hypothesis counterexample) — the
    # exact divergence class wide_sum closed on the Spark side.
    return (
        f"floor(({2 * m} * CAST(({s_expr}) AS HUGEINT) + ({n_expr}) * {d})"
        f" / ({2 * d} * ({n_expr}))) / 10000.0"
    )


def avg_round4(int_col: Column, scale: int) -> Column:
    """round_half_up(avg(e)/10^scale, 4) for an exact integer column e.

    Divides by count(e) — the NON-null count — matching ANSI avg()
    semantics, so a NULL-bearing expression (e.g. json_extract on
    malformed props) doesn't silently dilute the average the way a
    count(*) denominator would.
    """
    return ratio_round4(wide_sum(int_col), F.count(int_col), scale)


def avg_round4_sql(int_expr: str, scale: int) -> str:
    m, d = 10 ** max(0, 4 - scale), 10 ** max(0, scale - 4)
    return (
        f"floor(({2 * m} * CAST(sum({int_expr}) AS HUGEINT)"
        f" + count({int_expr}) * {d})"
        f" / ({2 * d} * count({int_expr}))) / 10000.0"
    )


def avg2to4_exact(col: Column | str) -> Column:
    """round_half_up(avg(x), 4) for 2-decimal x."""
    return avg_round4(cents(col), 2)


def avg2to4_exact_sql(expr: str) -> str:
    return avg_round4_sql(cents_sql(expr), 2)


def sum2to4_exact(col: Column | str) -> Column:
    """round(sum(x), 4) for 2-decimal x — exact, order-independent."""
    return sum_round4(cents(col), 2)


def sum2to4_exact_sql(expr: str) -> str:
    return sum_round4_sql(cents_sql(expr), 2)


def round_pz(col: Column, scale: int) -> Column:
    """round(col, scale) with the signed zero normalized to +0.0.

    round() of a SIGNED double that lands in (-0.5·10^-scale, 0] can
    yield IEEE -0.0 in one engine and +0.0 in the other (caught r9:
    DuckDB round(-1e-9, 6) = -0.0 where Spark emits 0.0) — a
    representation-only difference that a repr-style comparator reads
    as a value mismatch. `+ 0.0` after the round maps -0.0 → +0.0
    (IEEE: -0.0 + 0.0 = +0.0) and is the identity elsewhere,
    including NULL and NaN. Use this — with :func:`round_pz_sql` as
    the oracle twin — for every rounded signed float output; the
    floor-identity round4 family never produces -0.0 and needs no
    normalization."""
    return F.round(col, scale) + F.lit(0.0)


def round_pz_sql(expr: str, scale: int) -> str:
    return f"round({expr}, {scale}) + 0.0"
