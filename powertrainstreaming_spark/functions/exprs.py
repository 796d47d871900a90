"""Determinism-contract expression helpers (SURVEY.md §5.3).

Cross-engine hash risk is concentrated here: every declared query
builds its float/timestamp arithmetic from these helpers, and every
oracle SQL string uses the matching SQL shapes (the ``ORACLE_*``
templates below), so the two dialects can never drift query-by-query.

Rules implemented:
1. Money/quantity sums accumulate in DECIMAL(18,6) — exact, hence
   order-insensitive — then cast back to DOUBLE.  Scale 6 (not the
   survey's 4) because the cast's rounding must land on a decimal the
   expression *conceptually* has: TPC-H-ish money expressions are
   products of up to three 2-decimal factors, i.e. ≤6 conceptual
   decimals.  Rounding at a coarser scale hits exact ``.xxxx5`` ties
   where Spark (HALF_UP on the double's shortest decimal repr) and
   DuckDB (round of the raw binary value) disagree; at scale ≥ the
   conceptual precision both engines just snap binary noise to the
   same representable point.  (Found empirically: q1 ``sum_charge``
   diverged at scale 4, matched at scale 6.)
   Precision 18 (not 24): per-VALUE casts fit 18 digits easily (values
   are row-level money amounts), Spark stores p≤18 decimals in a
   compact long (measured ~15% faster on the q1 aggregate than p=24),
   and the SUM accumulator auto-widens to DECIMAL(28,6) — overflow
   headroom of 10²² per group, ample at 100 TB.
2. Float vector math is computed in DOUBLE and rounded to 6 places.
   BUT round ONLY values the engines compute via DIFFERENT float paths
   (different summation order, libm transcendentals).  When both sides
   evaluate the IDENTICAL expression over identical operands (a ratio
   of exact ints, elementwise arithmetic), the raw double is bit-exact
   and rounding only ADDS risk: Spark rounds the shortest decimal repr
   HALF_UP while DuckDB/numpy round the raw binary value, so exact
   7-decimal .5 boundaries (k/640, k/128 rationals) diverge — found at
   sf0.1 in percent_rank and min-max normalization.
3. Averages are decimal-sum ÷ count in double (not avg(double)).
4. Counts/sums of ints are cast to BIGINT explicitly (DuckDB SUM(int)
   returns HUGEINT, which would diverge on schema).
"""

from __future__ import annotations

from pyspark.sql import Column, WindowSpec
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Spark side

_MONEY = "decimal(18,6)"


def money_sum(col: Column | str) -> Column:
    """Order-insensitive sum of a double money/quantity expression."""
    col = F.col(col) if isinstance(col, str) else col
    return F.sum(col.cast(_MONEY)).cast("double")


def money_avg(col: Column | str) -> Column:
    """Deterministic average: exact decimal sum ÷ bigint count, in double."""
    col = F.col(col) if isinstance(col, str) else col
    return F.sum(col.cast(_MONEY)).cast("double") / F.count(F.lit(1))


def money_frame_sum(col: Column | str, w: WindowSpec) -> Column:
    """Exact decimal window-frame sum of a money/quantity expression, in
    double: independent of how either engine associates the additions."""
    col = F.col(col) if isinstance(col, str) else col
    return F.sum(col.cast(_MONEY)).over(w).cast("double")


def sim_round(col: Column, places: int = 6) -> Column:
    """Round float math computed in double (similarity scores etc.)."""
    return F.round(col.cast("double"), places)


def dot_f(vec_a: Column | str, vec_b: Column | str) -> Column:
    """Dot product of two float-array columns, accumulated in double.

    Higher-order functions (zip_with + aggregate fold) — JVM-side, no
    Python worker round-trip.  HOF lambdas are interpreted, not
    codegen'd, but a round-11 A/B against a 64-term UNROLLED
    element_at sum (bit-identical addition order) measured PARITY at
    the pair-join shape — 0.057 s (fold) vs 0.060 s (unrolled) for 2M
    pairs × 64 dims at sf0.1 — so the fixed-width dot is NOT the
    countmin-class per-row-lambda trap (those loop over
    corpus-proportional strings); the fold's ~2 closure evals per
    element are noise against the array access itself.  The unrolled
    form was briefly landed and REVERTED: no measured win, and its
    128-node trees at 26 call sites inflated retained plan/codegen
    strings enough to destabilize the shared-JVM test suite (driver
    heap OOM in the similarity family).  Keep the fold.
    """
    a = F.col(vec_a) if isinstance(vec_a, str) else vec_a
    b = F.col(vec_b) if isinstance(vec_b, str) else vec_b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


# ---------------------------------------------------------------------------
# Oracle (DuckDB) side — format-string twins of the helpers above.

ORACLE_MONEY_SUM = "CAST(SUM(CAST({expr} AS DECIMAL(18,6))) AS DOUBLE)"
ORACLE_MONEY_AVG = "(CAST(SUM(CAST({expr} AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*))"
ORACLE_COUNT = "CAST(COUNT({expr}) AS BIGINT)"
# list dot product in double with sequential accumulation, matching
# F.aggregate's left fold over zip_with.
ORACLE_DOT = (
    "list_sum(list_transform(list_zip({a}, {b}), "
    "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
)


def o_money_sum(expr: str) -> str:
    return ORACLE_MONEY_SUM.format(expr=expr)


def o_money_avg(expr: str) -> str:
    return ORACLE_MONEY_AVG.format(expr=expr)


def o_count(expr: str = "*") -> str:
    return ORACLE_COUNT.format(expr=expr)


def o_dot(a: str, b: str) -> str:
    return ORACLE_DOT.format(a=a, b=b)


# ---------------------------------------------------------------------------
# Cross-engine-exact string hashing (Rabin polynomial fingerprints).
#
# Engine-native hashes (murmur3 F.hash, xxhash64) are faster but not
# reproducible outside the JVM, which forces rows-only driver checks on
# every hash-keyed operator.  A polynomial fold over character codes in
# exact int64 arithmetic is computable bit-identically by any SQL
# engine, upgrading MinHash/SimHash/fingerprint operators to full
# value-hash verification.  At 100 TB the fold is still a map-only JVM
# codegen expression; swap in xxhash64 where cross-engine
# verifiability is not required and raw throughput is.

POLY_M = 1_000_000_007  # primary modulus: acc*B + c < 1.4e11 << 2^63
POLY_M2 = 999_999_937  # independent modulus for multi-hash schemes
POLY_B = 131  # primary base
POLY_B2 = 137  # independent base


def poly_hash(col: Column | str, base: int = POLY_B, mod: int = POLY_M) -> Column:
    """Polynomial hash of a string column: fold (acc*base + code) % mod
    over ascii char codes, init 0 — bit-identical to ``o_poly_hash``."""
    c = F.col(col) if isinstance(col, str) else col
    codes = F.transform(F.split(c, ""), lambda ch: F.ascii(ch).cast("bigint"))
    return F.aggregate(
        codes,
        F.lit(0).cast("bigint"),
        lambda acc, x: (acc * base + x) % mod,
    )


def poly_fold(arr: Column, base: int = POLY_B, mod: int = POLY_M) -> Column:
    """Fold an int64-array column into one hash — combine sub-hashes
    (e.g. a band of MinHash values) order-sensitively."""
    return F.aggregate(
        arr,
        F.lit(0).cast("bigint"),
        lambda acc, x: (acc * base + x) % mod,
    )


# init-0 via list_prepend so empty lists hash to 0, matching
# F.aggregate's explicit init.
ORACLE_POLY_HASH = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(string_split_regex({expr}, ''), "
    "ch -> CAST(ascii(ch) AS BIGINT))), "
    "(acc, x) -> (acc * {base} + x) % {mod})"
)

ORACLE_POLY_FOLD = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), {arr}), "
    "(acc, x) -> (acc * {base} + x) % {mod})"
)


def o_poly_hash(expr: str, base: int = POLY_B, mod: int = POLY_M) -> str:
    return ORACLE_POLY_HASH.format(expr=expr, base=base, mod=mod)


def o_poly_fold(arr: str, base: int = POLY_B, mod: int = POLY_M) -> str:
    return ORACLE_POLY_FOLD.format(arr=arr, base=base, mod=mod)
