"""Engine-portable twins: rounding and the md5 integer hash.

Rounding
--------
``ROUND(x, 2)`` is NOT portable between Spark and DuckDB: Spark's Round on
doubles goes through ``BigDecimal.valueOf`` (the double's shortest decimal
repr) with HALF_UP, while DuckDB rounds the binary value — so a true value
of exactly 4.475 (whose nearest double prints as "4.475" but is
4.47499999…) rounds to 4.48 in Spark and 4.47 in DuckDB. Ratios of small
integers hit such boundaries constantly.

Round-to-INTEGER is portable: every half-integer (…446.5, 447.5…) is
exactly representable in binary, so "shortest repr lands on .5" ⇔ "binary
value is exactly .5", and both engines round it away from zero. Hence:

    portable_round(x, s) = ROUND(x * 10^s) / 10^s + 0.0

computed with identical double ops on both sides. The trailing ``+ 0.0``
normalizes IEEE negative zero: DuckDB's ROUND preserves ``-0.0`` where
Spark's returns ``0.0``, and the driver's value hash distinguishes them;
``x + 0.0`` is the identity for every double except ``-0.0 → +0.0``.

Hashing
-------
Every split, A/B arm, seed sample, bloom position and sketch register
hashes a key the same way: the first ``digits`` hex digits of
``md5(prefix || key)`` read as an integer (``md5_int`` / ``md5_int_sql``).
Both engines compute md5 over the UTF-8 bytes of the string, so the two
forms agree bit for bit, which is also what lets lineage recompute a lost
partition and get the same rows back.

- 7 digits (the default) give 28 bits, always non-negative, so ``%`` and
  ``//`` agree across the engines whatever their sign conventions.
- KMV uses 13 digits: its estimator needs a 52-bit uniform hash, still
  below 2^63 and exactly representable as a double. The skip-gram
  negative draw uses 12 (48 bits), so its ``% total_weight`` stays
  near-uniform for any realistic weight total.
- Keys must be integers or strings. Spark and DuckDB render doubles and
  timestamps differently as text, so hashing those would split engines.
- NULL hashes to NULL on both sides (``concat``/``||`` and ``md5``
  propagate it).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def pround(col: Column | str, scale: int) -> Column:
    """Spark side of the portable round."""
    if isinstance(col, str):
        col = F.col(col)
    factor = F.lit(float(10**scale))
    return F.round(col * factor, 0) / factor + F.lit(0.0)


def sql_round(expr: str, scale: int) -> str:
    """DuckDB side — identical arithmetic, term for term."""
    factor = float(10**scale)
    return f"ROUND(({expr}) * {factor}) / {factor} + 0.0"


def md5_int(key: Column | str, prefix: str = "", digits: int = 7) -> Column:
    """Spark side of the portable hash. With a ``prefix`` the hashed string
    is ``prefix`` followed by ``key`` cast to string; without one ``key``
    must already be the string expression to hash."""
    if isinstance(key, str):
        key = F.col(key)
    s = F.concat(F.lit(prefix), key.cast("string")) if prefix else key
    return F.conv(F.substring(F.md5(s), 1, digits), 16, 10).cast("long")


def md5_int_sql(key: str, prefix: str = "", digits: int = 7) -> str:
    """DuckDB side of ``md5_int``: the same string, the same digits."""
    s = f"'{prefix}' || CAST({key} AS VARCHAR)" if prefix else key
    return f"('0x' || substr(md5({s}), 1, {digits}))::BIGINT"


def idiv(a: Column | str, b: Column | int) -> Column:
    """Exact integer division on longs, TRUNCATING toward zero — Spark's
    ``div`` operator (DuckDB twin: ``//``, which also truncates). NOT
    floor division: for a negative numerator, ``idiv(-1, 16) == 0``
    while floor would give -1 — gate sign-sensitive expressions (e.g.
    "count of strided positions") on the numerator being non-negative.
    NOT ``(a / b).cast('long')`` either: double division loses exactness
    past 2^53, which matters for the 100 TB row-count arithmetic in
    ntile/share-of-total computations."""
    if isinstance(a, str):
        a = F.col(a)
    if isinstance(b, int):
        b = F.lit(b)
    return F.call_function("div", a, b)


def jvm_values_df(spark, rows, schema: str):
    """Literal local table as a pure-JVM SQL VALUES relation.

    ``spark.createDataFrame(python_rows)`` ships the rows as a PICKLED
    RDD: every materialization pays one Python-worker round trip per
    task (r12 measured ~0.37 s per 32-task stage for a 63-row lookup
    table whose real work is ~0.2 ms). A VALUES relation is a JVM
    LocalRelation: no Python workers, no RDD, and the optimizer can
    constant-fold through it. Renders the literal types the registry's
    lookup/grid tables use (int, float, str, bool, None); anything else
    raises rather than silently round-tripping through repr.

    TRUSTED CONSTANTS ONLY: callers pass compile-time tables (exponent
    grids, price bands, priors), never data-derived strings. The
    backslash-escape rendering of string cells additionally requires the
    default parser mode — with spark.sql.parser.escapedStringLiterals=true
    the escapes would be read verbatim — so that conf is asserted below
    rather than silently producing different rows.
    """
    from pyspark.sql.types import _parse_datatype_string

    struct = _parse_datatype_string(schema)
    if not rows:  # VALUES needs >= 1 row; empty stays on the old path
        return spark.createDataFrame([], schema)
    if any(isinstance(v, str) for row in rows for v in row) and (
        spark.conf.get("spark.sql.parser.escapedStringLiterals", "false")
        == "true"
    ):
        raise RuntimeError(
            "jvm_values_df renders string literals with backslash escapes "
            "and requires spark.sql.parser.escapedStringLiterals=false"
        )

    def lit(v) -> str:
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, int):
            return f"{v}L"
        if isinstance(v, float):
            if v != v:
                return "CAST('NaN' AS DOUBLE)"
            if v == float("inf"):
                return "CAST('Infinity' AS DOUBLE)"
            if v == float("-inf"):
                return "CAST('-Infinity' AS DOUBLE)"
            return repr(v) + "D"  # repr round-trips doubles exactly
        if isinstance(v, str):
            return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
        if isinstance(v, (list, tuple)):
            return "array(" + ", ".join(lit(x) for x in v) + ")"
        raise TypeError(f"jvm_values_df cannot render a literal for {v!r}")

    values = ", ".join(
        "(" + ", ".join(lit(v) for v in row) + ")" for row in rows
    )
    names = ", ".join(f"c{i}" for i in range(len(struct.fields)))
    cols = ", ".join(
        f"CAST(c{i} AS {f.dataType.simpleString()}) AS `{f.name}`"
        for i, f in enumerate(struct.fields)
    )
    return spark.sql(f"SELECT {cols} FROM (VALUES {values}) AS _v({names})")
