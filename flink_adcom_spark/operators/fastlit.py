"""Constant-folding-friendly literal builders for matrix/array constants
and string-keyed maps.

PySpark's ``F.lit`` on a Python list expands to ``F.array(*[F.lit(x) ...])``
— ONE py4j round trip per element. A PQ codebook (16 x 8 doubles) costs
~125 ms of pure driver-side py4j chatter to build, and the vector-family
queries embed 8-16 such matrices per plan BUILD (the bench builds each
query 3x): measured 0.99 s for 8 codebooks via ``F.lit`` vs 0.009 s via a
single ``F.expr`` parse of the equivalent SQL array literal (110x). The
guide's §1.2 "per-task work" step applied to the DRIVER: the resulting
Catalyst literal is value- and dtype-identical (asserted in
tests/test_fastlit.py), only its construction path changes.

Float portability: ``repr(float)`` emits the shortest decimal that
round-trips to the same IEEE-754 binary64 in Python; Java's
``Double.parseDouble`` is also correctly rounded, so the parsed literal is
bit-identical to what ``F.lit`` would have produced. Non-finite values
(inf/nan) have no SQL literal spelling and raise instead — no call site
ever embeds them in a matrix constant.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F


def _d(x: float) -> str:
    x = float(x)
    if not math.isfinite(x):
        raise ValueError(f"non-finite value {x!r} has no SQL double literal")
    return repr(x) + "D"


def double_array_lit(vec) -> Column:
    """array<double> literal via one F.expr parse (empty -> typed empty)."""
    vec = list(vec)
    if not vec:
        return F.expr("CAST(array() AS array<double>)")
    return F.expr("array(" + ",".join(_d(x) for x in vec) + ")")


def double_matrix_lit(matrix) -> Column:
    """array<array<double>> literal via one F.expr parse.

    Empty rows (the lloyd_kmeans empty-cluster placeholder shape) are not
    representable in a single typed SQL literal; callers never pass them
    (lloyd_kmeans re-inserts the previous centroid), so raise loudly."""
    rows = [list(r) for r in matrix]
    if not rows or any(not r for r in rows):
        raise ValueError("double_matrix_lit: empty matrix/row")
    return F.expr(
        "array("
        + ",".join("array(" + ",".join(_d(x) for x in r) + ")" for r in rows)
        + ")"
    )


def _i32(v: int) -> bool:
    return -(1 << 31) <= v < (1 << 31)


def int_array_lit(vec) -> Column:
    """array<int> literal via one F.expr parse. Values outside int32 fall
    back to the element-wise F.lit path, which (like the original call
    sites) widens them to bigint — same dtype the old code would produce."""
    vals = [int(x) for x in vec]
    if not vals or not all(_i32(v) for v in vals):
        return F.array(*[F.lit(v) for v in vals])
    return F.expr("array(" + ",".join(str(v) for v in vals) + ")")


def int_matrix_lit(matrix) -> Column:
    """array<array<int>> literal via one F.expr parse (int32 overflow falls
    back to the element-wise path, as int_array_lit)."""
    rows = [[int(x) for x in r] for r in matrix]
    if not rows or any(not r for r in rows) or not all(
        _i32(v) for r in rows for v in r
    ):
        return F.array(*[F.array(*[F.lit(v) for v in r]) for r in rows])
    return F.expr(
        "array("
        + ",".join("array(" + ",".join(str(v) for v in r) + ")" for r in rows)
        + ")"
    )


def _sql_str(s: str) -> str:
    """Spark SQL string literal spelling of `s`: backslash and single quote
    escaped (the parser's default escaping), so any printable ASCII key
    round-trips unchanged."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def string_map_lit(entries: dict[str, str]) -> Column:
    """map<string, V> literal via one F.expr parse: each key is a Python
    string, each value a SQL expression. Values stay SQL so a caller can
    keep engine-side arithmetic (e.g. ``ln(cnt / tot)``) inside Spark, where
    constant folding evaluates it once. An empty map raises: it has no
    value type to spell."""
    if not entries:
        raise ValueError("string_map_lit: empty map")
    return F.expr(
        "map(" + ",".join(f"{_sql_str(k)},{v}" for k, v in entries.items()) + ")"
    )
