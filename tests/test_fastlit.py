"""fastlit literals must be value- and dtype-identical to F.lit(list).

The optimization (operators/fastlit.py) only changes HOW the Catalyst
literal is constructed (one F.expr parse vs one py4j call per element);
any value or dtype drift would silently change every kmeans assignment,
PQ codebook lookup and perceptron margin, so equality is asserted against
the original F.lit path on representative and adversarial values
(round-trip-critical doubles, int32 boundaries, the bigint fallback).
"""

from __future__ import annotations

import math
import struct

import pytest
from pyspark.sql import functions as F

from flink_adcom_spark.operators.fastlit import (
    double_array_lit,
    double_matrix_lit,
    int_array_lit,
    int_matrix_lit,
    string_map_lit,
)

ADVERSARIAL_DOUBLES = [
    0.0, -0.0, 1.0, -1.5, 1 / 3, 2 / 3, 0.1, 1e-300, -1e300, 5e-324,
    1.7976931348623157e308, 123456789.123456789, math.pi, -math.e,
    6.02214076e23, 1e-05,
]


def _flatten(v):
    if isinstance(v, (list, tuple)):
        out = []
        for x in v:
            out.extend(_flatten(x))
        return out
    return [v]


def _cmp(spark, fast_col, slow_col):
    df = spark.range(1).select(fast_col.alias("a"), slow_col.alias("b"))
    assert (
        df.schema["a"].dataType.simpleString()
        == df.schema["b"].dataType.simpleString()
    )
    row = df.select("a", "b").collect()[0]
    a, b = _flatten(row["a"]), _flatten(row["b"])
    assert len(a) == len(b), f"shape drift: {row['a']!r} != {row['b']!r}"
    for x, y in zip(a, b):
        assert (x is None) == (y is None), f"null drift: {x!r} != {y!r}"
        # BIT-level equality (ADVICE r14): SQL `a = b` treats -0.0 == 0.0,
        # so a sign-of-zero drift between the F.expr and F.lit paths would
        # pass silently; struct.pack compares the raw 8/4-byte payloads
        if isinstance(x, float) or isinstance(y, float):
            assert struct.pack("<d", x) == struct.pack("<d", y), (
                f"bit drift: {x!r} != {y!r} (of {row['a']!r} vs {row['b']!r})"
            )
        else:
            assert x == y, f"value drift: {x!r} != {y!r}"


def test_double_array_lit_matches_f_lit(spark):
    _cmp(
        spark,
        double_array_lit(ADVERSARIAL_DOUBLES),
        F.lit([float(x) for x in ADVERSARIAL_DOUBLES]),
    )


def test_double_matrix_lit_matches_f_lit(spark):
    mat = [ADVERSARIAL_DOUBLES[i : i + 4] for i in range(0, 16, 4)]
    _cmp(spark, double_matrix_lit(mat), F.lit([[float(x) for x in r] for r in mat]))


def test_double_matrix_lit_rejects_empty_row():
    with pytest.raises(ValueError):
        double_matrix_lit([[1.0], []])


def test_double_lit_rejects_nonfinite():
    with pytest.raises(ValueError):
        double_array_lit([1.0, float("inf")])


def test_int_array_lit_matches_f_lit(spark):
    vals = [0, 1, -1, (1 << 31) - 1, -(1 << 31), 42]
    _cmp(spark, int_array_lit(vals), F.array(*[F.lit(int(v)) for v in vals]))


def test_int_array_lit_bigint_fallback(spark):
    vals = [1, 1 << 40]  # out of int32: must widen exactly like F.lit
    _cmp(spark, int_array_lit(vals), F.array(*[F.lit(int(v)) for v in vals]))


def test_int_matrix_lit_matches_f_lit(spark):
    mat = [[1, 2, 3], [-4, 5, 6], [0, (1 << 31) - 1, -(1 << 31)]]
    _cmp(
        spark,
        int_matrix_lit(mat),
        F.array(*[F.array(*[F.lit(int(v)) for v in r]) for r in mat]),
    )


PRINTABLE_ASCII = [chr(c) for c in range(33, 127)]  # the 94 of [!-~]


def test_string_map_lit_round_trips_printable_ascii(spark):
    """Every printable ASCII key — the escaping hazards \\ and ' included,
    alone and in runs — comes back unchanged, and the map's dtype equals
    the per-element F.create_map path."""
    keys = PRINTABLE_ASCII + ["\\'", "'\\", "\\\\", "''", "a\\nb", "!~|"]
    want = {k: i for i, k in enumerate(keys)}
    slow = F.create_map(*[x for k, i in want.items() for x in (F.lit(k), F.lit(i))])
    df = spark.range(1).select(
        string_map_lit({k: str(i) for k, i in want.items()}).alias("a"),
        slow.alias("b"),
    )
    assert df.schema["a"].dataType == df.schema["b"].dataType
    row = df.collect()[0]
    assert row["a"] == want == row["b"]


def test_string_map_lit_rejects_empty():
    with pytest.raises(ValueError):
        string_map_lit({})
