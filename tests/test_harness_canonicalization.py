"""Meta-tests for the differential harness's canonicalization — the
hashing rules every H-verified query depends on (FIXTURES.md §3)."""

import sys

import pandas as pd

from conftest import REPO  # noqa: E402

sys.path.insert(0, str(REPO / "tools"))
from oracle_harness import canonical_hash  # noqa: E402


def test_column_order_invariant():
    a = pd.DataFrame({"x": [1, 2], "y": ["a", "b"]})
    b = pd.DataFrame({"y": ["a", "b"], "x": [1, 2]})
    assert canonical_hash(a) == canonical_hash(b)


def test_row_order_invariant():
    a = pd.DataFrame({"x": [1, 2, 3]})
    b = pd.DataFrame({"x": [3, 1, 2]})
    assert canonical_hash(a) == canonical_hash(b)


def test_float_rounding_at_6dp():
    a = pd.DataFrame({"x": [1.0000001]})
    b = pd.DataFrame({"x": [1.0000002]})
    c = pd.DataFrame({"x": [1.001]})
    assert canonical_hash(a) == canonical_hash(b)  # below 6dp resolution
    assert canonical_hash(a) != canonical_hash(c)


def test_null_and_nan_normalize_identically():
    a = pd.DataFrame({"x": [None]}, dtype="object")
    b = pd.DataFrame({"x": [float("nan")]})
    assert canonical_hash(a) == canonical_hash(b)


def test_int_float_distinction_preserved():
    a = pd.DataFrame({"x": pd.array([1], dtype="int64")})
    b = pd.DataFrame({"x": [1.0]})
    # ints render bare, floats render with 6 decimals — schemas differ
    assert canonical_hash(a) != canonical_hash(b)


def test_value_to_column_assignment_matters():
    a = pd.DataFrame({"x": [1], "y": [2]})
    b = pd.DataFrame({"x": [2], "y": [1]})
    assert canonical_hash(a) != canonical_hash(b)
