"""Order-insensitive output comparison used by the query checks."""

from __future__ import annotations

from perfbench import checks

COLS = ["id_a", "id_b", "cos_sim"]
ROWS = [(1, 2, 0.5), (1, 3, 0.41), (2, 3, 0.123)]


def test_digest_ignores_row_and_column_order():
    shuffled = [(r[2], r[1], r[0]) for r in reversed(ROWS)]
    assert checks.digest(ROWS, COLS) == checks.digest(shuffled, COLS[::-1])
    assert checks.digest(ROWS, COLS) != checks.digest(ROWS[:2], COLS)


def test_exact_comparison_sees_one_unit_of_rounding():
    moved = [(1, 2, 0.501), *ROWS[1:]]
    assert checks.problems((ROWS, COLS), (ROWS, COLS)) == []
    assert checks.problems((moved, COLS), (ROWS, COLS))


def test_tolerance_allows_one_rounding_unit_and_no_more():
    tol = checks.ROUNDED["dedup_embedding_cosine"]
    one_unit = [(1, 2, 0.501), *ROWS[1:]]
    two_units = [(1, 2, 0.502), *ROWS[1:]]
    assert checks.problems((one_unit, COLS), (ROWS, COLS), tol) == []
    assert checks.problems((two_units, COLS), (ROWS, COLS), tol) == ["1 values outside "
                                                                       f"{tol}"]


def test_tolerance_still_requires_the_same_rows():
    tol = checks.ROUNDED["dedup_embedding_cosine"]
    assert checks.problems((ROWS[:2], COLS), (ROWS, COLS), tol)
    assert checks.problems(([(1, 4, 0.5), *ROWS[1:]], COLS), (ROWS, COLS), tol)
