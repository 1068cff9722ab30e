"""Merged-cell header expansion semantics (reference parity:
templates.py:393-465, exercised like reference
tests/test_samples_headers.py but on the pure expansion function so
it runs without openpyxl/workbook fixtures)."""

from __future__ import annotations

from data_frame_demo_etl_spark.sources.readers import (
    _effective_header_row,
    expand_merged_headers,
)
from data_frame_demo_etl_spark.sources.xlsx_lite import _col_letters


def test_col_letter():
    assert [_col_letters(i) for i in (1, 2, 26, 27, 52, 53)] == ["A", "B", "Z", "AA", "AZ", "BA"]


def test_named_merge_propagates_base_value():
    headers = ["id", "Sales", "", "", "region"]
    out, merged = expand_merged_headers(
        headers, [(1, 2, 1, 4, "Sales")], target_row=1
    )
    assert merged
    assert out == ["id", "Sales", "Sales", "Sales", "region"]


def test_empty_merge_gets_placeholder_with_column_suffix():
    out, merged = expand_merged_headers(
        ["id", "", "", "x"], [(1, 2, 1, 3, None)], target_row=1
    )
    assert merged
    assert out == ["id", "merged_B1_B", "merged_B1_C", "x"]


def test_empty_single_column_merge_no_suffix():
    # A vertical merge (rows 1-2, one column) with empty base.
    out, merged = expand_merged_headers(["id", ""], [(1, 2, 2, 2, None)], target_row=2)
    assert merged
    assert out == ["id", "merged_B1"]


def test_range_outside_header_row_is_ignored():
    out, merged = expand_merged_headers(
        ["a", "b"], [(5, 1, 6, 2, "Totals")], target_row=1
    )
    assert not merged
    assert out == ["a", "b"]


def test_merge_extends_header_list():
    out, merged = expand_merged_headers(["only"], [(1, 3, 1, 4, "Wide")], target_row=1)
    assert merged
    assert out == ["only", "", "Wide", "Wide"]


def test_effective_header_row_accounts_for_skiprows():
    assert _effective_header_row(0, None) == 1
    assert _effective_header_row(2, None) == 3
    # skipped rows at/before the header shift the worksheet row down
    assert _effective_header_row(2, [0, 1]) == 5
    # skips after the header don't
    assert _effective_header_row(2, [10]) == 3
