"""Ports of the reference unit tests for the clean/textops kernels:
test_data_clean_utils.py (8 date variants), test_google_azure_ocr.py
merge_idx_lists table, plus filter behaviors."""

from __future__ import annotations

import numpy as np
import pytest

from ocr_wrapper_spark.kernels import bbox_core as bc
from ocr_wrapper_spark.kernels import clean, textops


def unit_box():
    return bc.canonicalize(np.array([[0.0, 0, 1, 0, 1, 1, 0, 1]]), in_pixels=False)


@pytest.mark.parametrize(
    "text, expected",
    [
        ("01/01/2021 - 01/01/2022", ["01/01/2021", "-", "01/01/2022"]),
        ("01.01.2021 - 01.01.2022", ["01.01.2021", "-", "01.01.2022"]),
        ("01/01/2021-01/01/2022", ["01/01/2021", "-", "01/01/2022"]),
        ("01.01.2021-01.01.2022", ["01.01.2021", "-", "01.01.2022"]),
        ("01/01/2021 -01/01/2022", ["01/01/2021", "-", "01/01/2022"]),
        ("01.01.2021 -01.01.2022", ["01.01.2021", "-", "01.01.2022"]),
        ("01/01/2021- 01/01/2022", ["01/01/2021", "-", "01/01/2022"]),
        ("01.01.2021- 01.01.2022", ["01.01.2021", "-", "01.01.2022"]),
    ],
)
def test_split_date_boxes(text, expected):
    """Reference tests/test_data_clean_utils.py:7-47."""
    coords, texts, _ = clean.split_date_boxes(unit_box(), [text])
    assert texts == expected
    assert coords.shape == (3, 8)


def test_split_date_boxes_ratios():
    # wide box so both splits run along the top edge
    wide = bc.from_xywh(0.1, 0.1, 0.4, 0.05)
    coords, texts, conf = clean.split_date_boxes(wide, ["01/01/2021 - 01/01/2022"], [0.7])
    assert conf == [0.7, 0.7, 0.7]
    # ratios 0.49 then 0.07 of the remainder (data_clean_utils.py:44-45)
    assert coords[0, bc.TRX] == pytest.approx(0.1 + 0.4 * 0.49, abs=1e-9)
    assert coords[1, bc.TLX] == pytest.approx(0.1 + 0.4 * 0.49, abs=1e-9)
    assert coords[1, bc.TRX] == pytest.approx(0.1 + 0.4 * (0.49 + 0.07 * 0.51), abs=1e-9)


def test_split_date_boxes_non_matching_untouched():
    coords, texts, _ = clean.split_date_boxes(unit_box(), ["hello"])
    assert texts == ["hello"]
    assert coords.shape == (1, 8)


@pytest.mark.parametrize(
    "raw_a, raw_b, sorted_ab, expected",
    [
        ([1, 2, 3, 4, 5], [6, 7, 8], [4, 2, 5, 6, 7, 3, 1, 8], [1, 8, 2, 3, 4, 5, 6, 7]),
        ([], [], [], []),
        ([], [2, 3, 4], [4, 2, 3], [4, 2, 3]),
        ([4, 5, 6], [], [5, 6, 4], [4, 5, 6]),
        ([1], [2, 3, 4, 5], [3, 4, 1, 5, 2], [3, 4, 1, 5, 2]),
    ],
)
def test_merge_idx_lists(raw_a, raw_b, sorted_ab, expected):
    """Reference tests/test_google_azure_ocr.py:170-182."""
    assert clean.merge_idx_lists(raw_a, raw_b, sorted_ab) == expected


def test_median_box_height_even_odd():
    def boxes(heights):
        arr = [bc.from_xywh(0.1, 0.1, 0.2, h)[0] for h in heights]
        return np.vstack(arr)

    assert clean.median_box_height(boxes([0.1, 0.2, 0.3])) == pytest.approx(0.2)
    assert clean.median_box_height(boxes([0.1, 0.2, 0.3, 0.4])) == pytest.approx(0.25)
    assert clean.median_box_height(bc.empty_boxes()) == 0.0


def test_filter_unwanted_boxes_drops_tall_vertical():
    # 9 normal boxes + 1 tall skinny multi-char box -> dropped;
    # a tall skinny single-char box survives (google_azure_ocr.py:406-440)
    normal = [bc.from_xywh(0.1 * i, 0.1, 0.08, 0.02)[0] for i in range(8)]
    tall_multi = bc.from_xywh(0.85, 0.1, 0.01, 0.5)[0]
    tall_single = bc.from_xywh(0.95, 0.1, 0.01, 0.5)[0]
    coords = np.vstack(normal + [tall_multi, tall_single])
    texts = [f"w{i}" for i in range(8)] + ["123456", "1"]
    out_coords, out_texts = clean.filter_unwanted_boxes(coords, texts, width_height_ratio=1.0)
    assert "123456" not in out_texts
    assert "1" in out_texts
    assert np.array_equal(out_coords, coords[[0, 1, 2, 3, 4, 5, 6, 7, 9]])


def test_filter_date_boxes_consecutive_runs():
    # boxes spelling "03/01/2016 - 03/01/2017" across 3 boxes get removed
    texts = ["keep1", "03/01/2016", "-", "03/01/2017", "keep2"]
    coords = np.vstack([bc.from_xywh(0.1 * i, 0.1, 0.05, 0.02)[0] for i in range(5)])
    out_coords, out_texts = clean.filter_date_boxes(coords, texts)
    assert out_texts == ["keep1", "keep2"]
    assert np.array_equal(out_coords, coords[[0, 4]])


def test_has_arabic_text():
    assert textops.has_arabic_text("مرحبا")
    assert not textops.has_arabic_text("hello 123")


def test_flip_number_blocks():
    assert textops.flip_number_blocks("12-34-56") == "56-34-12"
    assert textops.flip_number_blocks("abc") == "abc"
    assert textops.flip_number_blocks("1a2b3") == "3a2b1"
