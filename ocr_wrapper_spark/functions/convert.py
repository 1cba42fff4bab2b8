"""Span export-format conversion (SURVEY.md §2.7 C15) as a JVM expression.

LayoutLM format: axis-aligned [x1, y1, x2, y2] ints scaled to [0, 1000]
(reference bbox.py:439-457), the format the registered
``spans_layoutlm_export`` writes. No UDFs — pure `transform` arithmetic
over the span array.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _xs(s):
    return F.array(s["TLx"], s["TRx"], s["BLx"], s["BRx"])


def _ys(s):
    return F.array(s["TLy"], s["TRy"], s["BLy"], s["BRy"])


def spans_to_layoutlm(spans_col: Column) -> Column:
    """array<array<int>>: per span [x, y, x+w, y+h] * 1000, floor-int like
    the reference's int() truncation (bbox.py:457)."""

    def one(s):
        x = F.array_min(_xs(s))
        y = F.array_min(_ys(s))
        x2 = F.array_max(_xs(s))
        y2 = F.array_max(_ys(s))
        return F.array(
            F.floor(x * 1000).cast("int"),
            F.floor(y * 1000).cast("int"),
            F.floor(x2 * 1000).cast("int"),
            F.floor(y2 * 1000).cast("int"),
        )

    return F.transform(spans_col, one)

