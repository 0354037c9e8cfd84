"""Scalar column helpers (SURVEY §2.8 F5-F10).

The reference's scalar surface is arithmetic with null guards
(``operators.projection.guarded_ratio``) plus display-side number
humanization (``f"{x/1e6:.2f}M"``, dashboard.py:200-202, :323-331),
which lives here as a Column-in / Column-out builtin composition —
codegen-friendly, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def humanize_number(c: Column | str) -> Column:
    """Display humanization: 1234567 → '1.23M' (dashboard.py:200-202,
    :323-331) as an engine-side column, so serving layers need no
    client-side formatting."""
    v = _col(c)
    a = F.abs(v)
    return (
        F.when(v.isNull(), F.lit(None))
        .when(a >= 1e9, F.concat(F.format_number(v / 1e9, 2), F.lit("B")))
        .when(a >= 1e6, F.concat(F.format_number(v / 1e6, 2), F.lit("M")))
        .when(a >= 1e3, F.concat(F.format_number(v / 1e3, 2), F.lit("K")))
        .otherwise(F.format_number(v.cast("double"), 2))
    )
