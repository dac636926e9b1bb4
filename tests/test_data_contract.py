"""Assumptions about the reference tables that plans rely on for
exactness.  Plain pyarrow reads, no Spark session."""

from __future__ import annotations

import glob
import os

import numpy as np
import pyarrow.parquet as pq
import pytest

from __spark_entry__ import SF0001

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LINEITEMS = sorted(
    glob.glob(os.path.join(os.path.dirname(SF0001), "sf*", "lineitem.parquet"))
    + glob.glob(os.path.join(REPO, "perfbench", "data", "sf*", "lineitem.parquet"))
)
MONEY = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def test_lineitem_tables_found():
    assert any("sf0.01" in p for p in LINEITEMS), LINEITEMS


def _id(path: str) -> str:
    where = "perfbench" if path.startswith(REPO + os.sep) else "reference"
    return f"{where}-{os.path.basename(os.path.dirname(path))}"


@pytest.mark.parametrize("path", LINEITEMS, ids=_id)
def test_q1_money_columns_are_two_decimal(path):
    """q1_pricing_summary sums trunc(x·10⁴ + 0.5) as longs; that equals
    the decimal(18,4) HALF_UP value only while every x is a 2-decimal
    value (x·100 an integer up to float error), so x·10⁴ stays far from
    any .5 boundary."""
    t = pq.read_table(path, columns=list(MONEY))
    for col in MONEY:
        x = t.column(col).to_numpy(zero_copy_only=False)
        assert not np.isnan(x).any(), col
        cents = x * 100
        worst = float(np.abs(cents - np.round(cents)).max()) if len(x) else 0.0
        assert worst < 1e-6, f"{col}: {worst} off a 2-decimal value"
