"""The contract queries' money columns are exact 2-dp values.

``__spark_entry__._e2`` sums money as scaled longs, ``round(x * 100)``,
which is exact only while every value is a whole number of cents
stored as a double: then ``x * 100`` lies within a few ulps of an
integer. A value with a third decimal would round silently and move
every sum built on it."""

import numpy as np
import pyarrow.parquet as pq
import pytest

SF_DIR = "/root/testdata/sf0.001"


@pytest.mark.parametrize("table,column", [
    ("lineitem", "l_quantity"),
    ("lineitem", "l_extendedprice"),
    ("lineitem", "l_discount"),
    ("orders", "o_totalprice"),
])
def test_e2_money_columns_exact_to_2dp(table, column):
    x = pq.read_table(f"{SF_DIR}/{table}.parquet",
                      columns=[column]).column(0).to_numpy()
    assert x.dtype == np.float64 and len(x) > 0
    cents = x * 100
    # a 2-dp double is off a whole cent by rounding error only
    # (~1e-9 at these magnitudes); a third decimal is off by >= 0.1
    assert np.abs(cents - np.round(cents)).max() < 1e-6, (table, column)
