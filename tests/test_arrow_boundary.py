"""Arrow collect-boundary equivalence (VERDICT r11 #2, guide §4).

The bench's added ``arrow_*`` sf1 measurements time ``DataFrame.toArrow()``
as the driver-materialization action for the corpus-output entries.  That
is only a fair measurement if the Arrow path carries EXACTLY the same
values as the pinned ``.collect()`` action — this pins it, row by row, on
the same entries at the test SF, through the conversion the cursor's
fetch methods use (equal values of the same Python types).
"""

from __future__ import annotations

import pytest

from opteryx_spark import results
from opteryx_spark.suite import load_all
from tests._compare import same_values

ENTRIES = ["events_sessionize", "feat_hashed_tokens", "events_rolling_window"]


@pytest.mark.parametrize("name", ENTRIES)
def test_toarrow_matches_collect(spark, sf_dir, name):
    reg = load_all()
    df = reg[name].spark(spark, sf_dir)
    rows = df.collect()
    tbl = df.toArrow()
    assert tbl.num_rows == len(rows)
    assert [f.name for f in df.schema.fields] == tbl.column_names
    assert results.arrow_convertible(df.schema)
    for r, p in zip(rows, results.table_rows(tbl, results.binary_type(spark))):
        assert same_values(tuple(r), p), (name, r, p)
