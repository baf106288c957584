"""The lake-backed queries build a fresh lake on every call: a second call
neither reuses nor disturbs the first call's table, and gives the same
rows."""

import pytest

from embulk_input_marketo_spark.plans.queries import QUERIES
from test_oracle_parity import SF_DIR  # past lsn 5000: the feed is non-empty


@pytest.mark.parametrize("name", ["cdc_changes_feed", "cdf_follower_agg"])
def test_each_call_builds_a_fresh_lake(spark, name):
    first = QUERIES[name](spark, SF_DIR)
    second = QUERIES[name](spark, SF_DIR)
    files = [set(df.inputFiles()) for df in (first, second)]
    assert files[0] and files[1] and not files[0] & files[1]
    rows = [sorted(map(tuple, df.collect())) for df in (first, second)]
    assert rows[0] and rows[0] == rows[1]
