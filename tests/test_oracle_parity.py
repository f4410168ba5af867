"""Golden-oracle differential test: every registered query with an oracle
must match DuckDB at sf0.001 (the driver re-runs the same contract at sf0.01).

This generalizes the reference's only test — a parquet read-back row count
(``src/db/mysql.rs:159-176``) — into full value equality per operator.
"""

from __future__ import annotations

import pytest

from tools.check import frame_rows

from sql2all_spark.registry import all_specs


def _specs():
    return sorted(all_specs().items())


@pytest.mark.parametrize("name,spec", _specs(), ids=[n for n, _ in _specs()])
def test_query_matches_oracle(spark, duck, sf_dir, name, spec):
    sdf = spec.builder(spark, sf_dir).toPandas()
    if spec.oracle is None:
        # rows-only contract: builder must at least execute
        assert sdf is not None
        return
    ddf = duck.execute(spec.oracle).fetchdf()
    assert sorted(sdf.columns) == sorted(ddf.columns), "schema (names) mismatch"
    assert len(sdf) == len(ddf), "row count mismatch"
    assert frame_rows(sdf) == frame_rows(ddf), "value mismatch"
