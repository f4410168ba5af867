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


# The operators that tokenize with the n-gram LM core's rule (split on ' ',
# drop ''), in Spark and in their oracles.
LM_TOKEN_QUERIES = [
    "text_language_id",
    "text_quality_score",
    "text_token_count",
    "text_heavy_hitters",
    "text_chunk_windows",
    "text_pack_sequences",
]


@pytest.fixture(scope="module")
def messy_sf_dir(sf_dir, tmp_path_factory):
    """The documents table with whitespace runs and leading and trailing
    spaces, which a bare split turns into '' tokens."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_dir}/documents.parquet")
    messy = [
        [s.replace(" ", "  ", 3), f" {s}  ", s][i % 3]
        for i, s in enumerate(t.column("text").to_pylist())
    ]
    out = tmp_path_factory.mktemp("messy_ws")
    i = t.schema.get_field_index("text")
    pq.write_table(
        t.set_column(i, "text", pa.array(messy)), out / "documents.parquet"
    )
    return str(out)


@pytest.mark.parametrize("name", LM_TOKEN_QUERIES)
def test_lm_tokenizer_messy_whitespace_parity(spark, messy_sf_dir, name):
    import duckdb

    spec = all_specs()[name]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{messy_sf_dir}/documents.parquet'"
    )
    sdf = spec.builder(spark, messy_sf_dir).toPandas()
    ddf = con.execute(spec.oracle).fetchdf()
    assert frame_rows(sdf) == frame_rows(ddf)
    if name == "text_token_count":
        words = {
            d: len(t.split())
            for d, t in con.execute("SELECT doc_id, text FROM documents").fetchall()
        }
        assert all(words[d] == n for d, n in zip(sdf.doc_id, sdf.ws_tokens))
