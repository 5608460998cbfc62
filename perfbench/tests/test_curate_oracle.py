"""``curate_docs`` output against the catalog's DuckDB oracle.

The oracle cannot run at benchmark size, so this compares the two on a
small corpus from the same generator, and checks that the benchmark's
planted-structure checks accept the oracle-equal output."""

import duckdb
import pandas as pd
import pyarrow as pa
import pytest

import checks
import gen

SEED, DOCS = 7, 400


@pytest.fixture(scope="module")
def spark():
    from hdfs2cass_spark.session import get_session

    s = get_session("perfbench-tests", shuffle_partitions=4, extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


def test_curate_docs_matches_catalog_oracle(spark, tmp_path):
    import hdfs2cass_spark.plans.compose as compose
    from hdfs2cass_spark.plans.pipeline import PACK_BUDGET
    from hdfs2cass_spark.plans.registry import CATALOG

    gen.write_curate_docs(tmp_path, SEED, DOCS)
    entry = CATALOG["curate_corpus"]
    got = entry.fn(spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{tmp_path}/documents.parquet/*.parquet')")
    want = con.execute(entry.oracle).df()
    con.close()
    got = got.reindex(sorted(got.columns), axis=1).reset_index(drop=True)
    want = want.reindex(sorted(want.columns), axis=1).reset_index(drop=True)
    assert len(got) > 0
    pd.testing.assert_frame_equal(got, want.astype(got.dtypes.to_dict()))

    texts = gen.curate_texts(SEED, DOCS)
    table = pa.Table.from_pandas(got, preserve_index=False)
    assert checks.check_curated(table, texts, gen.is_bench_doc, compose.MIN_WORDS, PACK_BUDGET) == []
    # the planted junk is really there to be removed
    assert len(set(texts)) < DOCS
    assert any(len(t.split(" ")) < compose.MIN_WORDS for t in texts)
    assert any(gen.is_bench_doc(i) for i in range(DOCS))
