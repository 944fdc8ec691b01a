"""The curation workload's correctness pass on a small seeded replica:
every query matches its DuckDB oracle, and the materialization guard
finds every operator of each query's own optimized plan in the plan of
its ``noop`` write. Starts a Spark session (about a minute)."""

import common
import curation


def test_every_query_matches_its_oracle_and_keeps_its_plan(tmp_path):
    conf = common.prepare_env(str(tmp_path), trace=False)
    spark = common.start_session(conf)
    try:
        inputs = curation.prepare(str(tmp_path / "inputs"), seed=7, seconds=1)
        curation.warm_up(spark, str(tmp_path), inputs, trace=False)
    finally:
        spark.stop()
    assert inputs["warm_problems"] == {}


def test_replica_is_ten_exact_copies(tmp_path):
    import duckdb

    curation.make_base(str(tmp_path / "base"), seed=3, n=20)
    curation.make_replica(str(tmp_path / "base"), str(tmp_path / "rep"), copies=10)
    con = duckdb.connect()
    docs = f"read_parquet('{tmp_path}/rep/documents.parquet')"
    n, texts, ids = con.sql(
        f"SELECT count(*), count(DISTINCT text), count(DISTINCT doc_id) FROM {docs}"
    ).fetchone()
    assert (n, ids) == (200, 200)
    assert texts == con.sql(
        f"SELECT count(DISTINCT text) FROM read_parquet('{tmp_path}/base/documents.parquet')"
    ).fetchone()[0]


def test_generated_corpus_has_the_sf001_shape(tmp_path):
    """The generator reproduces the measured sf0.01 statistics: same
    vocabulary, length range and near-duplicate share, and n-gram
    sharing within a few percent."""
    curation.make_base(str(tmp_path), seed=5, n=curation.BASE_DOCS)
    got, want = curation.corpus_stats(str(tmp_path)), curation.SF001
    for k in ("docs", "vocabulary", "tokens_min", "near_dup_share"):
        assert got[k] == want[k], k
    assert want["tokens_max"] <= got["tokens_max"] <= want["tokens_max"] + 1  # a copy adds "dup"
    assert got["distinct_text_share"] >= 0.99
    assert abs(got["tokens_mean"] - want["tokens_mean"]) < 3
    for k in ("distinct_3shingle_share", "distinct_4shingle_share", "lang_en_share"):
        assert abs(got[k] - want[k]) < 0.03, k
