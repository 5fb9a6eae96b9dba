"""Bucketed-table co-location: joins and aggregations on the bucket key
must run with ZERO shuffle exchanges.

This is the pre-paid-shuffle primitive for 100 TB fact tables joined
repeatedly on one key: bucket both sides once at write time, then every
join matches bucket i to bucket i with no Exchange, and with sortBy the
sort-merge join skips its sorts as well.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from commerce_sessionization_spark.sources.io import write_bucketed_table
from commerce_sessionization_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def bucketed_tables(spark):
    orders = load_table(spark, SF_DIR, "orders")
    customer = load_table(spark, SF_DIR, "customer")
    write_bucketed_table(
        orders, "orders_bkt", ("o_custkey",), num_buckets=4,
        sort_cols=("o_custkey",),
    )
    write_bucketed_table(
        customer, "customer_bkt", ("c_custkey",), num_buckets=4,
        sort_cols=("c_custkey",),
    )
    yield
    spark.sql("DROP TABLE IF EXISTS orders_bkt")
    spark.sql("DROP TABLE IF EXISTS customer_bkt")


def test_bucketed_join_has_zero_exchanges(spark, bucketed_tables):
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("orders_bkt").join(
            spark.table("customer_bkt"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        # and it actually computes the right thing
        assert joined.count() == load_table(spark, SF_DIR, "orders").count()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_bucketed_agg_on_bucket_key_has_zero_exchanges(spark, bucketed_tables):
    agg = spark.table("orders_bkt").groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("total")
    )
    assert "Exchange" not in _plan(agg), _plan(agg)


def test_unbucketed_join_pays_the_exchanges(spark, bucketed_tables):
    """Control: the same join off raw parquet shuffles both sides."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = load_table(spark, SF_DIR, "orders").join(
            load_table(spark, SF_DIR, "customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        assert "Exchange" in _plan(joined)
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_neardup_band_index_probe_reads_index_in_place(spark, tmp_path):
    """The 100 TB claim in ``incremental_neardup_dedup``'s docstring,
    receipted: with the corpus band index persisted bucketed by
    (band, key), the ingest gate's corpus-hit probe exchanges ONLY the
    daily batch side. Control-based assert: the same probe against the
    raw (unbucketed) index pays exactly one more Exchange — the one
    the bucketed layout pre-paid at write time."""
    from commerce_sessionization_spark.operators.dedup import lsh_band_table

    docs = load_table(spark, SF_DIR, "documents")
    index = lsh_band_table(docs)
    raw_path = str(tmp_path / "band_index_raw")
    index.write.parquet(raw_path)
    spark.sql("DROP TABLE IF EXISTS band_index_bkt")
    write_bucketed_table(
        index, "band_index_bkt", ("band", "key"),
        num_buckets=4, sort_cols=("band", "key"),
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        batch_bt = lsh_band_table(docs.limit(50))

        def probe(idx):
            return batch_bt.join(
                idx.select("band", "key"), ["band", "key"], "left_semi"
            )

        n_bucketed = _plan(probe(spark.table("band_index_bkt"))).count("Exchange")
        n_raw = _plan(probe(spark.read.parquet(raw_path))).count("Exchange")
        assert n_raw == n_bucketed + 1, (n_bucketed, n_raw)
        # and the gate fires: every batch doc collides with itself
        assert probe(spark.table("band_index_bkt")).select(
            "doc_id"
        ).distinct().count() == 50
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS band_index_bkt")
