"""Merge-on-read delete semantics: metadata-only, sequence-aware, compactable."""

from pyspark.sql import functions as F

from pyiceberg_lakehouse_spark.lakehouse import Lakehouse
from pyiceberg_lakehouse_spark.lakehouse.maintenance import compact
from pyiceberg_lakehouse_spark.sources.testdata import SCHEMAS, load_table


def test_delete_is_metadata_only_and_applied(spark, warehouse, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    lh = Lakehouse(spark, warehouse)
    t = lh.create_table("ns.o", SCHEMAS["orders"])
    t.append(orders)
    data_files_before = {f["path"] for f in t.log.live_files()}
    t.delete_keys(
        orders.filter(F.col("o_orderkey") % 5 == 0).select("o_orderkey"), ["o_orderkey"]
    )
    # no data file rewritten
    assert {f["path"] for f in t.log.live_files()} == data_files_before
    expected = orders.filter(F.col("o_orderkey") % 5 != 0).count()
    assert t.scan().count() == expected


def test_reinserted_keys_visible_after_delete(spark, warehouse, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    lh = Lakehouse(spark, warehouse)
    t = lh.create_table("ns.o2", SCHEMAS["orders"])
    t.append(orders)
    t.delete_keys(
        orders.filter(F.col("o_orderkey") % 5 == 0).select("o_orderkey"), ["o_orderkey"]
    )
    t.append(orders.filter(F.col("o_orderkey") % 10 == 0))
    n_kept = orders.filter(F.col("o_orderkey") % 5 != 0).count()
    n_back = orders.filter(F.col("o_orderkey") % 10 == 0).count()
    assert t.scan().count() == n_kept + n_back


def test_time_travel_before_delete(spark, warehouse, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    lh = Lakehouse(spark, warehouse)
    t = lh.create_table("ns.o3", SCHEMAS["orders"])
    s1 = t.append(orders)
    t.delete_keys(orders.limit(10).select("o_orderkey"), ["o_orderkey"])
    assert t.read_snapshot(s1.snapshot_id).count() == orders.count()


def test_compaction_materializes_deletes(spark, warehouse, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    lh = Lakehouse(spark, warehouse)
    t = lh.create_table("ns.o4", SCHEMAS["orders"])
    t.append(orders)
    t.delete_keys(
        orders.filter(F.col("o_orderkey") % 3 == 0).select("o_orderkey"), ["o_orderkey"]
    )
    expected = orders.filter(F.col("o_orderkey") % 3 != 0).count()
    compact(t)
    assert t.scan().count() == expected
    # every compacted file postdates the delete, so the delete is RETIRED
    # outright (ADVICE r14): live_deletes prunes it and the scan takes the
    # plain read path instead of anti-joining forever
    assert t.log.live_deletes() == []
    # ...but history is intact: the pre-compaction snapshot still sees it
    pre = t.history()[-2].snapshot_id
    assert len(t.log.live_deletes(pre)) == 1
    assert t.read_snapshot(pre).count() == expected


def _ids_table(spark, warehouse, name):
    lh = Lakehouse(spark, warehouse)
    t = lh.create_table(
        name, spark.range(0).select(F.col("id"), F.col("id").alias("v")).schema
    )
    t.append(spark.range(1000).select(F.col("id"), F.col("id").alias("v")))
    t.delete_keys(spark.range(10).select("id"), ["id"])
    assert t.scan().count() == 990
    return t


def test_delete_where_keeps_merge_on_read_deletes(spark, warehouse):
    """A copy-on-write delete rewrites files newer than every pending
    merge-on-read delete, so it must apply those deletes while reading:
    a delete_where that matches nothing must not bring back the 10 rows
    delete_keys removed."""
    t = _ids_table(spark, warehouse, "ns.cow_after_mor")
    t.delete_where(F.col("id") < 0)
    assert t.scan().count() == 990
    assert t.scan().filter(F.col("id") < 10).count() == 0


def test_update_where_keeps_merge_on_read_deletes(spark, warehouse):
    """Same for a copy-on-write update: deleted rows stay deleted, the
    update lands on the surviving rows only."""
    t = _ids_table(spark, warehouse, "ns.update_after_mor")
    t.update_where(F.col("id") < 20, {"v": F.lit(-1)})
    rows = t.scan()
    assert rows.count() == 990
    assert rows.filter(F.col("id") < 10).count() == 0
    assert rows.filter(F.col("v") == -1).count() == 10
