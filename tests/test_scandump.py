"""Scan-dump DataSource tests: format roundtrip, chunked partitions,
range pushdown, malformed input, and the global-counter determinism
regression that the dump roundtrip exposed."""

import pytest
from pyspark.sql import functions as F

from tikv_data_compare_spark.model import Keyed
from tikv_data_compare_spark.operators.scan import export_hex, with_global_index
from tikv_data_compare_spark.sources.scandump import load_scan_dump


@pytest.fixture(scope="module")
def dump(spark, kv_pair, tmp_path_factory):
    src, _ = kv_pair
    small = Keyed(src.df.limit(2000).cache())
    small.df.count()
    path = str(tmp_path_factory.mktemp("dump") / "SRC_scan.log.test")
    export_hex(small, path=path)
    return small, path


def test_dump_roundtrip_bitexact(spark, dump):
    """Dump → source → KV equals the original KV set (the diff-vs-original
    guarantee: a user can verify a dump against the live table)."""
    small, path = dump
    back = load_scan_dump(spark, path)
    orig = small.df.select("key", "value")
    got = back.select("key", "value")
    assert orig.exceptAll(got).count() == 0
    assert got.exceptAll(orig).count() == 0


def test_dump_chunk_partitions(spark, dump):
    """A dump splits into ~chunk_bytes partitions at line boundaries with no
    row lost or duplicated — one big file fans out across the cluster."""
    small, path = dump
    one = load_scan_dump(spark, path)
    many = load_scan_dump(spark, path, chunk_bytes=2048)
    assert many.rdd.getNumPartitions() > one.rdd.getNumPartitions()
    assert many.count() == small.df.count()
    assert many.select(F.sum("cnt")).first()[0] == one.select(F.sum("cnt")).first()[0]


def test_dump_range_pushdown(spark, dump):
    """key >= lo AND key < hi is absorbed by the reader: the post-scan Filter
    keeps only the isnotnull guard, and results match the in-Spark filter."""
    small, path = dump
    keys = sorted(r["key"] for r in small.df.select("key").collect())
    lo, hi = keys[300], keys[1200]
    back = load_scan_dump(spark, path)
    filt = back.filter(F.col("key") >= F.lit(lo)).filter(F.col("key") < F.lit(hi))
    plan = filt._jdf.queryExecution().executedPlan().toString()
    assert ">=" not in plan and "<" not in plan.replace("<=", "")  # range absorbed
    expected = small.df.filter(F.col("key") >= F.lit(lo)).filter(F.col("key") < F.lit(hi))
    assert filt.count() == expected.count() == 900


def test_dump_malformed_line_raises(spark, tmp_path):
    p = tmp_path / "bad_scan.log"
    p.write_text("key:00, value:11, cnt:1.\nnot a dump line\n")
    with pytest.raises(Exception, match="malformed"):
        load_scan_dump(spark, str(p)).collect()


def test_dump_missing_path_raises(spark):
    with pytest.raises(Exception, match="not found"):
        load_scan_dump(spark, "/nonexistent/glob*.log").collect()


def test_global_index_deterministic_full_table(spark):
    """Regression: the counter must be dense-correct even when Catalyst does
    NOT reuse the partitioning exchange between the ranks and offsets
    branches.  The old repartitionByRange+spark_partition_id form sampled
    different boundaries per branch and corrupted cnt on a 15k-row table."""
    from pyspark.sql import Window

    df = spark.range(0, 14983).select(
        (F.col("id") * 7919 % 100003).alias("k")
    ).distinct()
    idx = with_global_index(df, ["k"], "cnt")
    chk = idx.withColumn("rank", F.row_number().over(Window.orderBy("k")))
    assert chk.filter(F.col("cnt") != F.col("rank")).count() == 0
