"""Empty-input / degenerate-input behavior of the session-3 operators:
every one must degrade to an empty (or identity) result, never throw."""

from pyspark.sql import functions as F


def test_bloom_empty_dim_filters_everything(spark):
    from sec_edgar_spark.operators.bloom import bloom_prefilter

    facts = spark.range(100).select(F.col("id").alias("fk"))
    empty_dim = spark.range(0).select(F.col("id").alias("dk"))
    out = bloom_prefilter(facts, "fk", empty_dim, "dk", n_bits=1 << 10, k=3)
    assert out.count() == 0  # all-zero filter probes negative for all


def test_scd2_merge_empty_delta_is_identity(spark):
    from sec_edgar_spark.operators.scd import scd2_build, scd2_merge

    log = spark.createDataFrame(
        [(1, "a", "2024-01-01 00:00:00", 1)],
        "user_id long, event_type string, ts string, event_id long",
    ).select("user_id", "event_type", F.col("ts").cast("timestamp"), "event_id")
    dim = scd2_build(log)
    empty = log.filter(F.lit(False))
    merged = scd2_merge(dim, empty)
    assert sorted(merged.collect()) == sorted(dim.collect())


def test_parallel_ntile_empty_and_single_row(spark):
    from sec_edgar_spark.operators.relational import parallel_ntile

    empty = spark.range(0).select(F.col("id").alias("v"), F.col("id").alias("t"))
    assert parallel_ntile(empty, ["v", "t"], 8).count() == 0
    one = spark.range(1).select(F.col("id").alias("v"), F.col("id").alias("t"))
    rows = parallel_ntile(one, ["v", "t"], 8).collect()
    assert len(rows) == 1 and rows[0]["bucket"] == 1


def test_pagerank_empty_edges(spark):
    from sec_edgar_spark.operators.graph import ppr_int

    empty = spark.createDataFrame([], "src long, dst long")
    assert ppr_int(empty, lambda c: F.lit(True), iters=2).count() == 0


def test_label_propagation_self_loop_only(spark):
    from sec_edgar_spark.operators.graph import label_propagation

    edges = spark.createDataFrame([(5, 5)], "src long, dst long")
    got = label_propagation(edges, iters=2).collect()
    assert [(r.id, r.community) for r in got] == [(5, 5)]


def test_compact_parquet_refuses_partitioned_tree(spark, tmp_path):
    import pytest

    from sec_edgar_spark.operators.maintenance import compact_parquet

    path = str(tmp_path / "pt")
    spark.range(100).select(
        "id", (F.col("id") % 3).alias("g")
    ).write.partitionBy("g").parquet(path)
    with pytest.raises(ValueError, match="hive-partitioned"):
        compact_parquet(spark, path, target_bytes=1)


def test_morton_key_zero_dims(spark):
    from sec_edgar_spark.operators.zorder import morton_key

    df = spark.createDataFrame([(0, 0)], "x long, y long").select(
        morton_key(F.col("x"), F.col("y"), 12).alias("z")
    )
    assert df.collect()[0]["z"] == 0
