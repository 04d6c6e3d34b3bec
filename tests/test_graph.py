"""Connected components (operators/graph.py) — cluster-assignment
semantics for near-dup dedup."""

from __future__ import annotations

from ingestor_etl_spark.operators.graph import connected_components


def test_components_min_label(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (8, 9), (9, 10), (10, 11)], ["a", "b"]
    )
    got = {
        (r.node, r.component)
        for r in connected_components(edges, src="a", dst="b").collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1),
        (5, 5), (6, 5),
        (8, 8), (9, 8), (10, 8), (11, 8),
    }


def test_chain_converges_past_one_hop(spark):
    # a 6-node path: label 0 must propagate the full diameter
    edges = spark.createDataFrame([(i, i + 1) for i in range(5)], ["a", "b"])
    got = connected_components(edges, src="a", dst="b").collect()
    assert {r.component for r in got} == {0}
    assert len(got) == 6


def test_empty_edges(spark):
    from pyspark.sql.types import LongType, StructField, StructType

    empty = spark.createDataFrame(
        [], StructType([StructField("a", LongType()), StructField("b", LongType())])
    )
    assert connected_components(empty, src="a", dst="b").count() == 0
