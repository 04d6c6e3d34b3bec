"""Plan-shape + layout-helper tests: assert the physical plans we
designed for, not just the values."""

from __future__ import annotations

from pyspark.sql import functions as F

from ingestor_etl_spark.catalog import load_table
from ingestor_etl_spark.plans.layout import (
    explode_hot_keys,
    plan_facts,
    salted_agg,
)
from ingestor_etl_spark.queries import load_all

REGISTRY = load_all()


def test_q5_plan_is_broadcast_only_with_pushdown(spark, sf_dir):
    facts = plan_facts(REGISTRY["q5_region_revenue"].fn(spark, sf_dir))
    assert facts["broadcast_joins"] >= 4  # all five dims broadcast
    assert facts["sort_merge_joins"] == 0
    # the date filter reaches the parquet scan
    assert any("o_orderdate" in f for f in facts["pushed_filters"])
    # lineitem scan is pruned to the consumed columns only
    li = [s for s in facts["read_schemas"] if "l_extendedprice" in s]
    assert li and "l_comment" not in li[0]


def test_q1_scan_prunes_columns(spark, sf_dir):
    facts = plan_facts(REGISTRY["q1_pricing_summary"].fn(spark, sf_dir))
    scans = [s for s in facts["read_schemas"] if "l_quantity" in s]
    assert scans and all("l_comment" not in s for s in scans)
    # codegen ids only annotate the AQE final plan post-execution,
    # so plan_facts' codegen_stages is best-effort; the agg itself
    # must be a single-exchange hash aggregate
    assert facts["n_exchanges"] <= 2


def test_exact_dedup_single_exchange(spark, sf_dir):
    facts = plan_facts(REGISTRY["exact_dedup"].fn(spark, sf_dir))
    # one shuffle for the groupBy + one for the final orderBy — no
    # hidden extra exchanges
    assert facts["n_exchanges"] <= 3


def test_salted_agg_matches_direct(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    direct = (
        e.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("value").alias("max_value"),
        )
        .orderBy("event_type")
        .collect()
    )
    salted = (
        salted_agg(
            e,
            ["event_type"],
            {"n": ("event_id", "count"), "max_value": ("value", "max")},
            n_salts=8,
        )
        .orderBy("event_type")
        .collect()
    )
    assert [(r.event_type, r.n, r.max_value) for r in direct] == [
        (r.event_type, r.n, r.max_value) for r in salted
    ]


def test_explode_hot_keys_join_parity(spark):
    big = spark.createDataFrame(
        [("hot", i) for i in range(100)] + [("cold", 1), ("cold2", 2)],
        "k string, v int",
    )
    small = spark.createDataFrame(
        [("hot", "H"), ("cold", "C"), ("cold2", "D")], "k string, tag string"
    )
    hot = spark.createDataFrame([("hot",)], "k string")
    big_s, small_s = explode_hot_keys(big, small, ["k"], hot, n_salts=4)
    salted = big_s.join(small_s, ["k", "__salt"]).select("k", "v", "tag")
    plain = big.join(small, "k").select("k", "v", "tag")
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_bucketed_join_eliminates_shuffle(spark, sf_dir, tmp_path_factory):
    """Bucketing both join sides on the key pre-shuffles data at
    write time — the join then plans with ZERO Exchange nodes. At
    100 TB this converts every repeated fact-fact join on the same
    key from a full shuffle into a local merge (the Spark analogue
    of the reference's per-key dict partitioning)."""
    base = str(tmp_path_factory.mktemp("buckets"))
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    (o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", base + "/orders_b").mode("overwrite").saveAsTable("orders_b"))
    (l.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", base + "/lineitem_b").mode("overwrite").saveAsTable("lineitem_b"))
    try:
        ob = spark.table("orders_b").hint("merge")
        lb = spark.table("lineitem_b")
        joined = ob.join(lb, F.col("o_orderkey") == F.col("l_orderkey"))
        facts = plan_facts(joined)
        assert facts["sort_merge_joins"] == 1
        assert facts["n_exchanges"] == 0, facts
        # and it still computes the right thing
        n = joined.count()
        expected = (
            load_table(spark, sf_dir, "orders")
            .join(
                load_table(spark, sf_dir, "lineitem"),
                F.col("o_orderkey") == F.col("l_orderkey"),
            )
            .count()
        )
        assert n == expected
    finally:
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_release_caches_no_net_growth(spark, sf_dir):
    """Cache contract: materialize() pins are query-scoped. After a
    cache-heavy query runs, release_caches() must drop every pinned
    stage — a full queries() sweep leaves no net cache growth."""
    from ingestor_etl_spark.plans import layout

    layout.release_caches()  # drop leftovers from earlier tests
    sc = spark.sparkContext
    base = len(sc._jsc.sc().getRDDStorageInfo())
    df = REGISTRY["minhash_lsh_pairs"].fn(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    assert len(sc._jsc.sc().getRDDStorageInfo()) > base
    released = layout.release_caches()
    assert released >= 1
    assert len(sc._jsc.sc().getRDDStorageInfo()) <= base


def _diameter_correlated(spark, tmp_path):
    from ingestor_etl_spark import capturegen as g
    from ingestor_etl_spark.protocols.diameter import (
        correlate_diameter,
        decode_diameter,
    )
    from ingestor_etl_spark.protocols.net import expand_l4
    from ingestor_etl_spark.sources.pcap import read_pcap

    ccr = g.diameter_msg(272, True, 1, 1, [g.diameter_avp(263, b"sess;1")])
    p = tmp_path / "d.pcap"
    p.write_bytes(
        g.pcap([(1700, 0, g.eth(g.ipv4(g.sctp([(0, 0, 46, ccr)], 40001, 3868), 132)))])
    )
    decoded = decode_diameter(expand_l4(read_pcap(spark, str(p))))
    return decoded, correlate_diameter(decoded)


def _formatted(df):
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(mode)


def test_diameter_port_filter_below_stitch(spark, tmp_path):
    """The 3868 port gate must run BEFORE the reassembly shuffle +
    FlatMapGroupsInArrow stitcher — i.e. appear deeper in the plan
    tree — so non-Diameter traffic never reaches Python or the wire.
    Pins the decode subtree to exactly one exchange (the stream-key
    groupBy)."""
    import re

    decoded, _ = _diameter_correlated(spark, tmp_path)
    facts = plan_facts(decoded)
    assert facts["n_exchanges"] == 1, facts
    txt = _formatted(decoded)
    tree = txt.split("\n\n")[0].splitlines()
    # conditions live in the numbered detail entries; map the ids of
    # Filters mentioning the port back to their tree positions
    port_ids = re.findall(r"\((\d+)\) Filter\nInput.*\nCondition : .*3868", txt)
    assert port_ids, txt
    stitch = next(i for i, ln in enumerate(tree) if "FlatMapGroupsInArrow" in ln)
    positions = [
        next(i for i, ln in enumerate(tree) if f"({pid})" in ln) for pid in port_ids
    ]
    assert all(i > stitch for i in positions), (stitch, positions)


def test_j1_correlate_exchange_budget(spark, tmp_path):
    """J1 full-outer correlation on top of the decode: exactly three
    exchanges total — one for the decode groupBy, one per join side
    on the transaction key (the request side's doubles as the
    retransmission-dedup aggregation). Any extra exchange is a plan
    regression."""
    _, correlated = _diameter_correlated(spark, tmp_path)
    facts = plan_facts(correlated)
    assert facts["n_exchanges"] == 3, facts
