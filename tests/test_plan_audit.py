"""Whole-registry plan invariants: every registered query's physical
plan must stay inside the scale-safe envelope. Catches silent plan
regressions (a join flipping to nested-loop, a new Python operator
in a hot path) anywhere in the surface, not just the hand-picked
plans in test_plans.py."""

from __future__ import annotations

import pytest

from ingestor_etl_spark.plans.audit import audit_all

# nested-loop joins are legitimate ONLY where one side is a literal
# handful of rows by construction (broadcast query/centroid sets,
# 1-row scalar-subquery cross joins)
BNL_ALLOWED = {
    "ann_cosine_topk",
    # 20-row query-sketch side broadcast against the corpus sketch
    # table with the non-equi self-exclusion — same shape as
    # ann_cosine_topk (round 11)
    "ann_hamming_topk",
    # same sketch shape plus the 6-row pool sweep against the 60-row
    # exact edge set — tiny×tiny by construction (the
    # ivf_nprobe_whatif pattern)
    "hamming_pool_whatif",
    "ann_ivf",
    # 8-row IVF-centroid broadcast into the assignment cross join —
    # same shape as ann_ivf (round 9)
    "ann_ivf_pq",
    # round 10: the same centroid/codebook-literal cross joins as
    # ann_ivf_pq (Lloyd training argmins + 1-row totals), plus — for
    # the whatif — the 8-row nprobe sweep against the 60-row exact
    # edge set, tiny×tiny by construction
    "ann_ivf_pq_residual",
    "ivf_nprobe_whatif",
    "ivf_balance_profile",
    # round 13: the five 1-row countDistinct legs meet the 1-row
    # stats aggregate by broadcast cross-join (the
    # Expand+SortAggregate removal) — 1-row × 1-row by construction
    "schema_profile",
    # composes the five variant plans above, so it inherits exactly
    # their literal-side nested loops
    "ann_quality_scoreboard",
    "q22_idle_customers",
    # 1-row scalar-subquery (global total) broadcast into the HAVING
    # filter — literal-side by construction, same shape as q22
    "q11_important_parts",
    # 1-row corpus-stats broadcast (N/avgdl, total-token count) into
    # per-term scoring — literal-side by construction
    "bm25_search",
    "unigram_logprob",
    "key_skew_profile",
    # 20-row query-vector side broadcast against the corpus with the
    # non-equi self-exclusion predicate — same shape as ann_cosine_topk
    "rrf_hybrid_search",
    # three 1-row aggregate branches cross-joined into the report row
    # — literal-side by construction, same shape as q11
    "dedup_report",
    # 1-row per-dimension min/max stats relation broadcast into the
    # quantization pass — literal-side by construction, same shape
    # as bm25_search
    "embedding_quantize_int8",
    # 1-row Bloom-filter relation (32 longs) broadcast into the fact
    # probe, plus 1-row stat branches cross-joined into the report —
    # literal-side by construction, same shape as dedup_report
    "bloom_join_filter",
    # score-DOMAIN-bounded global-CDF relation (distinct score values,
    # corpus-size-independent) in the non-equi quantile-mapping join,
    # plus the 1-row global count — bounded-side by construction
    "quantile_normalize",
    # 1-row exact-count branch cross-joined into the merged-sketch
    # report row — literal-side by construction, same shape as q11
    "sketch_shard_merge",
    # round 5: 20-row query-vector broadcast with the non-equi
    # self-exclusion predicate on both legs — same shape as
    # ann_cosine_topk
    "ann_recall_eval",
    # 8-row centroid broadcast into the assignment cross join — same
    # shape as ann_ivf
    "semdedup_clusters",
    # 1-row join-total broadcast into the share projection — same
    # shape as key_skew_profile
    "join_cardinality_estimator",
    # five relationship legs, each a 1-row child-count broadcast
    # cross-joined into its report row — literal-side by construction
    "fk_integrity_audit",
    # 1-row feed-size broadcast cross-joined into the quality report
    # row — literal-side by construction, same shape as dedup_report
    "er_quality_eval",
    # 1-row bigram-total broadcast into the lift projection — same
    # shape as key_skew_profile
    "collocation_lift",
    # 4-row vocab-size grid + 1-row totals, both broadcast into the
    # coverage sweep — literal-side by construction
    "vocab_coverage_curve",
    # 20-row query-vector broadcast with the non-equi self-exclusion
    # predicate on both legs — same shape as ann_recall_eval
    "ann_dim_truncation_eval",
    # 1-row totals/anchor broadcast into the report projection —
    # literal-side by construction, same shape as key_skew_profile
    "events_hourly_heatmap",
    "order_status_aging",
    # 5-row literal threshold grid broadcast into the non-equi
    # (jaccard >= threshold) cross-tab — literal-side by construction
    "dedup_threshold_sweep",
}

# Python evaluation is legitimate ONLY in the documented Arrow-batch
# surfaces: packet decode pipelines, the multimodal codec, and the
# _vec_np numpy kernels (round 13: the 64-plane Hamming sketch is an
# Arrow-batched k-sequential matmul, bitwise-identical to the old
# interpreted hof fold — see _vec_np.np_ham_words; the scoreboard
# composes the two sketch arms)
PYEVAL_PREFIXES = (
    "pcap_",
    "multimodal_",
    "j7_display_filter",
    "ann_hamming_topk",
    "hamming_pool_whatif",
    "ann_ivf_hamming",
    "ann_quality_scoreboard",
)


@pytest.fixture(scope="module")
def audit(spark, sf_dir):
    return audit_all(spark, sf_dir)


def test_no_cartesian_products(audit):
    offenders = {n: a for n, a in audit.items() if a["cartesian_products"]}
    assert not offenders, offenders


def test_nested_loop_joins_only_for_literal_sides(audit):
    offenders = {
        n: a["nested_loop_joins"]
        for n, a in audit.items()
        if a["nested_loop_joins"] and n not in BNL_ALLOWED
    }
    assert not offenders, offenders


def test_python_eval_only_in_decode_surfaces(audit):
    offenders = {
        n: a["python_evals"]
        for n, a in audit.items()
        if a["python_evals"] and not n.startswith(PYEVAL_PREFIXES)
    }
    assert not offenders, offenders


# Multi-leg UNION reports: independent sub-queries unioned into one
# result legitimately SUM their exchanges — nothing is replanned, the
# legs just don't share lineage. fk_integrity_audit is five
# child→parent orphan checks (4 exchanges each).
MULTI_LEG_REPORTS = {"fk_integrity_audit"}


def test_every_plan_bounded_exchanges(audit):
    """No query needs more than a handful of shuffles of NEW data;
    anything beyond that should be materializing shared stages
    (cached_scans > 0) rather than replanning them."""
    offenders = {
        n: a["n_exchanges"]
        for n, a in audit.items()
        if a["n_exchanges"] > 12
        and not a["cached_scans"]
        and n not in MULTI_LEG_REPORTS
    }
    assert not offenders, offenders


def test_executed_plan_counts_on_cached_heavy_queries(spark, sf_dir):
    """The POST-AQE reality check the parsed audit approximates
    (round-4 verdict item 9): for the cached-heavy queries whose
    formatted-explain numbers nest the full lineage under every
    cache reuse, walk the EXECUTED tree and demand (a) the walk
    succeeds, (b) executed Python operators stay inside the
    documented surfaces (zero here), and (c) AQE/cache reuse is
    actually happening where the plan intends it (reuses + cache
    scans > 0)."""
    from ingestor_etl_spark.plans.audit import executed_facts
    from ingestor_etl_spark.plans.layout import release_caches
    from ingestor_etl_spark.queries import load_all

    reg = load_all()
    for name in ("lsh_dedup_eval", "prefix_filter_join"):
        df = reg[name].fn(spark, sf_dir)
        e = executed_facts(df)
        release_caches()
        assert "exec_error" not in e, (name, e)
        assert e["exec_exchanges"] > 0, (name, e)
        assert e["exec_pyevals"] == 0, (name, e)
        assert e["exec_reused"] + e["exec_cache_scans"] > 0, (name, e)


def test_executed_exchange_budgets(spark, sf_dir):
    """Pin the round-6 exchange-count wins (round-6 verdict item 2)
    so they can't silently regress: the window-algebra HTTP link
    (protocols/http_sig.py link_http rework) executes ≤ 7 shuffle
    exchanges and the shared-scan FK audit ≤ 5 — both were 20 before
    the rework. Budgets are the POST-AQE executed counts at sf0.001,
    the same numbers PLANS.md's x-exch column records."""
    from ingestor_etl_spark.plans.audit import executed_facts
    from ingestor_etl_spark.plans.layout import release_caches
    from ingestor_etl_spark.queries import load_all

    reg = load_all()
    budgets = {
        # the HTTP reassembly is one per-file group (one shuffle);
        # the decode relation is materialized once and link_http's
        # pair window adds the other exchanges
        "pcap_http_ocs_linked": 3,
        # one per-file reassembly shuffle, no joins
        "pcap_http_ss7sms": 1,
        # the reassembly once per dialect branch, plus the final sort
        "pcap_http_camel_diameter": 3,
        "fk_integrity_audit": 5,
        # round-8 (round-7 verdict item 6): the r7/r8 additions and
        # the census-gated jaccard family, pinned at their measured
        # post-AQE executed counts
        "dedup_threshold_sweep": 5,
        "cross_source_dup_overlap": 5,
        "pcap_tshark_fields": 3,
        "exact_substring_extend": 4,
        "ngram_jaccard_pairs": 3,
        "embedding_near_dup": 2,
        # round-10/11: the vector family, pinned at their measured
        # post-AQE executed counts at sf0.01 (the fixture scale;
        # PLANS.md's sf0.001 rows now match these exactly). Tightened
        # in round 11 when every trained-centroid coarse pass became
        # a zero-exchange literal-codebook projection (the old
        # crossJoin+row_number ranking and the PQ-encode
        # join+min-aggregate each paid a corpus shuffle): ann_ivf_pq
        # 9→2, residual 4→2, scoreboard 30→20, whatif 12→9 at
        # sf0.001. Lloyd training rounds are broadcast-argmin
        # projections and the eval joins are KB-sized aggregates, so
        # the budgets are scale-stable.
        "pq_distortion_eval": 2,
        "ann_hamming_topk": 2,
        # round 13: census-literal report tails removed the totals
        # aggregates + 1-row crossJoin broadcasts (whatifs 9 → 6/7,
        # balance 5 → 3, scoreboard 19 → 17). Round 14 (r13 verdict
        # items 1/4): the build-time prefill contract and every
        # count-census memo are gone — these are now COLD-plan
        # executed counts (first execution, caches filled in-plan).
        # hamming_pool_whatif 6 → 7: the corpus size is an in-plan
        # 1-row count aggregate again (one tiny exchange) instead of
        # a build-time collected literal; the exact-leg denominator
        # stayed off-plan as a PLAN CONSTANT (N_QUERIES × TOPK).
        "hamming_pool_whatif": 7,
        "ann_ivf": 2,
        "ann_ivf_hamming": 2,
        "ann_ivf_pq": 2,
        "ann_ivf_pq_residual": 2,
        # 7 at sf0.01 (this suite's fixture), 8 at sf0.001 (PLANS.md's
        # scale — the round-14 in-plan corpus-count aggregate lands in
        # its own exchange under sf0.001's AQE coalescing); pinned at
        # the max so the budget is scale-stable
        "ivf_nprobe_whatif": 8,
        # composes every variant arm, so it tightened twice in r11:
        # 30 → 20 (literal-codebook refactor) → 18 (+2 for the 6th
        # Hamming arm, −4 when ann_ivf's window went zero-exchange);
        # +1 in r12 for the 7th arm (ann_ivf_hamming — its candidate
        # join and rank windows reuse the shared coarse machinery,
        # so the whole arm costs ONE extra executed exchange)
        "ann_quality_scoreboard": 17,
        "ivf_balance_profile": 3,
    }
    for name, cap in budgets.items():
        df = reg[name].fn(spark, sf_dir)
        e = executed_facts(df)
        release_caches()
        assert "exec_error" not in e, (name, e)
        assert e["exec_exchanges"] <= cap, (name, e)


def test_executed_exchange_budget_ppjoin_hot_plan(spark):
    """Round-8 verdict item 6: the census-gated jaccard_pairs has TWO
    executed shapes, and only the uncut one is covered by the
    registry budgets above (oracle-scale corpora never route to
    PPJoin). Pin the HOT shape on a synthetic boilerplate corpus —
    one shingle on all 25k docs (hot mass C(25k,2) ≈ 3.1e8 >
    JACCARD_UNCUT_MASS_MAX, ≫ 2× capped mass) — so a plan regression
    of the skew path fails an invariant instead of drifting in
    SKEWBENCH. Measured post-AQE executed count: 6 (dfreq agg, rank
    window, keyed repartition, candidate distinct, two verify-join
    shuffles)."""
    from pyspark.sql import functions as F  # noqa: F401 (corpus expr)

    from ingestor_etl_spark.plans.audit import executed_facts
    from ingestor_etl_spark.plans.layout import release_caches
    from ingestor_etl_spark.queries.dedup_ops import (
        JACCARD_UNCUT_MASS_MAX,
        _jaccard_census,
        _jaccard_sets,
        _use_prefix_plan,
        jaccard_pairs,
    )

    hot_docs = spark.range(25_000).selectExpr(
        "id AS doc_id",
        "array_distinct(concat("
        " transform(sequence(0, 3), i -> concat('sh', pmod(hash(id, i), 40000))),"
        " array('the quick brown')"
        ")) AS shingles",
    )
    # the census must actually route this corpus to the PPJoin plan
    _, mass, mass_capped = _jaccard_census(_jaccard_sets(spark, hot_docs))
    release_caches()
    assert mass > JACCARD_UNCUT_MASS_MAX and _use_prefix_plan(mass, mass_capped)

    e = executed_facts(jaccard_pairs(spark, hot_docs))
    release_caches()
    assert "exec_error" not in e, e
    assert e["exec_pyevals"] == 0, e
    assert e["exec_exchanges"] <= 6, e


def test_executed_exchange_budget_knn_census(spark, sf_dir):
    """Round-9 verdict item 6: knn_graph's in-query occupancy census
    (auto_scale, the registered form since round 9) is a one-row
    count over the already-materialized distinct-vector relation — it
    must add exactly one extra JOB and ZERO exchanges to the executed
    plan. Pin that as an invariant: the auto-scaled form's post-AQE
    executed facts equal the fixed-parameter form's exactly
    (measured: 4 exchanges, 9 reuses at both sf0.001 and sf0.01),
    inside the PLANS.md x-exch budget."""
    from pyspark.sql import functions as F

    from ingestor_etl_spark.catalog import load_table
    from ingestor_etl_spark.plans.audit import executed_facts
    from ingestor_etl_spark.plans.layout import release_caches
    from ingestor_etl_spark.queries.vector_ops import (
        _as_double,
        _knn_graph_from,
    )

    def facts(auto):
        e = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", _as_double(F.col("embedding")).alias("v")
        )
        f = executed_facts(_knn_graph_from(e, auto_scale=auto))
        release_caches()
        return f

    auto, fixed = facts(True), facts(False)
    assert "exec_error" not in auto, auto
    assert "exec_error" not in fixed, fixed
    assert auto == fixed, (auto, fixed)
    assert auto["exec_exchanges"] <= 7, auto
