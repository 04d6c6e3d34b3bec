"""Benchmark harness for the registered queries.

The modes are listed in _USAGE below (`python bench.py --help` prints
it). Every mode prints ONE JSON line on stdout and nothing else. The
default mode reads $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
and prints
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is executed to completion with a noop sink (full compute,
no driver-side materialization cost) and timed by _time_query_cold,
after a warm-up job on the session JVM. Ingest and streaming are
measured by perfbench/ (see perfbench/README.md).
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

_REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO)

from ingestor_etl_spark.plans.layout import release_caches  # noqa: E402
from ingestor_etl_spark.queries import load_all  # noqa: E402
from ingestor_etl_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "q6_revenue_forecast",
    "j1_request_response",
    "j2_group_enrich",
    "j6_sessionize",
    "o3_dedup_events",
    "exact_dedup",
    "text_quality",
    "ann_cosine_topk",
    "minhash_lsh_pairs",
    "simhash_clusters",
    "ann_lsh_bucketed",
    "lang_id",
    "multimodal_features",
    "pcap_diameter_correlated",
]


# Benched separately so the headline total stays comparable with
# BASELINE (the same 17 queries).
EXTENDED = [
    "pii_redact",
    "url_dedup",
    "contamination_check",
    "corpus_top_ngrams",
    "text_repetition",
    "domain_mixture",
    "multimodal_frame_sample",
    "sql_passthrough",
    "j7_display_filter",
    "segment_dedup",
    "bm25_search",
    "unigram_logprob",
    "shard_pack",
    "value_histogram",
    "csv_ingest",
    "html_strip",
    "importance_resample",
    "curriculum_bins",
    "bpe_pair_counts",
    "pagerank_dup_graph",
    "key_skew_profile",
    "eval_holdout_split",
    "dataset_card",
    "snapshot_diff",
    "quality_classifier",
    "canonical_docs",
    "rrf_hybrid_search",
    "ann_pq_topk",
    "score_calibration",
    "lsh_dedup_eval",
    "vocab_coverage",
    "mixture_drift",
    "embedding_stats",
    "partitioned_write_roundtrip",
    "dedup_report",
    "pcap_flow_stats",
    "salted_hot_agg",
    "events_gapfill",
    "cms_heavy_hitters",
    "source_reputation",
    "compaction_plan",
    "knn_graph",
    "gdpr_delete_audit",
    "zone_map_prune",
    "incremental_rollup",
    "lang_id_confusion",
    "winsorize_scores",
    "session_transcripts",
    "incremental_dedup",
    "embedding_quantize_int8",
    "pit_dimension_join",
    "salted_skew_join",
    "rolling_zscore_outliers",
    "containment_pairs",
    "bloom_join_filter",
    "frequent_paths",
    "quantile_normalize",
    "cube_revenue",
    "sketch_shard_merge",
    "zorder_layout",
    "window_zoo",
    "datetime_functions",
    "array_functions",
    "string_functions",
    "json_functions",
    "math_functions",
    "conditional_functions",
    "curation_pipeline",
    # The synthetic testdata is the worst case of the next two
    # similarity joins (50-word vocabulary -> dense shingle df;
    # 99%-duplicated part names -> maximal block collisions); see
    # SCALING.md §19.
    "prefix_filter_join",
    "entity_resolution",
    "gopher_rules",
    "char_entropy",
    "halflife_decay",
    "multimodal_decode_image",
    "tfidf_cosine_pairs",
    "funnel_conversion",
    "retention_matrix",
    "shingle_df_profile",
    "minhash_jaccard_estimate",
    "code_detect",
    "ann_recall_eval",
    "dup_graph_degree_stats",
    "bigram_novelty",
    "label_balance_resample",
    "semdedup_clusters",
    "join_cardinality_estimator",
    "fk_integrity_audit",
    "er_quality_eval",
    "schema_profile",
    "dup_group_size_profile",
    "fixedwidth_ingest",
    "collocation_lift",
    "vocab_coverage_curve",
    "dup_graph_triangles",
    "ann_dim_truncation_eval",
    "events_hourly_heatmap",
    "order_status_aging",
    "supplier_lead_time",
    "clv_by_cohort",
    "source_lang_purity",
    "exact_substring_dedup",
    "lsh_band_whatif",
    "mixture_token_allocation",
    "stream_neardup_parity",
    "stream_interval_join_parity",
    "stream_session_window_parity",
    "stream_windowed_counts_parity",
    "hard_negative_mining",
    "embedding_near_dup",
    "pcap_http_ocs_linked",
    "stream_cms_cells_parity",
    "stream_zscore_parity",
    "exact_substring_extend",
    "cross_source_dup_overlap",
    "multimodal_decode_audio",
    "pcap_tshark_fields",
    "minhash_contamination",
    "dedup_threshold_sweep",
    "xml_ingest",
    "ann_ivf_pq",
    "ann_ivf_pq_residual",
    "pq_distortion_eval",
    "ivf_nprobe_whatif",
    "ivf_balance_profile",
    # the scoreboard is the heaviest plan in the repo: it composes
    # every ANN variant plus the exact leg
    "ann_quality_scoreboard",
    "ann_hamming_topk",
    "hamming_pool_whatif",
]


def _layout_note(sf_dir: str) -> str | None:
    """Report the input parquet layout: the testdata ships ONE row
    group per table, which Spark cannot split — every scan (and its
    fused partial aggregation) is single-task no matter how many
    cores exist, unlike the multi-row-group layout BASELINE.md's
    numbers were measured on. Recorded in the bench JSON so
    comparisons between runs are read against the right input
    layout. (At cluster scale inputs are many files; this is a
    test-rig artifact, and the auto-compaction experiments in
    SCALING.md §layout document why we do not rewrite the read-only
    testdata.)"""
    try:
        import pyarrow.parquet as pq

        f = pq.ParquetFile(os.path.join(sf_dir, "lineitem.parquet"))
        if f.metadata.num_row_groups == 1:
            return (
                f"unsplittable input: lineitem has 1 row group "
                f"({f.metadata.num_rows} rows) -> single-task scans"
            )
    except Exception:
        pass
    return None


# ------------------------------------------------- splittable input copy
_SPLIT_ROW_GROUPS = 32  # target row groups per table in the split copy


def _split_copy_dir(sf_dir: str) -> str:
    """Materialize a SPLITTABLE multi-row-group copy of the testdata
    (≥_SPLIT_ROW_GROUPS row groups per table) under /tmp, cached by a
    (name, size, mtime) fingerprint of the source files — the same
    caching scheme orc_ingest uses. The driver's testdata ships one
    row group per table (unsplittable → single-task scans), which is
    NOT the layout BASELINE.md was measured on and not what any real
    deployment reads; benching both layouts separates plan quality
    from this test-rig artifact (SCALING.md §15). Raises when the
    copy can't be built; the main bench then reports raw-layout
    numbers and the error (see main).
    """
    import glob
    import hashlib
    import tempfile

    import pyarrow.parquet as pq

    srcs = sorted(glob.glob(os.path.join(sf_dir, "*.parquet")))
    if not srcs:
        raise FileNotFoundError(f"no *.parquet under {sf_dir}")
    fp = hashlib.md5(
        "|".join(
            f"{os.path.basename(p)}:{os.path.getsize(p)}:{int(os.path.getmtime(p))}"
            for p in srcs
        ).encode()
    ).hexdigest()[:12]
    out_dir = os.path.join(
        tempfile.gettempdir(),
        f"ingestor_etl_spark_bench_split_{os.path.basename(os.path.normpath(sf_dir))}_{fp}",
    )
    marker = os.path.join(out_dir, "_DONE")
    if os.path.exists(marker):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    for p in srcs:
        t = pq.ParquetFile(p).read()
        rg = max(1024, t.num_rows // _SPLIT_ROW_GROUPS)
        # version 2.6 preserves TIMESTAMP(NANOS) (events.ts)
        pq.write_table(
            t,
            os.path.join(out_dir, os.path.basename(p)),
            row_group_size=rg,
            version="2.6",
        )
    with open(marker, "w") as fh:
        fh.write(fp)
    return out_dir


# maxPartitionBytes for the split-copy runs: sized so the sf0.1
# multi-row-group tables fan out across the local cores (the setting
# is runtime-mutable per-query via SQLConf, so the raw-layout runs
# keep the production 128 MB default).
_SPLIT_MAX_PARTITION_BYTES = 4 * 1024 * 1024


def _time_query_cold(build_thunk, n_runs: int) -> tuple[float, float]:
    """Time one query: ``(steady, first)`` in seconds.

    ``first`` is the cold cost: DataFrame construction (eager
    coordinator jobs — training censuses, plan-shape probes) plus the
    first noop execution, which fills every materialize() cache and
    amortizes whole-stage-codegen JIT. Nothing is prefetched outside
    the timed spans: the caches a query needs are filled inside
    ``first`` or inside the steady runs, never off-clock.

    ``steady`` is the best of ``n_runs`` further noop writes. Best-of
    is the right estimator for a fixed workload on a shared host:
    contention only ever adds time, and run-to-run swings of ±9-25%
    on identical code are measured (SCALING.md "Bench drift")."""
    t0 = time.perf_counter()
    df = build_thunk()
    build = time.perf_counter() - t0
    t1 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    first = build + (time.perf_counter() - t1)
    best = float("inf")
    for _ in range(n_runs):
        start = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - start)
    return round(best, 3), round(first, 3)


def _session(app_name: str):
    """The bench session, warmed up with a trivial job (JVM start and
    parquet footer cache stay off every timed span).

    stdout must carry only the mode's one JSON line, so console
    progress bars are off and JVM unified logging goes to stderr: by
    default the JVM writes GC warnings ("[warning][gc,alloc] ...
    Retried waiting for GCLocker too often") to stdout under memory
    pressure, in the middle of the line a caller parses.

    Spark's Python workers import the package too, from any working
    directory: they inherit the ``PYTHONPATH`` the JVM starts with,
    not this process's ``sys.path``."""
    paths = os.environ.get("PYTHONPATH", "").split(os.pathsep)
    if _REPO not in paths:
        os.environ["PYTHONPATH"] = os.pathsep.join([_REPO, *filter(None, paths)])
    spark = get_spark(
        app_name,
        **{
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": "-Xlog:all=warning:stderr",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    return spark


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    registry = load_all()
    spark = _session("ingestor-etl-spark-bench")

    names = [n for n in HEADLINE if n in registry]

    # Raw-layout headline: the testdata's own parquet (one row group
    # per table → single-task scans). Each query reports its steady
    # time and its cold first run (see _time_query_cold).
    raw_timings: dict[str, float] = {}
    raw_first: dict[str, float] = {}
    for name in names:
        raw_timings[name], raw_first[name] = _time_query_cold(
            lambda: registry[name].fn(spark, sf_dir), 3
        )
        release_caches()  # query-scoped cache contract

    # Split-layout headline: a splittable multi-row-group copy (the
    # layout BASELINE.md was measured on, and the only layout that
    # exists at cluster scale), scans fanned out via a runtime
    # maxPartitionBytes override. Reported as the PRIMARY number;
    # the raw numbers + delta quantify the test-rig layout artifact
    # (SCALING.md §15).
    # A failed copy falls back to the raw layout, loudly: traceback on
    # stderr, error in the JSON line.
    try:
        split_dir, split_error = _split_copy_dir(sf_dir), None
    except Exception as exc:
        traceback.print_exc(file=sys.stderr)
        split_dir, split_error = None, f"{type(exc).__name__}: {exc}"
    split_timings: dict[str, float] = {}
    split_first: dict[str, float] = {}
    if split_dir:
        spark.conf.set(
            "spark.sql.files.maxPartitionBytes", str(_SPLIT_MAX_PARTITION_BYTES)
        )
        for name in names:
            split_timings[name], split_first[name] = _time_query_cold(
                lambda: registry[name].fn(spark, split_dir), 3
            )
            release_caches()

    extended: dict[str, float] = {}
    extended_first: dict[str, float] = {}
    ext_dir = split_dir or sf_dir
    for name in (n for n in EXTENDED if n in registry):
        extended[name], extended_first[name] = _time_query_cold(
            lambda: registry[name].fn(spark, ext_dir), 2
        )
        release_caches()
    if split_dir:
        spark.conf.set(
            "spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024)
        )

    raw_total = round(sum(raw_timings.values()), 3)
    split_total = round(sum(split_timings.values()), 3) if split_timings else None
    primary = split_total if split_total is not None else raw_total
    result = {
        "metric": "headline_query_set_total",
        "value": primary,
        "unit": "sec",
        "queries": split_timings or raw_timings,
        "raw_layout_queries": raw_timings,
        "raw_layout_total": raw_total,
        "layout_delta_sec": (
            round(raw_total - split_total, 3)
            if split_total is not None
            else None
        ),
        "extended_queries": extended,
        "extended_total": round(sum(extended.values()), 3),
        "extended_layout": "split" if split_dir else "raw",
        "split_copy_error": split_error,
        # Cold cost per query: DataFrame build (eager coordinator
        # jobs) + first noop execution (all cache fills) — the spend
        # the steady best-of-N deliberately amortizes away.
        "first_run_queries": split_first or raw_first,
        "first_run_total": round(
            sum((split_first or raw_first).values()), 3
        ),
        "raw_layout_first_run": raw_first,
        "extended_first_run": extended_first,
        "extended_first_run_total": round(sum(extended_first.values()), 3),
        "layout_note": _layout_note(sf_dir),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    line = json.dumps(result)
    # The line is the only stdout the process emits, flushed in one
    # write (see _session). A caller that captures stdout can set
    # SPARK_GRAFT_BENCH_COPY to get a byte-identical copy, so a
    # mangled capture can be diagnosed against it.
    copy_path = os.environ.get("SPARK_GRAFT_BENCH_COPY")
    if copy_path:
        with open(copy_path, "w") as fh:
            fh.write(line + "\n")
    sys.stdout.write(line + "\n")
    sys.stdout.flush()


# ------------------------------------------------------ sf1 scale check
SF1_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".sf1data", "sf1")
_SF1_REPS = 10  # sf1 = 10 × sf0.1


def _gen_scaled(spark, out_dir: str, n_reps: int) -> None:
    """Deterministic n_reps× scale-up of the sf0.1 tables the
    slowest queries touch (documents, embeddings, lineitem). The
    model is "an n× larger crawl with the same per-shard structure":
    replica 0 is sf0.1 verbatim; replicas 1+ are content-decorrelated
    so duplicate families, shingle universes, and vector directions
    stay replica-local — matching how independently-crawled shards
    behave, and keeping OUTPUT cardinality linear so the bench
    measures engine scaling, not contract-inherent pair blowup.

    - documents: every token suffixed with ~K (disjoint shingle
      universe per replica; per-replica dup structure identical);
    - embeddings: components rotated by 7·K positions with a
      deterministic per-(k, replica) sign pattern — norm-preserving,
      directions decorrelated across replicas;
    - lineitem: keys offset per replica, measures unchanged.
    Written once to .sf1data/ (gitignored; regenerate any time)."""
    os.makedirs(out_dir, exist_ok=True)
    src = "/root/testdata/sf0.1"
    rep = "CAST(r.id AS INT)"

    docs = spark.read.parquet(f"{src}/documents.parquet")
    reps = spark.range(n_reps).alias("r")
    d = docs.crossJoin(reps).selectExpr(
        f"doc_id + {rep} * 5000 AS doc_id",
        f"CASE WHEN r.id = 0 THEN text ELSE "
        f"regexp_replace(text, '(\\\\S+)', concat('$1~', {rep})) END AS text",
        "lang",
        "source",
        "length(CASE WHEN r.id = 0 THEN text ELSE "
        f"regexp_replace(text, '(\\\\S+)', concat('$1~', {rep})) END) AS n_chars",
    )
    d.repartition(8).write.mode("overwrite").parquet(f"{out_dir}/documents.parquet")

    emb = spark.read.parquet(f"{src}/embeddings.parquet")
    e = emb.crossJoin(reps).selectExpr(
        f"vec_id + {rep} * 2000 AS vec_id",
        "transform(sequence(0, 63), k -> CAST("
        f"  element_at(embedding, ((k + {rep} * 7) % 64) + 1)"
        f"  * (CASE WHEN (k * 2654435761 + {rep} * 97) % 2 = 0 THEN 1.0 ELSE -1.0 END)"
        "  AS float)) AS embedding",
        "label",
    )
    e.repartition(8).write.mode("overwrite").parquet(f"{out_dir}/embeddings.parquet")

    li = spark.read.parquet(f"{src}/lineitem.parquet")
    cols = [c for c in li.columns if c != "l_orderkey"]
    li.crossJoin(reps).selectExpr(
        f"l_orderkey + {rep} * 10000000 AS l_orderkey", *cols
    ).repartition(16).write.mode("overwrite").parquet(f"{out_dir}/lineitem.parquet")


def _sf1_main() -> None:
    """`bench.py --sf1`: the 10× scale checkpoint — run the slowest
    sf0.1 queries at sf1 (generated on first use) and report per-query
    times at both scales plus the scaling exponent
    log10(t_sf1/t_sf0.1) (1.0 = perfectly linear). Every query runs
    the REGISTERED plan verbatim with zero bench-side parameters:
    knn_graph and embedding_near_dup both derive their scale knobs
    (n_planes, bucket_cap) from in-query censuses (auto_scale)."""
    from ingestor_etl_spark.queries.vector_ops import KNN_PLANES, _knn_planes

    registry = load_all()
    spark = _session("ingestor-etl-spark-sf1")

    if not os.path.exists(os.path.join(SF1_DIR, "lineitem.parquet")):
        _gen_scaled(spark, SF1_DIR, _SF1_REPS)

    names = [
        "minhash_jaccard_estimate",
        "schema_profile",
        "prefix_filter_join",
        "dup_graph_degree_stats",
        "knn_graph",
        "exact_substring_dedup",
        "lsh_band_whatif",
        "containment_pairs",
        "tfidf_cosine_pairs",
        "embedding_near_dup",
        # the jaccard pair consumers and the curation end-to-end
        "ngram_jaccard_pairs",
        "cross_source_dup_overlap",
        "dedup_threshold_sweep",
        "exact_substring_extend",
        "minhash_contamination",
        "curation_pipeline",
        # the IVF+PQ stack: 6 training passes over the corpus, all
        # broadcast/argmin projections, so the exponent should sit
        # well under 1 (the per-iteration driver round-trips are
        # scale-constant)
        "ann_ivf_pq",
        # the residual-encoding twin (IVFADC proper): same broadcast
        # shape plus one assign+subtract corpus pass
        "ann_ivf_pq_residual",
    ]

    def run_at(sf_dir: str) -> dict[str, float]:
        out = {}
        for name in names:
            out[name], _ = _time_query_cold(
                lambda: registry[name].fn(spark, sf_dir), 2
            )
            release_caches()
        return out

    import math

    t01 = run_at("/root/testdata/sf0.1")
    t1 = run_at(SF1_DIR)

    # the knn_note reports the census inputs the registered query
    # actually sees (distinct-vector counts OBSERVED in the two
    # corpora), not nominal constants that go stale if the generated
    # testdata or _SF1_REPS change
    n_distinct01 = (
        spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
        .select("embedding").distinct().count()
    )
    n_distinct1 = (
        spark.read.parquet(f"{SF1_DIR}/embeddings.parquet")
        .select("embedding").distinct().count()
    )
    release_caches()
    result = {
        "metric": "sf1_scale_check",
        "unit": "sec",
        "value": round(sum(t1.values()), 3),
        "sf0_1": t01,
        "sf1": t1,
        "ratio": {n: round(t1[n] / t01[n], 2) for n in names},
        "scaling_exponent": {
            n: round(math.log10(t1[n] / t01[n]), 3) for n in names
        },
        "knn_note": (
            "registered query self-scales (auto_scale census): "
            f"n_planes={_knn_planes(n_distinct01)} at sf0.1 "
            f"({n_distinct01} distinct vectors observed), "
            f"{_knn_planes(n_distinct1)} at sf1 ({n_distinct1}); "
            f"no bench-side overrides (fixed base KNN_PLANES={KNN_PLANES})"
        ),
    }
    print(json.dumps(result))


# ------------------------------------------ jaccard-family decomposition
SF03_DIR = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), ".sf1data", "sf0.3"
)
SF3_DIR = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), ".sf1data", "sf3"
)


def _jdecomp_main(include_sf3: bool = False) -> None:
    """`bench.py --jdecomp`: bound the jaccard-family
    superlinearity. BENCH_SF1 pins the trio's sf0.1→sf1
    exponents at 1.158/1.136/1.006; SCALING §31 attributes the excess
    to hash-aggregate group pressure on the pair relation. This mode
    adds the sf0.3 scale point and decomposes the shared core
    (jaccard_pairs over the documents shingles) into:

    - mass: Σ C(df,2), the exact join-output row count feeding the
      aggregate (from the census — plain code, no execution);
    - groups: distinct (doc_a, doc_b) group count out of the
      aggregate (the hash-agg state size);
    - t_join_count: the shared-shingle self-join under a single
      global count — pair PRODUCTION cost with no per-group state;
    - t_pairagg: the same join under the (doc_a, doc_b) count
      aggregate — production + group pressure; the difference
      isolates what the hash-agg state costs;
    - t_full: the registered trio verbatim.

    If t_join_count's exponent matches mass's, production is linear
    and any excess lives in (t_pairagg − t_join_count) — the group
    state. Exponent pairs over the two intervals (0.1→0.3, 0.3→1)
    further separate a smooth power law from a memory threshold.

    ``--jdecomp --sf3`` extends the ladder one more decade past sf0.3:
    a 30×-sf0.1 replica set (~350 MB parquet) adds the sf1→sf3
    exponent interval, testing whether the per-row agg constant's
    growth flattens — the last inferential step in the 100 TB
    extrapolation of SCALING.md §33."""
    import math

    from pyspark.sql import functions as F

    from ingestor_etl_spark.queries.dedup_ops import (
        _jaccard_census,
        _jaccard_sets,
        _shingled,
    )

    registry = load_all()
    spark = _session("ingestor-etl-spark-jdecomp")

    if not os.path.exists(os.path.join(SF1_DIR, "documents.parquet")):
        _gen_scaled(spark, SF1_DIR, _SF1_REPS)
    if not os.path.exists(os.path.join(SF03_DIR, "documents.parquet")):
        _gen_scaled(spark, SF03_DIR, 3)
    if include_sf3 and not os.path.exists(
        os.path.join(SF3_DIR, "documents.parquet")
    ):
        _gen_scaled(spark, SF3_DIR, 30)

    trio = ("ngram_jaccard_pairs", "cross_source_dup_overlap", "dedup_threshold_sweep")
    scales = {"sf0.1": "/root/testdata/sf0.1", "sf0.3": SF03_DIR, "sf1": SF1_DIR}
    if include_sf3:
        scales["sf3"] = SF3_DIR
    out: dict[str, dict] = {}
    for label, sf_dir in scales.items():
        row: dict[str, object] = {}
        sets = _jaccard_sets(spark, _shingled(spark, sf_dir))
        max_df, mass, _ = _jaccard_census(sets)
        row["max_df"], row["mass_join_rows"] = max_df, mass
        el = sets.select("doc_id", "sz", F.explode("shingles").alias("s"))
        a, b = el.alias("a"), el.alias("b")
        joined = a.join(
            b,
            (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        join_count = joined.agg(F.count(F.lit(1)).alias("n"))
        pairagg = joined.groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        ).agg(F.count(F.lit(1)).alias("n_shared"))
        row["t_join_count"], _ = _time_query_cold(lambda: join_count, 2)
        # Not _time_query_cold: the groups count doubles as the
        # warm-up run, so the heaviest relation in the mode executes
        # 3× (count + 2 timed) instead of 4×; the timed best-of-2 noop
        # writes match _time_query_cold's steady runs.
        row["groups"] = pairagg.count()
        best = float("inf")
        for _ in range(2):
            start = time.perf_counter()
            pairagg.write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - start)
        row["t_pairagg"] = round(best, 3)
        release_caches()
        for name in trio:
            row[f"t_{name}"], _ = _time_query_cold(
                lambda: registry[name].fn(spark, sf_dir), 2
            )
            release_caches()
        out[label] = row

    def expo(metric: str, lo: str, hi: str, decades: float) -> float:
        return round(
            math.log10(out[hi][metric] / max(out[lo][metric], 1e-9)) / decades, 3
        )

    metrics = [
        "mass_join_rows", "groups", "t_join_count", "t_pairagg",
        *[f"t_{n}" for n in trio],
    ]
    exponents = {
        m: {
            "sf0.1->sf0.3": expo(m, "sf0.1", "sf0.3", math.log10(3)),
            "sf0.3->sf1": expo(m, "sf0.3", "sf1", math.log10(10 / 3)),
            "sf0.1->sf1": expo(m, "sf0.1", "sf1", 1.0),
            **(
                {"sf1->sf3": expo(m, "sf1", "sf3", math.log10(3))}
                if include_sf3
                else {}
            ),
        }
        for m in metrics
    }
    print(
        json.dumps(
            {
                "metric": "jaccard_decomposition",
                "unit": "sec",
                "value": round(sum(out["sf1"][f"t_{n}"] for n in trio), 3),
                "scales": out,
                "exponents": exponents,
            }
        )
    )


# ----------------------------------------------------------- skew stress
def _skew_main() -> None:
    """`bench.py --skew`: stress the blowup guards on generated
    hot-key data at meaningful volume (not the toy unit fixtures) —
    one hot key carrying ~30-50% of the mass, exactly the shape that
    kills unguarded plans at 100 TB. Times the guard surfaces
    (pagerank candidate cut, the stop-shingle truth leg, LSH
    hot-bucket pair emission, salted agg + salted skew join,
    entity_resolution's hot-block fallback on a 90%-corporate-suffix
    catalog, identical-signature and identical-vector clusters, the
    hot-shingle jaccard route, hot IVF lists). Prints ONE JSON line;
    the committed copy lives in SKEWBENCH.json with the analysis in
    SCALING.md."""
    from pyspark.sql import functions as F

    from ingestor_etl_spark.plans.layout import explode_hot_keys, salted_agg
    from ingestor_etl_spark.queries.dedup_ops import (
        _band_pairs_from_sigs,
        stop_shingle_cut,
    )
    from ingestor_etl_spark.queries.rank_ops import candidate_pairs
    from ingestor_etl_spark.queries.similarity_ops import er_scored_pairs
    from ingestor_etl_spark.queries.vector_ops import (
        _knn_graph_from,
        _near_dup_from,
    )

    spark = _session("ingestor-etl-spark-skewbench")

    results: dict[str, dict] = {}

    def run(name: str, df, meta: dict) -> None:
        t, _ = _time_query_cold(lambda: df, 2)
        results[name] = {"sec": t, **meta}
        release_caches()

    # 1. pagerank candidate cut: 1M (doc, seg) rows, ONE segment on
    # 30% of them; uncut this is C(300k, 2) ≈ 4.5e10 pairs.
    n, hot_frac = 1_000_000, 0.3
    segs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 10 < 3, F.lit("HOTSEG"))
        .otherwise(F.concat(F.lit("seg"), (F.col("id") % 100_000).cast("string")))
        .alias("seg"),
    )
    run(
        "pagerank_candidates_hot",
        candidate_pairs(segs),
        {"rows": n, "hot_mass": hot_frac, "uncut_pairs": "C(300k,2)≈4.5e10"},
    )

    # 2. stop-shingle cut + exact-truth self-join: 1M exploded
    # (doc, shingle) rows, one shingle on 30%.
    exploded = spark.range(n).select(
        (F.col("id") % 200_000).alias("doc_id"),
        F.when(F.col("id") % 10 < 3, F.lit("the quick brown"))
        .otherwise(
            F.concat(F.lit("sh"), (F.col("id") % 150_000).cast("string"))
        )
        .alias("shingle"),
    ).dropDuplicates()
    live = stop_shingle_cut(exploded)
    la, lb = live.alias("la"), live.alias("lb")
    truth_shared = (
        la.join(
            lb,
            (F.col("la.shingle") == F.col("lb.shingle"))
            & (F.col("la.doc_id") < F.col("lb.doc_id")),
        )
        .groupBy(F.col("la.doc_id"), F.col("lb.doc_id"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    run(
        "stop_shingle_truth_hot",
        truth_shared,
        {"rows": n, "hot_mass": hot_frac, "uncut_pairs": "≈4.5e10"},
    )

    # 3. LSH hot bucket: 50k signatures, 2k docs share ONE signature
    # (true mass duplication — the pairs MUST be emitted for dedup);
    # measures bounded pair-emission throughput, ~2M pairs.
    sigs = spark.range(50_000).select(
        F.col("id").alias("doc_id"),
        *[
            F.when(F.col("id") % 25 == 0, F.lit(7))
            .otherwise(F.col("id") * 31 + i)
            .alias(s)
            for i, s in enumerate(
                ("mh0", "mh1", "mh2", "mh3", "mh4", "mh5")
            )
        ],
    )
    run(
        "lsh_bucket_hot",
        _band_pairs_from_sigs(sigs),
        {"docs": 50_000, "hot_bucket_docs": 2_000, "emitted_pairs": "≈2M×3bands"},
    )

    # 4. salted aggregation: 5M rows over 3 keys — every key hot.
    ev = spark.range(5_000_000).select(
        (F.col("id") % 3).cast("string").alias("k"),
        (F.col("id") % 1000).cast("decimal(12,2)").alias("v"),
    )
    run(
        "salted_agg_hot",
        salted_agg(ev, ["k"], {"n": ("v", "count"), "s": ("v", "sum")}),
        {"rows": 5_000_000, "keys": 3},
    )

    # 5. salted skew join: 5M fact rows, 50% on one key, 100k-key dim.
    fact = spark.range(5_000_000).select(
        F.when(F.col("id") % 2 == 0, 0).otherwise(F.col("id") % 100_000).alias("hk"),
        F.col("id").cast("decimal(12,2)").alias("v"),
    )
    dim = spark.range(100_000).select(
        F.col("id").alias("hk"), (F.col("id") * 7 % 997).alias("dim_code")
    )
    hot_keys = spark.range(1).select(F.lit(0).alias("hk"))
    big_s, small_s = explode_hot_keys(fact, dim, ["hk"], hot_keys)
    joined = (
        big_s.join(small_s, ["hk", "__salt"])
        .groupBy("hk")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
    )
    run(
        "salted_skew_join_hot",
        joined,
        {"fact_rows": 5_000_000, "hot_mass": 0.5, "dim_keys": 100_000},
    )

    # 6. entity resolution on a 90%-corporate-suffix catalog: 200k
    # clean names, 180k ending " inc" (one 3-char block). The middle
    # token starts with a discriminative 3-hex-char bucket, so the
    # hot-block fallback key splits the suffix mass into ~4096
    # sub-blocks of ~44 names (bounded comparisons); the dirty
    # perturbation drops the FIRST char (last + middle tokens intact,
    # so both block keys survive and the comparisons are real).
    n_names = 200_000
    base = spark.range(n_names).select(
        F.col("id").alias("p_partkey"),
        F.concat(
            F.lit("name"),
            F.col("id").cast("string"),
            F.lit(" "),
            F.lpad(F.hex(F.col("id") % 4096), 3, "0"),
            F.lit("mid"),
            F.when(F.col("id") % 10 < 9, F.lit(" inc")).otherwise(
                F.concat(F.lit(" co"), (F.col("id") % 97).cast("string"))
            ),
        ).alias("p_name"),
    )
    dirty = base.select(
        F.col("p_partkey").alias("dirty_id"),
        F.expr("substr(p_name, 2)").alias("dirty_name"),
    )
    run(
        "entity_resolution_hot_suffix",
        er_scored_pairs(dirty, base),
        {"names": n_names, "suffix_mass": 0.9},
    )

    # 7. identical-signature mega-cluster:
    # 100k docs share ONE full minhash signature (an exact-duplicate
    # boilerplate cluster in raw crawl data) next to 100k distinct
    # docs. Uncollapsed, the band bucket self-join emits 3 bands ×
    # C(100k,2) ≈ 1.5e10 rows plus a distinct-shuffle over them; the
    # signature collapse (_sig_clusters_from_docs) reduces the cluster
    # to ONE row per band bucket. expand=False reports intra mass as star
    # edges — output linear, connected components unchanged.
    from ingestor_etl_spark.queries.dedup_ops import SALTS

    sigs2 = spark.range(200_000).select(
        F.col("id").alias("doc_id"),
        *[
            F.when(F.col("id") % 2 == 0, F.lit(7))
            .otherwise(F.col("id") * 31 + i)
            .alias(s)
            for i, s in enumerate(SALTS)
        ],
    )
    run(
        "lsh_identical_sig_cluster",
        _band_pairs_from_sigs(sigs2, expand=False),
        {
            "docs": 200_000,
            "dup_cluster_docs": 100_000,
            "uncollapsed_join_rows": "3×C(100k,2)≈1.5e10",
        },
    )

    # 8. identical-embedding mega-cluster (the vector side of 7):
    # 100k bit-identical vectors + 2k distinct ones. Uncollapsed,
    # every one of the N_TABLES=10 bucket joins emits C(100k,2) rows;
    # collapsed (_vec_clusters) the cluster is one row per table.
    vecs = spark.range(102_000).selectExpr(
        "id AS vec_id",
        "CASE WHEN id % 51 != 0 "
        " THEN transform(sequence(0, 63), k -> 0.5D) "
        " ELSE transform(sequence(0, 63), k -> "
        "   cast((id * 2654435761 + k * 97) % 2001 - 1000 AS double) / 1000.0D) "
        "END AS v",
    )
    run(
        "vector_identical_cluster_neardup",
        _near_dup_from(vecs, expand=False),
        {
            "vecs": 102_000,
            "dup_cluster_vecs": 100_000,
            "uncollapsed_join_rows": "10×C(100k,2)≈5e13",
        },
    )
    # knn_graph measured through its REGISTERED exact semantics
    # (auto_scale census, as the registered query runs): the
    # top-(K+1) member prune keeps expansion linear (m×K
    # edges for the dup cluster), so the full kNN output itself is
    # bounded. ~2k distinct vectors → the census keeps KNN_PLANES.
    run(
        "vector_identical_cluster_knn",
        _knn_graph_from(vecs, auto_scale=True),
        {"vecs": 102_000, "dup_cluster_vecs": 100_000, "output": "≈102k×K edges"},
    )

    # 9. hot-shingle exact-Jaccard pairs:
    # 200k docs × 10 shingles, ONE boilerplate shingle on 30% of the
    # corpus — the uncut shared-shingle self-join would emit
    # C(60k,2) ≈ 1.8e9 rows from that shingle alone, so the df
    # census (Σ C(df,2) > JACCARD_UNCUT_MASS_MAX) routes the plan to
    # the lossless PPJoin prefix+size filter, whose rare-first
    # prefixes exclude the hot shingle entirely; candidates come
    # only from the ~500k-token rare tail (df ≈ 4).
    from ingestor_etl_spark.queries.dedup_ops import jaccard_pairs

    hot_docs = spark.range(200_000).selectExpr(
        "id AS doc_id",
        "array_distinct(concat("
        " transform(sequence(0, 8), i -> concat('sh', pmod(hash(id, i), 500000))),"
        " CASE WHEN id % 10 < 3 THEN array('the quick brown')"
        "      ELSE array(concat('sh', pmod(hash(id, 99), 500000))) END"
        ")) AS shingles",
    )
    run(
        "jaccard_pairs_hot_shingle",
        jaccard_pairs(spark, hot_docs),
        {
            "docs": 200_000,
            "hot_shingle_docs": 60_000,
            "uncut_join_rows": "C(60k,2)≈1.8e9 from one shingle",
            "routed_plan": "ppjoin_prefix (census)",
        },
    )

    # 10. hot inverted list for the IVF+PQ stacks: 100k
    # vectors, 90% jittered around ONE direction — the shape a
    # deduplicated-but-not-exact crawl corpus produces, where a
    # single coarse cell can end up holding most of the corpus and
    # every query probing it generates O(list) ADC candidates.
    # Measured through the REGISTERED queries end-to-end (training
    # included) on a temp parquet corpus with the standard layout.
    # Coarse training does NOT rescue this shape (measured trained
    # list sizes: 90000 / 9999 / 1 — the cluster is tighter than the
    # centroid resolution); the census-gated hot-cell SUB-SPLIT does
    # (_ivf_candidate_cells: load factor 7.2 > 4.0 engages per-cell
    # local centroids, queries probe IVF_SUB_NPROBE/IVF_SUB_K of the
    # hot cell), so these rows pin the mitigation: ann_ivf_pq 10.2 s
    # (uncapped, nprobe=2) → 3.0 s (capped, nprobe=4), within ~20% of
    # the uniform-corpus cost, with similarity quality preserved
    # (tests/test_wave27).
    import shutil as _sh
    import tempfile as _tf

    ivf_dir = _tf.mkdtemp(prefix="skew_ivf_")
    try:
        spark.range(100_000).selectExpr(
            "id AS vec_id",
            "transform(sequence(0, 63), d -> CASE WHEN id % 10 < 9"
            " THEN 1.0D + cast(pmod(hash(id, d), 1000) AS double) / 1000000.0D"
            " ELSE cast(pmod(hash(id, d), 2000) - 1000 AS double) / 1000.0D"
            " END) AS embedding",
        ).write.mode("overwrite").parquet(f"{ivf_dir}/embeddings.parquet")
        # ann_ivf_hamming shares the coarse machinery (census-gated
        # sub-split) but scores via the Hamming sketch, so its
        # hot-cell behavior needs its own pin.
        for q in ("ann_ivf_pq", "ann_ivf_pq_residual", "ann_ivf_hamming"):
            run(
                f"{q}_hot_list",
                load_all()[q].fn(spark, ivf_dir),
                {
                    "vecs": 100_000,
                    "hot_cluster_frac": 0.9,
                    "shape": "one dominant direction → hot coarse cell(s)",
                },
            )
    finally:
        _sh.rmtree(ivf_dir, ignore_errors=True)

    print(
        json.dumps(
            {
                "metric": "skew_bench",
                "unit": "sec",
                "value": round(sum(r["sec"] for r in results.values()), 3),
                "workloads": results,
            }
        )
    )


_USAGE = """usage: python bench.py [--sf1 | --skew | --jdecomp [--sf3]]
  (no flag)        headline + extended query sets
  --sf1            sf0.1 -> sf1 scaling exponents
  --skew           hot-key blowup-guard stress
  --jdecomp        jaccard-family scale decomposition (sf0.1/0.3/1)
  --jdecomp --sf3  ... with the sf3 rung added
ingest and streaming benchmarks: perfbench/README.md"""

_MODES = {
    (): main,
    ("--sf1",): _sf1_main,
    ("--skew",): _skew_main,
    ("--jdecomp",): _jdecomp_main,
    ("--jdecomp", "--sf3"): lambda: _jdecomp_main(include_sf3=True),
}


if __name__ == "__main__":
    # An unrecognised flag must not fall through to a multi-minute
    # bench that measures something else: refuse before any session
    # starts.
    mode = _MODES.get(tuple(sys.argv[1:]))
    if mode is None:
        print(_USAGE, file=sys.stderr)
        sys.exit(2)
    mode()
