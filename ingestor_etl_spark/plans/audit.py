"""Whole-registry physical-plan audit.

``audit_all`` builds (not runs) every registered query at a given
scale directory and extracts the plan facts that matter at 100 TB:
exchange count, join strategies, nested-loop/cartesian occurrences,
Python-eval operators in the plan, and scan column pruning. The
results back two artifacts:

- ``PLANS.md`` (written by ``python -m ingestor_etl_spark.plans.audit``):
  the per-query plan inventory committed to the repo so plan
  regressions show up in review diffs;
- ``tests/test_plan_audit.py``: hard global invariants — no
  cartesian products, nested-loop joins only where a side is a
  literal handful of rows (scalar-subquery cross joins), Python
  evaluation only in the decode/multimodal pipelines that are
  documented Arrow-batch surfaces.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ingestor_etl_spark.plans.layout import plan_facts


def _explain(df) -> str:
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(mode)


def audit_query(df) -> dict[str, object]:
    txt = _explain(df)
    facts = plan_facts(df)
    return {
        **facts,
        "nested_loop_joins": txt.count("BroadcastNestedLoopJoin"),
        "cartesian_products": txt.count("CartesianProduct"),
        "python_evals": txt.count("ArrowEvalPython")
        + txt.count("BatchEvalPython")
        + txt.count("FlatMapGroupsInPandas")
        + txt.count("MapInPandas")
        + txt.count("FlatMapGroupsInArrow")
        + txt.count("MapInArrow"),
        "sort_merge_joins": facts.get("sort_merge_joins", 0),
        # formatted explain nests the FULL lineage under every cached
        # subtree reuse, so exchange/pyeval counts overstate what
        # actually executes when this is > 0 (the cached stage runs
        # once; each InMemoryTableScan reads the materialized rows)
        "cached_scans": txt.count("InMemoryTableScan"),
    }


_PYEVAL_EXECS = {
    "ArrowEvalPythonExec",
    "BatchEvalPythonExec",
    "FlatMapGroupsInPandasExec",
    "FlatMapGroupsInPandasWithStateExec",
    "MapInPandasExec",
    "FlatMapGroupsInArrowExec",
    "MapInArrowExec",
}


def _walk_executed(jplan, counts: dict, seen_caches: set, seen_stages: set) -> None:
    """Count physical operators in the EXECUTED tree via py4j,
    descending into AQE stages and into each cached relation's plan
    exactly ONCE (an InMemoryTableScan node has no children in the
    executed tree — the cached plan is a field — so unlike the
    formatted explain string, this traversal cannot double count a
    reused cache's lineage). AQE reuses an exchange by placing the
    SAME QueryStageExec (same stage id) at several tree positions;
    repeats count as `ReusedStage`, not as executed work."""
    name = jplan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        _walk_executed(jplan.executedPlan(), counts, seen_caches, seen_stages)
        return
    if name.endswith("QueryStageExec"):
        sid = jplan.id()
        if sid in seen_stages:
            counts["ReusedStage"] = counts.get("ReusedStage", 0) + 1
            return
        seen_stages.add(sid)
        _walk_executed(jplan.plan(), counts, seen_caches, seen_stages)
        return
    counts[name] = counts.get(name, 0) + 1
    if name == "InMemoryTableScanExec":
        rel = jplan.relation()
        key = rel.hashCode()
        if key not in seen_caches:
            seen_caches.add(key)
            _walk_executed(rel.cachedPlan(), counts, seen_caches, seen_stages)
        return
    if name == "ReusedExchangeExec":
        return  # its child executes once under the original exchange
    ch = jplan.children()
    for i in range(ch.size()):
        _walk_executed(ch.apply(i), counts, seen_caches, seen_stages)


def executed_facts(df) -> dict[str, object]:
    """Post-AQE reality check: run the query (noop sink), then count
    operators in the FINAL executed plan. `exec_exchanges` is the
    number of shuffle exchanges that actually ran (cached subtrees
    counted once, ReusedExchange not counted); `exec_reused` is how
    many exchange reuses AQE/caching saved."""
    df.write.format("noop").mode("overwrite").save()
    counts: dict[str, int] = {}
    try:
        _walk_executed(
            df._jdf.queryExecution().executedPlan(), counts, set(), set()
        )
    except Exception as exc:  # py4j surface drift — keep the audit alive
        return {"exec_error": f"{type(exc).__name__}"}
    return {
        "exec_exchanges": counts.get("ShuffleExchangeExec", 0),
        "exec_broadcasts": counts.get("BroadcastExchangeExec", 0),
        "exec_reused": counts.get("ReusedExchangeExec", 0)
        + counts.get("ReusedStage", 0),
        "exec_pyevals": sum(counts.get(k, 0) for k in _PYEVAL_EXECS),
        "exec_cache_scans": counts.get("InMemoryTableScanExec", 0),
    }


def audit_all(
    spark: SparkSession, sf_dir: str, execute: bool = False
) -> dict[str, dict[str, object]]:
    from ingestor_etl_spark.plans.layout import release_caches
    from ingestor_etl_spark.queries import load_all

    out: dict[str, dict[str, object]] = {}
    for name, q in sorted(load_all().items()):
        df = q.fn(spark, sf_dir)
        out[name] = audit_query(df)
        if execute:
            out[name].update(executed_facts(df))
        release_caches()
    return out


def render_markdown(audit: dict[str, dict[str, object]]) -> str:
    has_exec = any("exec_exchanges" in a for a in audit.values())
    lines = [
        "# PLANS — physical-plan audit (generated)",
        "",
        "Run `python -m ingestor_etl_spark.plans.audit` to regenerate.",
        "Columns: exchanges (shuffles), bhj (broadcast hash joins), smj",
        "(sort-merge joins), bnl (broadcast nested loop — only legitimate",
        "for literal-few-row sides), cart (cartesian products — never",
        "legitimate), pyeval (Arrow/Pandas operators — only legitimate in",
        "the documented decode/multimodal surfaces and the _vec_np",
        "Arrow-batch numeric kernels). A non-zero `cached`",
        "means the plan reuses materialized stages: the PARSED",
        "exchange/pyeval counts then overstate what executes (formatted",
        "explain nests the full lineage under every cache reuse).",
    ]
    if has_exec:
        lines += [
            "",
            "The `x-*` columns are the POST-AQE executed-plan counts",
            "(query run at sf0.001 with a noop sink, operators counted by",
            "walking the final executed tree): x-exch = shuffle exchanges",
            "that actually ran (each cached subtree counted once,",
            "ReusedExchange excluded), x-reuse = exchange reuses saved,",
            "x-py = executed Arrow/Pandas operators. These are the numbers",
            "the parsed columns approximate; for cached-heavy queries the",
            "executed count is the real one.",
        ]
    hdr = "| query | exchanges | bhj | smj | bnl | cart | pyeval | cached |"
    sep = "|---|---|---|---|---|---|---|---|"
    if has_exec:
        hdr += " x-exch | x-reuse | x-py |"
        sep += "---|---|---|"
    lines += ["", hdr, sep]
    for name, a in audit.items():
        row = (
            f"| {name} | {a['n_exchanges']} | {a['broadcast_joins']} "
            f"| {a['sort_merge_joins']} | {a['nested_loop_joins']} "
            f"| {a['cartesian_products']} | {a['python_evals']} "
            f"| {a['cached_scans']} |"
        )
        if has_exec:
            if "exec_exchanges" in a:
                row += (
                    f" {a['exec_exchanges']} | {a['exec_reused']} "
                    f"| {a['exec_pyevals']} |"
                )
            else:
                row += f" {a.get('exec_error', '—')} | — | — |"
        lines.append(row)
    return "\n".join(lines) + "\n"


def main() -> None:
    import os

    from ingestor_etl_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    audit = audit_all(spark, sf_dir, execute=True)
    md = render_markdown(audit)
    repo_root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    with open(os.path.join(repo_root, "PLANS.md"), "w") as fh:
        fh.write(md)
    print(md)


if __name__ == "__main__":
    main()
