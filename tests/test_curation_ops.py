"""Round-3 curation operator semantics (queries/curation_ops.py)."""

from __future__ import annotations

from collections import Counter

from ingestor_etl_spark.queries import load_all

REGISTRY = load_all()
SF = "/root/testdata/sf0.001"


def test_html_strip_removes_all_boilerplate(spark):
    """Every synthesized doc carries exactly 3 boilerplate blocks
    (script/nav/footer), and stripping is idempotent on the text."""
    rows = REGISTRY["html_strip"].fn(spark, SF).collect()
    assert len(rows) > 0
    assert all(r.n_boilerplate_blocks == 3 for r in rows)


def test_importance_resample_moves_mixture_toward_uniform(spark):
    """Overrepresented sources must get lower keep rates; every rate
    in (0, 1]."""
    rows = REGISTRY["importance_resample"].fn(spark, SF).collect()
    assert rows, "resample kept nothing"
    rates = {}
    for r in rows:
        rates[r.source] = r.rate
        assert 0 < r.rate <= 1
        assert r.bucket < r.rate * 10000
    from ingestor_etl_spark.catalog import load_table
    from pyspark.sql import functions as F

    toks = {
        r.source: r.n
        for r in load_table(spark, SF, "documents")
        .groupBy("source")
        .agg(F.sum(F.size(F.split(F.trim("text"), r" +"))).alias("n"))
        .collect()
    }
    shared = [s for s in rates if s in toks]
    big = max(shared, key=lambda s: toks[s])
    small = min(shared, key=lambda s: toks[s])
    if toks[big] > toks[small]:
        assert rates[big] <= rates[small]


def test_curriculum_bins_match_threshold_reference(spark):
    """Threshold-bin semantics, exactly: bin = 1 + cum_lt·B/n where
    cum_lt counts the source's strictly-longer docs. Ties share a
    bin; balance holds up to score-tie granularity."""
    rows = REGISTRY["curriculum_bins"].fn(spark, SF).collect()
    per_source = {}
    for r in rows:
        per_source.setdefault(r.source, []).append(r)
    for src, rs in per_source.items():
        n = len(rs)
        longer = Counter()
        for r in rs:
            longer[r.n_tokens] += 1
        for r in rs:
            cum_lt = sum(c for t, c in longer.items() if t > r.n_tokens)
            assert r.bin == 1 + (cum_lt * 10) // n
        # ties land in the same bin
        by_score = {}
        for r in rs:
            by_score.setdefault(r.n_tokens, set()).add(r.bin)
        assert all(len(bins) == 1 for bins in by_score.values())
        # monotone: longer docs never get a later-curriculum bin
        rs_sorted = sorted(rs, key=lambda r: -r.n_tokens)
        bins = [r.bin for r in rs_sorted]
        assert bins == sorted(bins)
    # longest doc in a source sits in bin 1
    best = {}
    for r in rows:
        if r.source not in best or r.n_tokens > best[r.source].n_tokens:
            best[r.source] = r
    assert all(r.bin == 1 for r in best.values())


def test_curriculum_bins_plan_has_no_row_level_source_sort(spark):
    """The giant-domain fix: the only Window in the plan runs over
    the aggregated (source, n_tokens) histogram, and the bin-edge
    table comes back via broadcast — no per-source sort of row-level
    data anywhere."""
    df = REGISTRY["curriculum_bins"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ntile" not in plan.lower()
    assert "BroadcastHashJoin" in plan
    # the window's child must be the aggregate, not the scan: every
    # Window node sits above a HashAggregate in the tree
    import re

    window_at = [m.start() for m in re.finditer(r"\bWindow\b", plan)]
    agg_at = [m.start() for m in re.finditer(r"HashAggregate", plan)]
    assert window_at and agg_at
    assert all(any(a > w for a in agg_at) for w in window_at)


def test_bpe_pairs_match_python_reference(spark):
    from ingestor_etl_spark.catalog import load_table

    docs = [r.text for r in load_table(spark, SF, "documents").collect()]
    ref = Counter()
    for t in docs:
        for w in t.strip().split():
            if len(w) >= 2:
                for i in range(len(w) - 1):
                    ref[w[i : i + 2]] += 1
    expected = sorted(ref.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    got = [
        (r.pair, r.n)
        for r in REGISTRY["bpe_pair_counts"].fn(spark, SF).collect()
    ]
    assert got == expected


def test_orc_roundtrip_preserves_every_row(spark):
    from ingestor_etl_spark.catalog import load_table

    got = REGISTRY["orc_ingest"].fn(spark, SF).count()
    assert got == load_table(spark, SF, "documents").count()


def test_orc_dir_removed_at_exit(tmp_path):
    """The per-process ORC cache root of ``orc_ingest`` goes away when
    its process exits, with whatever the query wrote into it."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = "\n".join([
        "import os, sys",
        f"sys.path.insert(0, {root!r})",
        "from ingestor_etl_spark.queries.curation_ops import _orc_dir",
        f"out = _orc_dir({SF!r})",
        "os.makedirs(out)",
        "open(os.path.join(out, '_SUCCESS'), 'w').close()",
        "print(os.path.dirname(out))",
    ])
    env = {**os.environ, "TMPDIR": str(tmp_path)}
    proc = subprocess.run([sys.executable, "-c", code], env=env, capture_output=True, text=True, timeout=120)
    assert proc.returncode == 0, proc.stderr[-3000:]
    made = proc.stdout.strip().splitlines()[-1]
    assert made.startswith(str(tmp_path)) and "ingestor_etl_spark_orc_" in made
    assert not os.path.exists(made)
    assert os.listdir(tmp_path) == []
