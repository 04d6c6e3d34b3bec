"""Curation operators, round-3 wave 2: HTML boilerplate stripping,
mixture-driven importance resampling, per-domain curriculum binning,
tokenizer-induction pair counts, and ORC format round-trip.

Like corpus_ops.py, inputs the driver tables don't naturally carry
(raw HTML) are SYNTHESIZED deterministically from (doc_id, text)
with identical column algebra on the Spark and DuckDB sides, keeping
every operator oracle-checkable end-to-end.

Scale notes:
- ``html_strip`` is a pure regexp projection — narrow pass, no
  shuffle, whole-stage codegen.
- ``importance_resample`` broadcasts the per-source rate table
  (|sources| rows) and keeps the corpus scan shuffle-free: the
  keep/drop decision is a deterministic md5-bucket filter evaluated
  inline, the same idiom as stratified_sample.
- ``curriculum_bins`` windows per source — partitions are domains,
  so no global sort; a skewed giant domain is still one partition,
  which is the documented limit of rank-based curricula (switch to
  fixed score thresholds when a single domain exceeds a task).
- ``bpe_pair_counts`` double-explodes (words, then adjacent char
  pairs) but aggregates map-side into the bounded pair vocabulary
  before the single shuffle.
- ``orc_ingest`` proves sink/source fidelity for the second
  columnar format (ORC ships in Spark); the write happens once into
  a session-scoped temp dir, and the comparison is a full-column
  md5 so the oracle checks values, not just counts.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile

from pyspark.sql import Window
from pyspark.sql import functions as F

from ingestor_etl_spark.catalog import load_table
from ingestor_etl_spark.queries import register

# ------------------------------------------------------------ html_strip
_HTML_SQL = """
    '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
      || '</title><script>var x = 1;</script></head><body>'
      || '<nav>home | about | login</nav><p>' || text
      || '</p><footer>(c) example.com</footer></body></html>'
"""

_BLOCK_RE = "<(script|nav|footer)[^>]*>.*?</(script|nav|footer)>"
_TAG_RE = "<[^>]+>"


def _html_spark():
    return F.concat(
        F.lit("<html><head><title>Doc "),
        F.col("doc_id").cast("string"),
        F.lit("</title><script>var x = 1;</script></head><body>"),
        F.lit("<nav>home | about | login</nav><p>"),
        F.col("text"),
        F.lit("</p><footer>(c) example.com</footer></body></html>"),
    )


@register(
    "html_strip",
    oracle=f"""
    WITH raw AS (SELECT doc_id, {_HTML_SQL} AS html FROM documents),
    stripped AS (
      SELECT doc_id,
             trim(regexp_replace(regexp_replace(
               html, '{_BLOCK_RE}', ' ', 'g'), '{_TAG_RE}', ' ', 'g')) AS txt,
             len(regexp_extract_all(html, '{_BLOCK_RE}')) AS n_blocks
      FROM raw
    )
    SELECT doc_id,
           md5(regexp_replace(txt, ' +', ' ', 'g')) AS extracted_md5,
           CAST(n_blocks AS BIGINT) AS n_boilerplate_blocks
    FROM stripped ORDER BY doc_id
    """,
    tags=("corpus", "html", "extract"),
)
def html_strip(spark, sf_dir):
    """Main-content extraction from HTML (trafilatura/jusText-shaped,
    regex-scale): drop script/nav/footer boilerplate blocks, strip
    remaining tags, collapse whitespace. Pure regexp projection —
    one narrow scan, no UDF, no shuffle; at 100 TB this runs at
    parquet-decode speed. The HTML is synthesized deterministically
    around each document so the oracle can verify the extraction
    byte-for-byte (as md5)."""
    d = load_table(spark, sf_dir, "documents")
    html = _html_spark()
    txt = F.trim(
        F.regexp_replace(
            F.regexp_replace(html, _BLOCK_RE, " "), _TAG_RE, " "
        )
    )
    return d.select(
        "doc_id",
        F.md5(F.regexp_replace(txt, " +", " ")).alias("extracted_md5"),
        F.size(F.regexp_extract_all(html, F.lit(_BLOCK_RE), F.lit(0)))
        .cast("long")
        .alias("n_boilerplate_blocks"),
    ).orderBy("doc_id")


# --------------------------------------------------- importance_resample
RESAMPLE_SCALE = 0.6
RESAMPLE_BUCKETS = 10000


@register(
    "importance_resample",
    oracle=f"""
    WITH per_source AS (
      SELECT source, count(*) AS n_docs,
             sum(len(string_split_regex(trim(text), ' +'))) AS n_tokens
      FROM documents GROUP BY source
    ),
    rates AS (
      SELECT source,
             round(least(1.0,
               {RESAMPLE_SCALE} * (SELECT sum(n_tokens) FROM per_source)
                 / ((SELECT count(*) FROM per_source) * n_tokens)), 4) AS rate
      FROM per_source
    ),
    hashed AS (
      SELECT doc_id, source,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
               % {RESAMPLE_BUCKETS} AS bucket
      FROM documents
    )
    SELECT doc_id, h.source, bucket, rate
    FROM hashed h JOIN rates r ON h.source = r.source
    WHERE bucket < rate * {RESAMPLE_BUCKETS}
    ORDER BY doc_id
    """,
    tags=("sampling", "mixture", "deterministic"),
)
def importance_resample(spark, sf_dir):
    """Mixture-targeted importance resampling (DoReMi/uniform-domain
    shape): compute per-source keep rates that move the token
    mixture toward uniform-over-sources (scaled by 0.6 so every
    rate is a real subsample), then keep documents via the
    deterministic md5-bucket filter. Rates are rounded to 4 decimals
    on both engines before the comparison, so the boundary is exact.

    Scale shape: the rate table is |sources| rows → broadcast; the
    corpus pass is a pure filter with the bucket computed inline —
    no shuffle of document rows at all."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r" +")
    per_source = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(toks)).alias("n_tokens"),
    )
    w = Window.partitionBy()
    rates = per_source.select(
        "source",
        F.round(
            F.least(
                F.lit(1.0),
                F.lit(RESAMPLE_SCALE)
                * F.sum("n_tokens").over(w)
                / (F.count(F.lit(1)).over(w) * F.col("n_tokens")),
            ),
            4,
        ).alias("rate"),
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % RESAMPLE_BUCKETS
    )
    hashed = d.select("doc_id", "source", bucket.alias("bucket"))
    return (
        hashed.join(F.broadcast(rates), "source")
        .where(F.col("bucket") < F.col("rate") * RESAMPLE_BUCKETS)
        .select("doc_id", "source", "bucket", "rate")
        .orderBy("doc_id")
    )


# ------------------------------------------------------- curriculum_bins
N_CURRICULUM_BINS = 10


@register(
    "curriculum_bins",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, source,
             len(string_split_regex(trim(text), ' +')) AS n_tokens
      FROM documents
    ),
    hist AS (
      SELECT source, n_tokens, count(*) AS c
      FROM scored GROUP BY source, n_tokens
    ),
    edges AS (
      SELECT source, n_tokens,
             sum(c) OVER (PARTITION BY source ORDER BY n_tokens DESC) - c
               AS cum_lt,
             sum(c) OVER (PARTITION BY source) AS n_src
      FROM hist
    )
    SELECT s.doc_id, s.source, CAST(s.n_tokens AS BIGINT) AS n_tokens,
           CAST(1 + (e.cum_lt * {N_CURRICULUM_BINS}) // e.n_src AS BIGINT)
             AS bin
    FROM scored s
    JOIN edges e ON s.source = e.source AND s.n_tokens = e.n_tokens
    ORDER BY s.doc_id
    """,
    tags=("curriculum", "histogram"),
)
def curriculum_bins(spark, sf_dir):
    """Per-domain curriculum binning: place each document in one of
    10 difficulty bins within its source, ordered by length (proxy
    difficulty score), bin 1 = hardest/longest — the ordering a
    curriculum sampler consumes.

    Score-threshold plan (the giant-domain fix the round-3 docstring
    promised): instead of an ntile window that sorts every row of a
    source on one task, (1) aggregate a per (source, n_tokens)
    histogram (map-side combined; rows bounded by the score domain),
    (2) take the cumulative count over that aggregated relation —
    this IS the bin-edge table: bin(score) = 1 + cum_lt·B/n — and
    (3) broadcast-join the edges back onto the row stream. Tied
    scores land in the same bin (fixed thresholds), so bins are
    balanced up to score-tie granularity rather than exactly ±1 —
    the standard trade for removing the per-domain sort."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r" +")
    scored = d.select(
        "doc_id", "source", F.size(toks).cast("long").alias("n_tokens")
    )
    hist = scored.groupBy("source", "n_tokens").agg(
        F.count(F.lit(1)).alias("c")
    )
    w_cum = Window.partitionBy("source").orderBy(F.desc("n_tokens"))
    w_all = Window.partitionBy("source")
    edges = hist.select(
        "source",
        "n_tokens",
        (F.sum("c").over(w_cum) - F.col("c")).alias("cum_lt"),
        F.sum("c").over(w_all).alias("n_src"),
    )
    return (
        scored.join(F.broadcast(edges), ["source", "n_tokens"])
        .select(
            "doc_id",
            "source",
            "n_tokens",
            F.expr(
                f"CAST(1 + (cum_lt * {N_CURRICULUM_BINS}) div n_src AS BIGINT)"
            ).alias("bin"),
        )
        .orderBy("doc_id")
    )


# ------------------------------------------------------- bpe_pair_counts
BPE_TOPK = 20


@register(
    "bpe_pair_counts",
    oracle=f"""
    WITH words AS (
      SELECT unnest(string_split_regex(trim(text), ' +')) AS w FROM documents
    ),
    pairs AS (
      SELECT substr(w, i, 2) AS pair
      FROM words, LATERAL (SELECT unnest(range(1, len(w))) AS i) p
      WHERE len(w) >= 2
    )
    SELECT pair, CAST(count(*) AS BIGINT) AS n
    FROM pairs GROUP BY pair
    ORDER BY n DESC, pair LIMIT {BPE_TOPK}
    """,
    tags=("tokenizer", "bpe", "corpus"),
)
def bpe_pair_counts(spark, sf_dir):
    """Tokenizer vocabulary induction, step 1 of BPE: count adjacent
    symbol pairs inside words across the corpus and rank the top
    merge candidates (count desc, pair asc tiebreak). The double
    explode (words, then character pairs) aggregates map-side into
    the bounded pair alphabet before its single shuffle; the global
    top-k sorts only the aggregated pair relation."""
    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        F.explode(F.split(F.trim(F.col("text")), r" +")).alias("w")
    ).where(F.length("w") >= 2)
    # substring with a dynamic start needs expr(); transform over the
    # index sequence keeps it one per-row expression, no UDF
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(BPE_TOPK)
    )


# ----------------------------------------------------------- orc_ingest
_ORC_SESSION_ROOT: str | None = None


def _orc_dir(sf_dir: str) -> str:
    """Per-process cache dir for the ORC copy, keyed by a content
    fingerprint (path + mtime_ns + size) of the source parquet.

    A bare basename key ('..._sf0.01') went stale when testdata was
    regenerated under the same directory name, and a shared temp
    path could race between an overwriting writer and a concurrent
    reader; rooting the cache in a mkdtemp() owned by THIS process
    removes the cross-process race, and the fingerprint invalidates
    within-process reuse if the source changes mid-session. The root
    is removed when the interpreter exits."""
    global _ORC_SESSION_ROOT
    if _ORC_SESSION_ROOT is None:
        _ORC_SESSION_ROOT = tempfile.mkdtemp(prefix="ingestor_etl_spark_orc_")
        atexit.register(shutil.rmtree, _ORC_SESSION_ROOT, ignore_errors=True)
    from ingestor_etl_spark.catalog import table_path

    src = table_path(sf_dir, "documents")
    try:
        st = os.stat(src)
        fp = hashlib.md5(
            f"{os.path.abspath(src)}|{st.st_mtime_ns}|{st.st_size}".encode()
        ).hexdigest()[:16]
    except OSError:
        fp = "nosrc"
    return os.path.join(_ORC_SESSION_ROOT, fp)


@register(
    "orc_ingest",
    oracle="""
    SELECT doc_id, n_chars, md5(text) AS text_md5, lang, source
    FROM documents ORDER BY doc_id
    """,
    tags=("source", "orc", "roundtrip"),
)
def orc_ingest(spark, sf_dir):
    """S-class format breadth: ORC sink + source round-trip. The
    documents table is written once to ORC (session-scoped temp dir,
    snappy, multi-file) and read back; the query returns full-column
    fingerprints from the ORC copy while the oracle reads the
    original parquet — any fidelity loss in either direction
    (encoding, nulls, unicode) breaks the hash match. ORC ships in
    Spark's JVM (no extra deps); at scale this is the same writer
    used for warehouse hand-off to Hive/Trino readers."""
    d = load_table(spark, sf_dir, "documents")
    out = _orc_dir(sf_dir)
    marker = os.path.join(out, "_SUCCESS")
    if not os.path.exists(marker):
        d.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    return back.select(
        "doc_id",
        "n_chars",
        F.md5("text").alias("text_md5"),
        "lang",
        "source",
    ).orderBy("doc_id")


# ----------------------------------------------------- quality_classifier
@register(
    "quality_classifier",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), ' +')) AS w
      FROM documents
    ),
    feats AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(w), 1, 8) AS BIGINT) % 1001 - 500 AS wgt
      FROM toks
    ),
    scored AS (
      SELECT doc_id, CAST(sum(wgt) AS BIGINT) AS margin_sum,
             count(*) AS n FROM feats GROUP BY doc_id
    )
    SELECT doc_id, margin_sum / (1000.0 * n) AS score,
           (margin_sum > 0) AS keep
    FROM scored ORDER BY doc_id
    """,
    tags=("quality", "classifier", "hashed-features"),
)
def quality_classifier(spark, sf_dir):
    """fastText-style linear quality classifier: hashed
    bag-of-words features (the hashing trick — md5-derived weight
    per token in [-0.5, 0.5], a stand-in for trained weights),
    mean-pooled into a per-document margin; keep = margin > 0.
    This is the plumbing of every 'educational value' /
    'quality' filter run over a pretraining corpus — at 100 TB the
    real model's weight table is a broadcast lookup; here the weight
    IS a hash expression so the pass stays scan-shaped: explode →
    one doc-keyed aggregation (map-side combined), no joins.
    Parity: weights are INTEGER millis summed exactly (BIGINT) with
    ONE double division at the end — aggregation order can never
    change the score, and the single int/int division is
    bit-identical across engines (no rounding step, which would
    re-introduce half-way divergence)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), r" +")).alias("w")
    )
    wgt = (
        F.conv(F.substring(F.md5("w"), 1, 8), 16, 10).cast("long") % 1001 - 500
    )
    scored = toks.select("doc_id", wgt.alias("wgt")).groupBy("doc_id").agg(
        F.sum("wgt").alias("margin_sum"), F.count(F.lit(1)).alias("n")
    )
    return (
        scored.select(
            "doc_id",
            (F.col("margin_sum") / (1000.0 * F.col("n"))).alias("score"),
            (F.col("margin_sum") > 0).alias("keep"),
        )
        .orderBy("doc_id")
    )


# ------------------------------------------- partitioned_write_roundtrip
def _part_dir(sf_dir: str) -> str:
    """Session-scoped cache dir for the lang-partitioned copy —
    same fingerprint/ownership rules as _orc_dir."""
    return _orc_dir(sf_dir) + "_bylang"


@register(
    "partitioned_write_roundtrip",
    oracle="""
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS n_chars,
           md5(string_agg(md5(text), '' ORDER BY doc_id)) AS content_md5
    FROM documents GROUP BY lang ORDER BY lang
    """,
    tags=("sink", "partitioning", "roundtrip"),
)
def partitioned_write_roundtrip(spark, sf_dir):
    """Hive-style partitioned sink + source round-trip: documents
    written once `partitionBy(lang)` (the layout that turns a
    selective lang filter into directory pruning — the parquet
    answer to the reference's b-tree selector indexes,
    models.py index=True), then read back and summarized per
    partition with a content fingerprint. Any loss in the
    partition-column round-trip (encoding, NULL dirs, type
    widening) or in row fidelity breaks the md5 chain vs the oracle
    reading the ORIGINAL table. The per-partition md5 orders by
    doc_id inside each group (sort_array of collected pairs), so
    partition-internal file order cannot affect the hash."""
    d = load_table(spark, sf_dir, "documents")
    out = _part_dir(sf_dir)
    marker = os.path.join(out, "_SUCCESS")
    if not os.path.exists(marker):
        d.write.mode("overwrite").partitionBy("lang").parquet(out)
    back = spark.read.parquet(out)
    pair = F.struct(F.col("doc_id"), F.md5("text").alias("h"))
    return (
        back.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("n_chars"),
            F.md5(
                F.concat_ws(
                    "",
                    F.transform(
                        F.sort_array(F.collect_list(pair)), lambda s: s["h"]
                    ),
                )
            ).alias("content_md5"),
        )
        .orderBy("lang")
    )


# ------------------------------------------- mixture_token_allocation
# Training-mix budget allocation (round 6): given a global token
# budget, split it across sources by measured quality, capped by what
# each source actually has. One quality-gate pass + integer
# waterfilling over the per-source relation (dozens of rows).
MIX_BUDGET_TOKENS = 100_000


@register(
    "mixture_token_allocation",
    oracle=f"""
    WITH scored AS (
      SELECT source,
             len(string_split_regex(trim(text), ' +')) AS n_toks,
             CASE WHEN len(string_split_regex(trim(text), ' +')) >= 10
                   AND length(text) <= 12 * len(string_split_regex(trim(text), ' +'))
                  THEN 1 ELSE 0 END AS pass
      FROM documents
    ),
    per_src AS (
      SELECT source,
             CAST(sum(n_toks) AS BIGINT) AS avail_tokens,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(pass) AS BIGINT) AS n_pass
      FROM scored GROUP BY source
    ),
    tgt AS (
      SELECT *,
             {MIX_BUDGET_TOKENS} * n_pass // (SELECT sum(n_pass) FROM per_src)
               AS target_tokens
      FROM per_src
    ),
    capped AS (
      SELECT *, least(target_tokens, avail_tokens) AS alloc_tokens,
             CASE WHEN target_tokens < avail_tokens THEN n_pass ELSE 0 END
               AS uncapped_pass
      FROM tgt
    )
    SELECT source, avail_tokens, n_docs, n_pass,
           CAST(target_tokens AS BIGINT) AS target_tokens,
           CAST(alloc_tokens AS BIGINT) AS alloc_tokens,
           CAST(least(alloc_tokens
                 + CASE WHEN uncapped_pass > 0 THEN
                     ({MIX_BUDGET_TOKENS} - (SELECT sum(alloc_tokens) FROM capped))
                       * uncapped_pass // (SELECT sum(uncapped_pass) FROM capped)
                   ELSE 0 END,
                 avail_tokens) AS BIGINT) AS final_tokens
    FROM capped ORDER BY source
    """,
    tags=("curation", "mixture", "budget"),
)
def mixture_token_allocation(spark, sf_dir):
    """Quality-weighted token-budget allocation across sources — the
    planning step before a training-mix materialization: each source
    gets budget share proportional to its count of quality-passing
    docs (pass = ≥10 tokens AND mean token length ≤ 12 chars — the
    cheap gate; swap in quality_classifier scores at will), capped at
    the tokens the source actually has, with one waterfill round
    redistributing the capped surplus to uncapped sources.

    All allocation arithmetic is INTEGER (floor division on bigint
    counts), so Spark and DuckDB agree bit-for-bit — no float shares
    to round. Plan: one map-side-combined aggregation shrinks the
    corpus to |sources| rows; every later step (budget shares,
    caps, redistribution) is window/scalar algebra over that tiny
    relation. The corpus is scanned exactly once at any scale."""
    d = load_table(spark, sf_dir, "documents")
    n_toks = F.size(F.split(F.trim(F.col("text")), r" +"))
    passed = (
        F.when((n_toks >= 10) & (F.length("text") <= 12 * n_toks), 1).otherwise(0)
    )
    per_src = d.select(
        "source", n_toks.alias("n_toks"), passed.alias("pass")
    ).groupBy("source").agg(
        F.sum("n_toks").cast("bigint").alias("avail_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("pass").cast("bigint").alias("n_pass"),
    )
    tgt = per_src.withColumn(
        "target_tokens",
        F.expr(f"{MIX_BUDGET_TOKENS} * n_pass div sum(n_pass) OVER ()"),
    )
    capped = tgt.withColumn(
        "alloc_tokens", F.least("target_tokens", "avail_tokens")
    ).withColumn(
        "uncapped_pass",
        F.when(F.col("target_tokens") < F.col("avail_tokens"), F.col("n_pass")).otherwise(
            F.lit(0).cast("bigint")
        ),
    )
    redistributed = F.when(
        F.col("uncapped_pass") > 0,
        F.expr(
            f"({MIX_BUDGET_TOKENS} - sum(alloc_tokens) OVER ()) * uncapped_pass "
            "div sum(uncapped_pass) OVER ()"
        ),
    ).otherwise(F.lit(0).cast("bigint"))
    return (
        capped.select(
            "source",
            "avail_tokens",
            "n_docs",
            "n_pass",
            F.col("target_tokens").cast("bigint").alias("target_tokens"),
            F.col("alloc_tokens").cast("bigint").alias("alloc_tokens"),
            F.least(
                (F.col("alloc_tokens") + redistributed), F.col("avail_tokens")
            ).cast("bigint").alias("final_tokens"),
        )
        .orderBy("source")
    )
