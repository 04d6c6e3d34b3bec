"""Corpus-hygiene operators for training-data pipelines: PII
redaction, URL canonicalization + dedup, benchmark-contamination
screening, and global n-gram statistics over ``documents``.

All four are native column algebra — regex, higher-order array
functions, hash aggregation — no Python in any hot path, so each
plan is a narrow scan-side pass followed by (at most) one shuffle:

- ``pii_redact``: per-row regexp projection, embarrassingly
  parallel, zero shuffles.
- ``url_normalize``: per-row string algebra, zero shuffles;
  ``url_dedup`` adds one hash-aggregate on the canonical key
  (uniformly distributed — it's effectively a fingerprint).
- ``contamination_check``: corpus n-grams equi-join the benchmark
  n-gram set. The benchmark side is a FIXED-SIZE artifact (eval
  suites are thousands of documents, not corpus-scale), so it is
  explicitly broadcast — the corpus never shuffles, matching how
  decontamination runs over 100 TB in practice.
- ``corpus_top_ngrams``: explode → partial-agg → one shuffle on the
  n-gram key; the global top-k sort touches only the aggregated
  distinct-ngram relation, not the corpus.

The driver's documents table carries no natural PII/URLs/benchmark
text, so those inputs are SYNTHESIZED deterministically from
(doc_id, source) inside the query — identically on the Spark and
DuckDB sides — which keeps every operator oracle-checkable
end-to-end (the synthesis is plain column algebra too).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ingestor_etl_spark.catalog import load_table
from ingestor_etl_spark.queries import fixture_dir, register

# --------------------------------------------------------------- PII
# RE2/Java-common regex subset: no lookaround, no backreferences.
_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE = r"\+1-[0-9]{3}-[0-9]{3}-[0-9]{4}"
_SSN = r"[0-9]{3}-[0-9]{2}-[0-9]{4}"

_AUG_SQL = """
    text || ' contact user' || CAST(doc_id AS VARCHAR)
         || '@example.com or +1-202-555-'
         || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         || CASE WHEN doc_id % 3 = 0
                 THEN ' ssn 987-65-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                 ELSE '' END
         || CASE WHEN doc_id % 5 = 0
                 THEN ' cc admin@example.org' ELSE '' END
"""


def _aug_spark(d):
    pad = lambda c: F.lpad((c % 10000).cast("string"), 4, "0")
    return F.concat(
        F.col("text"),
        F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-202-555-"), pad(F.col("doc_id")),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit(" ssn 987-65-"), pad(F.col("doc_id"))),
        ).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 5 == 0, F.lit(" cc admin@example.org")).otherwise(
            F.lit("")
        ),
    )


@register(
    "pii_redact",
    oracle=f"""
    WITH aug AS (SELECT doc_id, {_AUG_SQL} AS t FROM documents)
    SELECT doc_id,
           len(regexp_extract_all(t, '{_EMAIL}')) AS n_emails,
           len(regexp_extract_all(t, '{_PHONE}')) AS n_phones,
           len(regexp_extract_all(t, '{_SSN}')) AS n_ssns,
           md5(regexp_replace(regexp_replace(regexp_replace(
                 t, '{_EMAIL}', '<EMAIL>', 'g'),
                    '{_PHONE}', '<PHONE>', 'g'),
                    '{_SSN}', '<SSN>', 'g')) AS redacted_md5
    FROM aug ORDER BY doc_id
    """,
    tags=("corpus", "pii"),
)
def pii_redact(spark, sf_dir):
    """PII scrubbing: count and mask emails / NANP phone numbers /
    SSN-shaped ids with anchored regex classes. Pure regexp
    projection (one scan, no shuffle, no UDF); the redacted text is
    returned as an md5 so the oracle compares full-row behavior
    without shipping long strings."""
    d = load_table(spark, sf_dir, "documents")
    t = _aug_spark(d)
    n = lambda pat: F.size(F.regexp_extract_all(t, F.lit(pat), F.lit(0)))
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, _EMAIL, "<EMAIL>"), _PHONE, "<PHONE>"
        ),
        _SSN,
        "<SSN>",
    )
    return d.select(
        "doc_id",
        n(_EMAIL).alias("n_emails"),
        n(_PHONE).alias("n_phones"),
        n(_SSN).alias("n_ssns"),
        F.md5(redacted).alias("redacted_md5"),
    ).orderBy("doc_id")


# --------------------------------------------------------------- URLs
_RAW_URL_SQL = """
    CASE CAST(doc_id % 4 AS INTEGER)
      WHEN 0 THEN 'HTTP://WWW.Example.COM:80/docs/page'
                  || CAST(doc_id % 10 AS VARCHAR) || '?utm_source=x&b=2&a=1'
      WHEN 1 THEN 'https://example.com:443/docs/page'
                  || CAST(doc_id % 10 AS VARCHAR) || '/'
      WHEN 2 THEN 'http://www.example.com/docs/page'
                  || CAST(doc_id % 10 AS VARCHAR) || '?a=1&b=2'
      ELSE        'https://example.com/docs/page'
                  || CAST(doc_id % 10 AS VARCHAR)
    END
"""

_CANON_SQL = f"""
    lower(regexp_extract({_RAW_URL_SQL}, '^([A-Za-z]+)://', 1)) || '://'
    || regexp_replace(regexp_replace(
         lower(string_split(regexp_replace({_RAW_URL_SQL}, '^[A-Za-z]+://', ''), '/')[1]),
         '^www\\.', ''), ':(80|443)$', '')
    || regexp_replace(
         string_split(regexp_extract(regexp_replace({_RAW_URL_SQL}, '^[A-Za-z]+://', ''),
                                     '^[^/?]*(.*)$', 1), '?')[1],
         '/+$', '')
    || CASE WHEN array_to_string(
              list_sort(list_filter(
                string_split(
                  CASE WHEN contains({_RAW_URL_SQL}, '?')
                       THEN regexp_extract({_RAW_URL_SQL}, '\\?(.*)$', 1)
                       ELSE '' END, '&'),
                p -> p <> '' AND NOT starts_with(p, 'utm_'))), '&') <> ''
       THEN '?' || array_to_string(
              list_sort(list_filter(
                string_split(
                  CASE WHEN contains({_RAW_URL_SQL}, '?')
                       THEN regexp_extract({_RAW_URL_SQL}, '\\?(.*)$', 1)
                       ELSE '' END, '&'),
                p -> p <> '' AND NOT starts_with(p, 'utm_'))), '&')
       ELSE '' END
"""


def _canon_spark(d):
    raw = (
        F.when(
            (F.col("doc_id") % 4 == 0),
            F.concat(
                F.lit("HTTP://WWW.Example.COM:80/docs/page"),
                (F.col("doc_id") % 10).cast("string"), F.lit("?utm_source=x&b=2&a=1"),
            ),
        )
        .when(
            (F.col("doc_id") % 4 == 1),
            F.concat(
                F.lit("https://example.com:443/docs/page"),
                (F.col("doc_id") % 10).cast("string"), F.lit("/"),
            ),
        )
        .when(
            (F.col("doc_id") % 4 == 2),
            F.concat(
                F.lit("http://www.example.com/docs/page"),
                (F.col("doc_id") % 10).cast("string"), F.lit("?a=1&b=2"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("https://example.com/docs/page"),
                (F.col("doc_id") % 10).cast("string"),
            )
        )
    )
    scheme = F.lower(F.regexp_extract(raw, r"^([A-Za-z]+)://", 1))
    rest = F.regexp_replace(raw, r"^[A-Za-z]+://", "")
    host = F.regexp_replace(
        F.regexp_replace(F.lower(F.split(rest, "/").getItem(0)), r"^www\.", ""),
        r":(80|443)$",
        "",
    )
    pathq = F.regexp_extract(rest, r"^[^/?]*(.*)$", 1)
    path = F.regexp_replace(F.split(pathq, r"\?").getItem(0), r"/+$", "")
    query = F.when(raw.contains("?"), F.regexp_extract(raw, r"\?(.*)$", 1)).otherwise(
        F.lit("")
    )
    params = F.array_join(
        F.array_sort(
            F.filter(
                F.split(query, "&"),
                lambda p: (p != F.lit("")) & ~p.startswith("utm_"),
            )
        ),
        "&",
    )
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(params != "", F.concat(F.lit("?"), params)).otherwise(F.lit("")),
    )


@register(
    "url_normalize",
    oracle=f"""
    SELECT doc_id, {_CANON_SQL} AS url_canon FROM documents ORDER BY doc_id
    """,
    tags=("corpus", "url"),
)
def url_normalize(spark, sf_dir):
    """URL canonicalization: lowercase scheme+host, strip ``www.``
    and default ports, collapse trailing slashes, drop ``utm_*``
    tracking params, sort the remaining query params. Narrow
    per-row string algebra — zero shuffles."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", _canon_spark(d).alias("url_canon")).orderBy("doc_id")


@register(
    "url_dedup",
    oracle=f"""
    SELECT url_canon,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS first_doc
    FROM (SELECT doc_id, {_CANON_SQL} AS url_canon FROM documents)
    GROUP BY url_canon ORDER BY url_canon
    """,
    tags=("corpus", "url", "dedup"),
)
def url_dedup(spark, sf_dir):
    """URL-level dedup on the canonical form: visually-distinct
    duplicates (case, default port, www, tracking params, trailing
    slash) collapse to one group. One hash-aggregate shuffle on the
    canonical key — the URL-keyed analogue of exact_dedup."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", _canon_spark(d).alias("url_canon"))
        .groupBy("url_canon")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
        )
        .orderBy("url_canon")
    )


# ------------------------------------------------------ contamination
_CANARY1 = "canary benchmark leak phrase alpha beta gamma delta epsilon"
_CANARY2 = "second holdout suite sentence zeta eta theta iota kappa"
_NGRAM_N = 8

_DOC_TEXT_SQL = f"""
    text || CASE WHEN doc_id % 7 = 0 THEN ' {_CANARY1}' ELSE '' END
         || CASE WHEN doc_id % 14 = 0 THEN ' {_CANARY2}' ELSE '' END
         || CASE WHEN doc_id % 7 = 1
                 THEN ' canary benchmark leak phrase alpha' ELSE '' END
"""


def _doc_text_spark():
    return F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 7 == 0, F.lit(" " + _CANARY1)).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 14 == 0, F.lit(" " + _CANARY2)).otherwise(F.lit("")),
        # a PARTIAL canary (5 of 9 tokens) — must NOT count as a hit
        # at n=8: decontamination is n-gram-exact, not substring-ish
        F.when(
            F.col("doc_id") % 7 == 1, F.lit(" canary benchmark leak phrase alpha")
        ).otherwise(F.lit("")),
    )


def _ngrams_spark(text_col, n: int):
    """n-gram strings via n SHIFTED array slices zipped together —
    O(n·tokens) total copying instead of the O(tokens²) of a
    per-position slice, measured 3× faster at sf0.1 with identical
    output. arrays_zip pads to the longest input; rows where the
    last shift ran out are dropped, leaving exactly len-n+1 grams.
    Stays a pure per-row expression: no shuffle before the
    downstream aggregation."""
    toks = F.split(F.trim(text_col), r" +")
    shifted = [
        F.slice(toks, i + 1, F.greatest(F.size(toks) - i, F.lit(0))).alias(f"t{i}")
        for i in range(n)
    ]
    grams = F.transform(
        F.arrays_zip(*shifted),
        lambda x: F.when(
            x[f"t{n - 1}"].isNotNull(),
            F.concat_ws(" ", *[x[f"t{i}"] for i in range(n)]),
        ),
    )
    return F.filter(grams, lambda s: s.isNotNull())


def _ngrams_sql(text_expr: str, n: int) -> str:
    """DuckDB n-gram relation body: tokens[i : i+n-1] for each valid
    start (1-based inclusive slicing)."""
    return f"""
      SELECT doc_id,
             array_to_string(toks[i : i + {n - 1}], ' ') AS ngram
      FROM (SELECT doc_id, string_split_regex(trim({text_expr}), ' +') AS toks
            FROM documents),
           LATERAL (SELECT unnest(range(1, len(toks) - {n - 2})) AS i) starts
      WHERE len(toks) >= {n}
    """


@register(
    "contamination_check",
    oracle=f"""
    WITH corpus_ngrams AS ({_ngrams_sql(_DOC_TEXT_SQL, _NGRAM_N)}),
    bench AS (
      SELECT DISTINCT array_to_string(toks[i : i + {_NGRAM_N - 1}], ' ') AS ngram
      FROM (SELECT string_split(s, ' ') AS toks
            FROM (VALUES ('{_CANARY1}'), ('{_CANARY2}')) b(s)),
           LATERAL (SELECT unnest(range(1, len(toks) - {_NGRAM_N - 2})) AS i) starts
    )
    SELECT doc_id, CAST(count(DISTINCT c.ngram) AS BIGINT) AS n_hits
    FROM corpus_ngrams c JOIN bench USING (ngram)
    GROUP BY doc_id ORDER BY doc_id
    """,
    tags=("corpus", "contamination"),
)
def contamination_check(spark, sf_dir):
    """Benchmark decontamination: flag documents sharing any
    8-gram with the benchmark suite (the GPT-3/C4 style 8-gram
    screen). The benchmark n-gram set is a bounded artifact →
    broadcast; the corpus explodes to n-grams and equi-joins without
    ever shuffling document rows. A partial canary (5 tokens)
    planted in %7==1 docs pins the n-gram-exact semantics."""
    d = load_table(spark, sf_dir, "documents")
    # Round 13 (guide §2.2 — do less work before the join): building
    # the 8-token concat at EVERY corpus position only to discard
    # ~everything in the bench hash join is the query's cost center.
    # A matching n-gram must share its FIRST token with some bench
    # n-gram, and the bench suite is a bounded artifact whose first
    # tokens are a literal handful — so the concat (and the exploded
    # row) is gated on a 6-literal membership test per position.
    # Lossless by construction: join equality on the full n-gram
    # implies first-token equality, so no qualifying gram is dropped.
    first_words = sorted(
        {
            s.split()[i]
            for s in (_CANARY1, _CANARY2)
            for i in range(len(s.split()) - _NGRAM_N + 1)
        }
    )
    toks = F.split(F.trim(_doc_text_spark()), r" +")
    shifted = [
        F.slice(toks, i + 1, F.greatest(F.size(toks) - i, F.lit(0))).alias(f"t{i}")
        for i in range(_NGRAM_N)
    ]
    grams = F.transform(
        F.arrays_zip(*shifted),
        lambda x: F.when(
            x[f"t{_NGRAM_N - 1}"].isNotNull()
            & x["t0"].isin(*first_words),
            F.concat_ws(" ", *[x[f"t{i}"] for i in range(_NGRAM_N)]),
        ),
    )
    corpus = d.select(
        "doc_id",
        F.explode(F.filter(grams, lambda s: s.isNotNull())).alias("ngram"),
    )
    bench_rows = [(s,) for s in (_CANARY1, _CANARY2)]
    bench = (
        spark.createDataFrame(bench_rows, "s string")
        .select(F.explode(_ngrams_spark(F.col("s"), _NGRAM_N)).alias("ngram"))
        .dropDuplicates()
    )
    return (
        corpus.join(F.broadcast(bench), "ngram")
        .groupBy("doc_id")
        .agg(F.count_distinct("ngram").alias("n_hits"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------- top-ngrams
@register(
    "corpus_top_ngrams",
    oracle=f"""
    SELECT ngram, CAST(count(*) AS BIGINT) AS n
    FROM ({_ngrams_sql("text", 3)})
    GROUP BY ngram ORDER BY n DESC, ngram LIMIT 20
    """,
    tags=("corpus", "ngram"),
)
def corpus_top_ngrams(spark, sf_dir):
    """Global corpus statistics: top-20 trigrams with a
    deterministic (count desc, ngram asc) tiebreak. Explode →
    map-side partial agg → one shuffle on the n-gram key; the final
    ordering sorts only the aggregated relation."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(_ngrams_spark(F.col("text"), 3)).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("ngram"))
        .limit(20)
    )


# ----------------------------------------------------- repetition
@register(
    "text_repetition",
    oracle=f"""
    WITH grams AS (
      SELECT doc_id, ngram, count(*) AS c
      FROM ({_ngrams_sql("text", 2)}) GROUP BY doc_id, ngram
    ),
    per_doc AS (
      SELECT doc_id,
             CAST(sum(c) AS BIGINT) AS n_bigrams,
             CAST(max(c) AS BIGINT) AS top_bigram_n,
             CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup_occurrences
      FROM grams GROUP BY doc_id
    )
    SELECT doc_id, n_bigrams, top_bigram_n,
           CAST(top_bigram_n AS DOUBLE) / n_bigrams AS top_bigram_frac,
           CAST(dup_occurrences AS DOUBLE) / n_bigrams AS dup_bigram_frac,
           (CAST(top_bigram_n AS DOUBLE) / n_bigrams <= 0.08
            AND CAST(dup_occurrences AS DOUBLE) / n_bigrams <= 0.75)
             AS repetition_pass
    FROM per_doc ORDER BY doc_id
    """,
    tags=("corpus", "quality", "repetition"),
)
def text_repetition(spark, sf_dir):
    """Gopher-style repetition gates: the share of the most frequent
    bigram and the share of bigram occurrences that are duplicates,
    plus a pass/fail. Two keyed aggregations — (doc_id, ngram) then
    doc_id — both pre-aggregate map-side and shuffle on keys
    prefixed by doc_id, so the plan holds at corpus scale (no
    per-doc data ever collects to one node beyond its own grams).
    The ratios are single divisions of exact integers → bit-equal
    across engines."""
    d = load_table(spark, sf_dir, "documents")
    grams = (
        d.select("doc_id", F.explode(_ngrams_spark(F.col("text"), 2)).alias("ngram"))
        .groupBy("doc_id", "ngram")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_doc = grams.groupBy("doc_id").agg(
        F.sum("c").alias("n_bigrams"),
        F.max("c").alias("top_bigram_n"),
        F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)).alias("dup_occurrences"),
    )
    top_frac = F.col("top_bigram_n").cast("double") / F.col("n_bigrams")
    dup_frac = F.col("dup_occurrences").cast("double") / F.col("n_bigrams")
    return per_doc.select(
        "doc_id",
        "n_bigrams",
        "top_bigram_n",
        top_frac.alias("top_bigram_frac"),
        dup_frac.alias("dup_bigram_frac"),
        ((top_frac <= 0.08) & (dup_frac <= 0.75)).alias("repetition_pass"),
    ).orderBy("doc_id")


# ---------------------------------------------------------- jsonl source
_JSONL_LINES = (
    '{"doc_id": 0, "text": "alpha beta gamma", "lang": "en", "source": "web"}',
    '{"doc_id": 1, "text": "delta epsilon", "lang": "es", "source": "web"}',
    "this is not json at all",
    '{"doc_id": "nan", "text": "mu nu", "lang": "en", "source": "books"}',
    '{"doc_id": 6, "lang": "en", "source": "web"}',
)


def jsonl_fixture_dir() -> str:
    """Deterministic JSONL corpus: 3 clean lines, one malformed line,
    one type-mismatch line (parseable fields kept + flagged), one
    missing-field line (null field, clean)."""
    return fixture_dir("jsonl", {"part0.jsonl": "\n".join(_JSONL_LINES).encode()})


@register(
    "jsonl_ingest",
    oracle="""
    SELECT * FROM (VALUES
      (0, 'en', 'web', 16, FALSE, CAST(NULL AS VARCHAR)),
      (1, 'es', 'web', 13, FALSE, CAST(NULL AS VARCHAR)),
      (6, 'en', 'web', CAST(NULL AS INTEGER), FALSE, CAST(NULL AS VARCHAR)),
      (CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
       CAST(NULL AS INTEGER), TRUE, 'this is not'),
      (CAST(NULL AS BIGINT), 'en', 'books', 5, TRUE, '{"doc_id": ')
    ) AS t(doc_id, lang, source, n_chars, is_corrupt, corrupt_excerpt)
    ORDER BY is_corrupt, doc_id
    """,
    tags=("corpus", "source", "jsonl"),
)
def jsonl_ingest(spark, sf_dir):
    """S-class source breadth: JSONL corpus ingestion with §2.8
    error-row semantics — explicit schema (no inference pass),
    PERMISSIVE mode, malformed lines preserved as rows with the raw
    line in ``_corrupt``. A type-mismatch line keeps its parseable
    fields AND is flagged; a missing field is null, not an error.
    Same reader serves readStream for file-drop ingestion
    (tests/test_corpus_ops.py pins batch/stream parity)."""
    from ingestor_etl_spark.sources.jsonl import read_jsonl_documents

    docs = read_jsonl_documents(spark, jsonl_fixture_dir())
    return docs.select(
        "doc_id",
        "lang",
        "source",
        F.length("text").alias("n_chars"),
        F.col("_corrupt").isNotNull().alias("is_corrupt"),
        F.substring("_corrupt", 1, 11).alias("corrupt_excerpt"),
    ).orderBy("is_corrupt", "doc_id")


# ----------------------------------------------------------- xml source
_XML_FILES = {
    # one document per file — the error-isolation layout real XML
    # corpora use (see sources/xml_source.py: a malformed record can
    # swallow the rest of its file's records, so the file is the
    # error unit)
    "f0.xml": "<doc><doc_id>0</doc_id><text>alpha beta gamma</text>"
    "<lang>en</lang><source>web</source></doc>",
    "f1.xml": "<doc><doc_id>1</doc_id><text>delta epsilon</text>"
    "<lang>es</lang><source>web</source></doc>",
    # type mismatch: doc_id not a long — whole record flagged (the
    # XML reader does NOT keep parseable sibling fields, unlike JSON)
    "f2.xml": "<doc><doc_id>nan</doc_id><text>mu nu</text>"
    "<lang>en</lang><source>books</source></doc>",
    # missing field: null, clean
    "f3.xml": "<doc><doc_id>6</doc_id><lang>en</lang><source>web</source></doc>",
    # broken markup
    "f4.xml": "<doc><doc_id>7<text>broken markup</doc>",
}


def xml_fixture_dir() -> str:
    """Deterministic XML corpus: 2 clean docs, one missing-field doc
    (null field, clean), one type-mismatch doc, one broken-markup
    doc."""
    return fixture_dir("xml", {n: c.encode() for n, c in _XML_FILES.items()})


@register(
    "xml_ingest",
    oracle="""
    SELECT * FROM (VALUES
      (0, 'en', 'web', 16, FALSE, CAST(NULL AS VARCHAR)),
      (1, 'es', 'web', 13, FALSE, CAST(NULL AS VARCHAR)),
      (6, 'en', 'web', CAST(NULL AS INTEGER), FALSE, CAST(NULL AS VARCHAR)),
      (CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
       CAST(NULL AS INTEGER), TRUE, '<doc><doc_id>nan<'),
      (CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
       CAST(NULL AS INTEGER), TRUE, '<doc><doc_id>7<te')
    ) AS t(doc_id, lang, source, n_chars, is_corrupt, corrupt_excerpt)
    ORDER BY is_corrupt, doc_id, corrupt_excerpt
    """,
    tags=("corpus", "source", "xml"),
)
def xml_ingest(spark, sf_dir):
    """S-class source breadth: XML corpus ingestion via Spark 4's
    built-in XML datasource with §2.8 error-row semantics — explicit
    schema (no inference pass), PERMISSIVE mode, records that fail
    parsing or type coercion preserved as rows with the raw record in
    ``_corrupt``. A missing element is null, not an error; a
    type-mismatch record is flagged whole (XML differs from JSONL
    here: sibling fields are NOT kept — pinned by the oracle row)."""
    from ingestor_etl_spark.sources.xml_source import read_xml_documents

    docs = read_xml_documents(spark, xml_fixture_dir())
    return docs.select(
        "doc_id",
        "lang",
        "source",
        F.length("text").alias("n_chars"),
        F.col("_corrupt").isNotNull().alias("is_corrupt"),
        F.substring("_corrupt", 1, 17).alias("corrupt_excerpt"),
    ).orderBy("is_corrupt", "doc_id", "corrupt_excerpt")


# ------------------------------------------------------ domain mixture
@register(
    "domain_mixture",
    oracle="""
    WITH per_source AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(string_split_regex(trim(text), ' +'))) AS BIGINT)
               AS n_tokens
      FROM documents GROUP BY source
    ),
    with_total AS (
      SELECT *, sum(n_tokens) OVER () AS total_tokens,
             count(*) OVER () AS n_sources
      FROM per_source
    )
    SELECT source, n_docs, n_tokens,
           CAST(n_tokens AS DOUBLE) / total_tokens AS token_share,
           CAST(total_tokens AS DOUBLE) / (n_sources * n_tokens)
             AS uniform_weight
    FROM with_total ORDER BY source
    """,
    tags=("corpus", "mixture", "sampling"),
)
def domain_mixture(spark, sf_dir):
    """Training-mix bookkeeping: per-source token counts, corpus
    share, and the resampling weight that would equalize the mix
    (weight = target_share / actual_share with a uniform target).
    One keyed aggregation shuffles the corpus down to one row per
    source; the global total comes from an unpartitioned window over
    that TINY aggregated relation (sources are dozens, never
    corpus-scale), not from a second pass over the data."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r" +")
    per_source = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(toks)).alias("n_tokens"),
    )
    w = Window.partitionBy()
    total = F.sum("n_tokens").over(w)
    n_sources = F.count(F.lit(1)).over(w)
    return per_source.select(
        "source",
        "n_docs",
        "n_tokens",
        (F.col("n_tokens").cast("double") / total).alias("token_share"),
        (total.cast("double") / (n_sources * F.col("n_tokens"))).alias(
            "uniform_weight"
        ),
    ).orderBy("source")


# ------------------------------------------------------------ csv source
_CSV_LINES = (
    "doc_id,text,lang,source",
    '0,"hello world doc",en,web',
    '1,"hola mundo",es,web',
    'notanint,"bad id row",en,web',
    '3,"missing source",fr',
    '4,"extra,unquoted,comma",en,web,overflow',
    '5,"quoted, comma fine",en,books',
)


def csv_fixture_dir() -> str:
    """Deterministic CSV corpus: three clean rows (one with a quoted
    delimiter), a type-mismatch row, a short row, a long row."""
    return fixture_dir("csv", {"part0.csv": ("\n".join(_CSV_LINES) + "\n").encode()})


# NOTE (Spark-version behavior pin): the VALUES block below encodes
# Spark's CURRENT (4.x) PERMISSIVE CSV arity contract — short AND
# long rows are flagged corrupt while their parseable prefix is
# kept. That contract has differed across Spark releases (e.g.
# pre-2.3 DROPMALFORMED interplay, 2.x nullable-pad behavior), so a
# mismatch here after a Spark upgrade is a behavior-pin update to
# this oracle, not an engine bug.
@register(
    "csv_ingest",
    oracle="""
    SELECT * FROM (VALUES
      (0, 'en', 'web', 15, FALSE, CAST(NULL AS VARCHAR)),
      (1, 'es', 'web', 10, FALSE, CAST(NULL AS VARCHAR)),
      (5, 'en', 'books', 18, FALSE, CAST(NULL AS VARCHAR)),
      (CAST(NULL AS BIGINT), 'en', 'web', 10, TRUE, 'notanint,"b'),
      (3, 'fr', CAST(NULL AS VARCHAR), 14, TRUE, '3,"missing '),
      (4, 'en', 'web', 20, TRUE, '4,"extra,un')
    ) AS t(doc_id, lang, source, n_chars, is_corrupt, corrupt_excerpt)
    ORDER BY is_corrupt, doc_id
    """,
    tags=("corpus", "source", "csv"),
)
def csv_ingest(spark, sf_dir):
    """S-class source breadth: CSV corpus ingestion with §2.8
    error-row semantics — explicit schema, PERMISSIVE, raw line in
    ``_corrupt``. Pins the CSV-specific arity contract: a missing
    trailing field IS corrupt (parseable prefix kept + flagged),
    extra fields are corrupt, quoted delimiters are clean — unlike
    JSONL where a missing key is merely null (jsonl_ingest)."""
    from ingestor_etl_spark.sources.csv_source import read_csv_documents

    docs = read_csv_documents(spark, csv_fixture_dir())
    return docs.select(
        "doc_id",
        "lang",
        "source",
        F.length("text").alias("n_chars"),
        F.col("_corrupt").isNotNull().alias("is_corrupt"),
        F.substring("_corrupt", 1, 11).alias("corrupt_excerpt"),
    ).orderBy("is_corrupt", "doc_id")


# -------------------------------------------------------- vocab_coverage
VOCAB_TOPK = 100


@register(
    "vocab_coverage",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(lower(text)), ' +')) AS w
      FROM documents
    ),
    counts AS (SELECT w, count(*) AS c FROM toks GROUP BY w),
    vocab AS (SELECT w FROM counts ORDER BY c DESC, w LIMIT {VOCAB_TOPK}),
    flagged AS (
      SELECT t.doc_id, (v.w IS NOT NULL) AS iv
      FROM toks t LEFT JOIN vocab v ON t.w = v.w
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN iv THEN 0 ELSE 1 END) AS BIGINT) AS n_oov,
           sum(CASE WHEN iv THEN 0 ELSE 1 END) / CAST(count(*) AS DOUBLE)
             AS oov_rate
    FROM flagged GROUP BY doc_id ORDER BY doc_id
    """,
    tags=("tokenizer", "vocab", "coverage"),
)
def vocab_coverage(spark, sf_dir):
    """Tokenizer-vocabulary coverage report: per-document
    out-of-vocabulary rate against the corpus's own top-100 token
    vocabulary (stand-in for a fixed tokenizer vocab) — the standard
    pre-training check that a tokenizer fits a corpus. Plan: token
    counts aggregate map-side into the bounded vocabulary; the top-k
    sorts only the aggregated token relation; the vocab (100 rows)
    broadcasts back onto the token stream; one doc-keyed
    aggregation. Parity: counts are BIGINT, the rate is a single
    int/int double division (no rounding)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r" +")).alias("w"),
    )
    vocab = (
        toks.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "w")
        .limit(VOCAB_TOPK)
        .select("w", F.lit(True).alias("iv"))
    )
    flagged = toks.join(F.broadcast(vocab), "w", "left_outer")
    oov = F.sum(F.when(F.col("iv"), 0).otherwise(1))
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            oov.alias("n_oov"),
            (oov / F.count(F.lit(1)).cast("double")).alias("oov_rate"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------- mixture_drift
@register(
    "mixture_drift",
    oracle="""
    WITH v1 AS (
      SELECT source, sum(len(string_split_regex(trim(text), ' +'))) AS n
      FROM documents GROUP BY source
    ),
    v2 AS (
      SELECT source, sum(len(string_split_regex(trim(text), ' +'))) AS n
      FROM documents WHERE doc_id % 7 <> 0 GROUP BY source
    ),
    shares AS (
      SELECT v1.source,
             v1.n / CAST((SELECT sum(n) FROM v1) AS DOUBLE) AS p,
             COALESCE(v2.n, 0) / CAST((SELECT sum(n) FROM v2) AS DOUBLE) AS q
      FROM v1 LEFT JOIN v2 ON v1.source = v2.source
    ),
    terms AS (
      SELECT source, p, q, p - q AS shift,
             CAST(round(abs(p - q), 8) AS DECIMAL(18,8)) AS absdec
      FROM shares
    )
    SELECT source, p, q, shift,
           0.5 * CAST(sum(absdec) OVER () AS DOUBLE) AS tv_distance
    FROM terms ORDER BY source
    """,
    tags=("mixture", "drift", "monitoring"),
)
def mixture_drift(spark, sf_dir):
    """Training-mixture drift monitor: per-source token share in the
    current corpus (p) vs a reference snapshot (q — synthesized as
    the doc_id % 7 != 0 subsample, deterministic on both engines),
    the per-source shift, and the total-variation distance
    0.5·Σ|p−q| — the alarm number a 100 TB ingest pipeline checks
    before retraining on a refreshed crawl. TV instead of KL keeps
    the operator free of transcendental functions (exact parity, no
    log-ulp risk). Two map-side-combined aggregations over |sources|
    keys; the TV window runs over the aggregated 5-row relation;
    |p−q| terms are rounded into DECIMAL before the sum so the total
    is aggregation-order-free."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r" +")
    v1 = d.groupBy("source").agg(F.sum(F.size(toks)).alias("n1"))
    v2 = (
        d.where(F.col("doc_id") % 7 != 0)
        .groupBy("source")
        .agg(F.sum(F.size(toks)).alias("n2"))
    )
    w_all = Window.partitionBy()
    shares = (
        v1.join(v2, "source", "left_outer")
        .select(
            "source",
            (F.col("n1") / F.sum("n1").over(w_all).cast("double")).alias("p"),
            (
                F.coalesce(F.col("n2"), F.lit(0))
                / F.sum("n2").over(w_all).cast("double")
            ).alias("q"),
        )
    )
    terms = shares.select(
        "source",
        "p",
        "q",
        (F.col("p") - F.col("q")).alias("shift"),
        F.round(F.abs(F.col("p") - F.col("q")), 8)
        .cast("decimal(18,8)")
        .alias("absdec"),
    )
    return (
        terms.select(
            "source",
            "p",
            "q",
            "shift",
            (0.5 * F.sum("absdec").over(w_all).cast("double")).alias("tv_distance"),
        )
        .orderBy("source")
    )


# --------------------------------------------------- source_reputation
REPUTATION_GOOD_CHARS = 300  # a doc counts as "good" at/above this length
REPUTATION_KEEP_MILLI = 500  # keep sources with >= 50.0% good docs


@register(
    "source_reputation",
    oracle=f"""
    WITH rep AS (
      SELECT source,
             count(*) AS n_docs,
             CAST((1000 * sum(CASE WHEN n_chars >= {REPUTATION_GOOD_CHARS}
                              THEN 1 ELSE 0 END)) // count(*) AS BIGINT)
               AS rep_milli
      FROM documents GROUP BY source
    )
    SELECT d.doc_id, d.source, r.rep_milli
    FROM documents d JOIN rep r ON d.source = r.source
    WHERE r.rep_milli >= {REPUTATION_KEEP_MILLI}
    ORDER BY d.doc_id
    """,
    tags=("corpus", "quality", "reputation"),
)
def source_reputation(spark, sf_dir):
    """Host/source-reputation gate (the UT1-blocklist / C4-badlist
    family generalized to a computed list): score every source by the
    share of its docs that clear a length bar, keep docs whose source
    scores >= {keep}/1000. Integer-milli reputation ((1000·good) div
    n) is exact in both engines — no float share ever compares
    against the threshold.

    Plan shape: one map-side-combined aggregation produces the
    per-source reputation (rows = source cardinality — hosts, not
    docs), which broadcasts back onto the corpus as the keep-list
    join. At 100 TB the corpus side never shuffles: scan → broadcast
    hash join → filtered scan output. The skewed source key is
    harmless here because it is only a grouping key with partial
    aggregation, never a window partition."""
    d = load_table(spark, sf_dir, "documents")
    rep = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.expr(
            f"(1000 * sum(CASE WHEN n_chars >= {REPUTATION_GOOD_CHARS} "
            "THEN 1 ELSE 0 END)) div count(*)"
        ).alias("rep_milli"),
    )
    keep = rep.where(F.col("rep_milli") >= REPUTATION_KEEP_MILLI).select(
        "source", "rep_milli"
    )
    return (
        d.join(F.broadcast(keep), "source")
        .select("doc_id", "source", "rep_milli")
        .orderBy("doc_id")
    )


source_reputation.__doc__ = source_reputation.__doc__.format(
    keep=REPUTATION_KEEP_MILLI
)


# ----------------------------------------------------------- gopher_rules
# Composite rule-based quality gate in the published Gopher/MassiveText
# shape (Rae et al. 2021, §A1.1 — public paper): word-count bounds,
# mean-word-length band, minimum stopword evidence, repetition cap,
# alphabetic-token floor. Thresholds are corpus-tuned constants.
GOPHER_MIN_WORDS = 40
GOPHER_MAX_WORDS = 100_000
GOPHER_STOPWORDS = ("the", "a", "of", "to", "and")


@register(
    "gopher_rules",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), ' +')) AS tok
      FROM documents
    ),
    tf AS (
      SELECT doc_id, tok, count(*) AS cnt FROM toks GROUP BY doc_id, tok
    ),
    m AS (
      SELECT doc_id,
             CAST(sum(cnt) AS BIGINT) AS n_words,
             CAST(max(cnt) AS BIGINT) AS top_word_cnt,
             CAST(sum(CASE WHEN tok IN {GOPHER_STOPWORDS} THEN cnt ELSE 0 END)
                  AS BIGINT) AS stop_hits,
             CAST(sum(length(tok) * cnt) AS BIGINT) AS sum_len,
             CAST(sum(CASE WHEN regexp_full_match(tok, '[a-z]+')
                           THEN cnt ELSE 0 END) AS BIGINT) AS alpha_cnt
      FROM tf GROUP BY doc_id
    )
    SELECT doc_id, n_words,
           round(sum_len / CAST(n_words AS DOUBLE), 4) AS mean_word_len,
           round(top_word_cnt / CAST(n_words AS DOUBLE), 6) AS top_word_frac,
           stop_hits,
           round(alpha_cnt / CAST(n_words AS DOUBLE), 6) AS alpha_frac,
           (n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
            AND sum_len / CAST(n_words AS DOUBLE) BETWEEN 3 AND 10
            AND stop_hits >= 2
            AND top_word_cnt / CAST(n_words AS DOUBLE) <= 0.2
            AND alpha_cnt / CAST(n_words AS DOUBLE) >= 0.8) AS keep
    FROM m ORDER BY doc_id
    """,
    tags=("quality", "gopher", "corpus"),
)
def gopher_rules(spark, sf_dir):
    """Gopher-style composite quality rules, computed from ONE
    per-(doc, token) aggregation: word-count bounds, mean word
    length in [3, 10], >= 2 stopword occurrences, top-word fraction
    <= 0.2 (repetition cap), alphabetic-token fraction >= 0.8.

    Scale shape: explode -> groupBy(doc_id, tok) -> groupBy(doc_id)
    — both aggregations are doc-keyed and map-side combined; every
    rule is integer arithmetic with one exactly-rounded division at
    the end, so the verdict is bit-identical across engines."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.trim(F.col("text")), r" +")).alias("tok"),
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("cnt"))
    stop = F.col("tok").isin(*GOPHER_STOPWORDS)
    alpha = F.col("tok").rlike("^[a-z]+$")
    m = tf.groupBy("doc_id").agg(
        F.sum("cnt").cast("bigint").alias("n_words"),
        F.max("cnt").cast("bigint").alias("top_word_cnt"),
        F.sum(F.when(stop, F.col("cnt")).otherwise(0)).cast("bigint").alias("stop_hits"),
        F.sum(F.length("tok") * F.col("cnt")).cast("bigint").alias("sum_len"),
        F.sum(F.when(alpha, F.col("cnt")).otherwise(0)).cast("bigint").alias("alpha_cnt"),
    )
    mean_wl = F.col("sum_len") / F.col("n_words").cast("double")
    top_frac = F.col("top_word_cnt") / F.col("n_words").cast("double")
    alpha_frac = F.col("alpha_cnt") / F.col("n_words").cast("double")
    return m.select(
        "doc_id",
        "n_words",
        F.round(mean_wl, 4).alias("mean_word_len"),
        F.round(top_frac, 6).alias("top_word_frac"),
        "stop_hits",
        F.round(alpha_frac, 6).alias("alpha_frac"),
        (
            F.col("n_words").between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
            & mean_wl.between(3, 10)
            & (F.col("stop_hits") >= 2)
            & (top_frac <= 0.2)
            & (alpha_frac >= 0.8)
        ).alias("keep"),
    ).orderBy("doc_id")


# ---------------------------------------------------- fixed-width source
# Mainframe/telecom-feed style fixed-width layout:
#   id[0:6] lang[6:8] source[8:16] value[16:20]  (20 chars/record)
_FW_LINES = (
    "000042enweb     0015",
    "000007esbooks   0123",
    "badid!frweb     0001",  # non-numeric id → corrupt
    "000009de",              # short record → corrupt
    "000011encrawl   9999",
    "000013enweb     0007x",  # long record → corrupt
)
_FW_LEN = 20


def fixedwidth_fixture_dir() -> str:
    """Deterministic fixed-width feed: three clean records, a
    non-numeric id, a truncated record, an overlong record."""
    return fixture_dir("fw", {"part0.dat": ("\n".join(_FW_LINES) + "\n").encode()})


@register(
    "fixedwidth_ingest",
    oracle="""
    SELECT * FROM (VALUES
      (42, 'en', 'web', 15, FALSE, CAST(NULL AS VARCHAR)),
      (7, 'es', 'books', 123, FALSE, CAST(NULL AS VARCHAR)),
      (11, 'en', 'crawl', 9999, FALSE, CAST(NULL AS VARCHAR)),
      (CAST(NULL AS BIGINT), 'fr', 'web', 1, TRUE, 'badid!frweb'),
      (9, 'de', CAST(NULL AS VARCHAR), CAST(NULL AS INTEGER), TRUE,
       '000009de'),
      (13, 'en', 'web', 7, TRUE, '000013enweb')
    ) AS t(doc_id, lang, source, value, is_corrupt, raw_excerpt)
    ORDER BY is_corrupt, doc_id NULLS FIRST
    """,
    tags=("corpus", "source", "fixed-width"),
)
def fixedwidth_ingest(spark, sf_dir):
    """S-class source breadth: FIXED-WIDTH record ingestion (the
    mainframe/telecom-feed format) with §2.8 error-row semantics —
    `spark.read.text` plus pure substring/trim projections (no
    parser library, fully codegen'd), records flagged corrupt when
    the line length differs from the layout or the id field is
    non-numeric, with the parseable prefix KEPT (same
    keep-and-flag contract as csv_ingest's arity pin). Empty
    (all-blank) fields read as NULL.

    Scale: splittable text input, one narrow projection — the
    cheapest possible source; the layout constant is the entire
    schema contract."""
    lines = spark.read.text(fixedwidth_fixture_dir())
    v = F.col("value")
    # try_cast: malformed ids must flag the row, not fail the job
    # (Spark 4 ANSI casts throw on 'badid!')
    doc_id = F.expr("try_cast(trim(substring(value, 1, 6)) as bigint)")
    lang = F.nullif(F.trim(F.substring(v, 7, 2)), F.lit(""))
    source = F.nullif(F.trim(F.substring(v, 9, 8)), F.lit(""))
    val = F.expr("try_cast(trim(substring(value, 17, 4)) as int)")
    corrupt = (F.length(v) != _FW_LEN) | doc_id.isNull()
    return (
        lines.select(
            doc_id.alias("doc_id"),
            lang.alias("lang"),
            source.alias("source"),
            val.alias("value"),
            corrupt.alias("is_corrupt"),
            F.when(corrupt, F.substring(v, 1, 11)).alias("raw_excerpt"),
        )
        .orderBy(F.col("is_corrupt"), F.col("doc_id").asc_nulls_first())
    )


# ----------------------------------------------------- collocation_lift
COLLOC_MIN_COUNT = 5
COLLOC_TOPK = 25


@register(
    "collocation_lift",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), ' +') AS t
      FROM documents
    ),
    bigrams AS (
      SELECT t[i] AS w1, t[i + 1] AS w2
      FROM toks, LATERAL (SELECT unnest(range(1, len(t))) AS i) p
    ),
    pair_counts AS (
      SELECT w1, w2, count(*) AS n_ab FROM bigrams GROUP BY w1, w2
    ),
    uni AS (
      SELECT w1 AS w, count(*) AS n FROM bigrams GROUP BY w1
    ),
    tot AS (SELECT sum(n_ab) AS big_total FROM pair_counts)
    SELECT w1, w2, CAST(n_ab AS BIGINT) AS n_ab,
           CAST(ua.n AS BIGINT) AS n_w1,
           CAST(ub.n AS BIGINT) AS n_w2,
           round(n_ab * CAST(t.big_total AS DOUBLE) / (ua.n * ub.n), 6)
             AS lift,
           row_number() OVER (
             ORDER BY n_ab * CAST(t.big_total AS DOUBLE) / (ua.n * ub.n) DESC,
                      w1, w2) AS rnk
    FROM pair_counts
    JOIN uni ua ON ua.w = w1
    JOIN uni ub ON ub.w = w2
    CROSS JOIN tot t
    WHERE n_ab >= {COLLOC_MIN_COUNT}
    QUALIFY rnk <= {COLLOC_TOPK}
    ORDER BY rnk
    """,
    tags=("corpus", "collocation", "phrases"),
)
def collocation_lift(spark, sf_dir):
    """Collocation mining (word2vec-style phrase detection): bigram
    LIFT = n_ab·N / (n_a·n_b) — the monotone transform of PMI that
    needs NO logarithm, so the score is one exact integer-ratio
    double division per pair (engine-identical), and the top-{k}
    ranking is the same with or without the ln. The phrase-vocab
    induction pass a tokenizer pipeline runs before merging
    multi-word units.

    Plan shape: bigram and unigram counts are map-side-combined
    aggregations; the unigram relation is VOCABULARY-sized (billions
    of types on a raw 100 TB crawl), so it joins back via plain
    shuffles on the uniform token key — never broadcast; the 1-row
    total broadcasts; the global top-{k} is TakeOrdered (per-
    partition top-k + driver merge) over the min-count-gated pair
    relation, then the {k} survivors re-rank in a trivial window.
    No windows over raw tokens or over the full pair relation."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.lower(F.col("text"))), r" +")
    bigrams = d.select(
        F.explode(
            F.zip_with(
                F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
                F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
                lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
            )
        ).alias("b")
    ).select("b.w1", "b.w2")
    pair_counts = bigrams.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("n_ab")
    )
    uni = bigrams.groupBy(F.col("w1").alias("w")).agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = pair_counts.agg(F.sum("n_ab").alias("big_total"))
    ua = uni.select(F.col("w").alias("w1"), F.col("n").alias("n_w1"))
    ub = uni.select(F.col("w").alias("w2"), F.col("n").alias("n_w2"))
    lift = (
        F.col("n_ab") * F.col("big_total").cast("double")
        / (F.col("n_w1") * F.col("n_w2"))
    )
    from pyspark.sql import Window

    # TakeOrdered bounds the global ranking (per-partition top-k +
    # driver merge); the window below only re-ranks the K survivors
    w = Window.orderBy(F.desc("lift_raw"), "w1", "w2")
    return (
        pair_counts.where(F.col("n_ab") >= COLLOC_MIN_COUNT)
        .join(ua, "w1")
        .join(ub, "w2")
        .crossJoin(F.broadcast(tot))
        .withColumn("lift_raw", lift)
        .orderBy(F.desc("lift_raw"), "w1", "w2")
        .limit(COLLOC_TOPK)
        .withColumn("rnk", F.row_number().over(w))
        .select(
            "w1",
            "w2",
            F.col("n_ab").cast("bigint").alias("n_ab"),
            F.col("n_w1").cast("bigint").alias("n_w1"),
            F.col("n_w2").cast("bigint").alias("n_w2"),
            F.round("lift_raw", 6).alias("lift"),
            "rnk",
        )
        .orderBy("rnk")
    )


collocation_lift.__doc__ = collocation_lift.__doc__.format(
    k=COLLOC_TOPK, m=COLLOC_MIN_COUNT
)


# -------------------------------------------------- vocab_coverage_curve
_CURVE_KS = (10, 50, 100, 500)


@register(
    "vocab_coverage_curve",
    oracle=f"""
    WITH toks AS (
      SELECT unnest(string_split_regex(trim(lower(text)), ' +')) AS w
      FROM documents
    ),
    counts AS (SELECT w, count(*) AS c FROM toks GROUP BY w),
    ranked AS (
      SELECT c, row_number() OVER (ORDER BY c DESC, w) AS rnk FROM counts
    ),
    tot AS (SELECT sum(c) AS total, count(*) AS n_types FROM counts)
    SELECT k AS vocab_size,
           CAST((SELECT sum(c) FROM ranked WHERE rnk <= k) AS BIGINT)
             AS tokens_covered,
           round((SELECT sum(c) FROM ranked WHERE rnk <= k)
                 / CAST(t.total AS DOUBLE), 6) AS coverage,
           CAST(t.total AS BIGINT) AS total_tokens,
           CAST(t.n_types AS BIGINT) AS n_types
    FROM (VALUES {", ".join(f"({k})" for k in _CURVE_KS)}) AS ks(k)
    CROSS JOIN tot t
    ORDER BY vocab_size
    """,
    tags=("tokenizer", "vocab", "planning"),
)
def vocab_coverage_curve(spark, sf_dir):
    """Vocabulary-size coverage curve: what fraction of all token
    OCCURRENCES the top-k most frequent types cover, at k ∈
    {ks} — the curve that picks a tokenizer vocab size before
    training (vocab_coverage reports per-doc OOV against ONE k; this
    is the corpus-level sweep).

    Plan shape: one map-side-combined type count; the only ranked
    relation is the top-max(k) types obtained via TakeOrdered
    (per-partition top-N + driver merge — a raw crawl's type count
    can be billions, so no global window ever sees the full type
    relation); the {n}-row survivor set re-ranks in a trivial
    window and the k grid is a literal row set. Exact integers + one
    final division per row."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r" +")).alias("w")
    )
    counts = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    from pyspark.sql import Window

    ranked = (
        counts.orderBy(F.desc("c"), "w")
        .limit(max(_CURVE_KS))
        .withColumn("rnk", F.row_number().over(Window.orderBy(F.desc("c"), "w")))
    )
    tot = counts.agg(
        F.sum("c").alias("total"), F.count(F.lit(1)).alias("n_types")
    )
    ks = spark.createDataFrame([(k,) for k in _CURVE_KS], ["vocab_size"])
    covered = (
        ranked.crossJoin(F.broadcast(ks))
        .where(F.col("rnk") <= F.col("vocab_size"))
        .groupBy("vocab_size")
        .agg(F.sum("c").alias("tokens_covered"))
    )
    return (
        F.broadcast(ks)
        .join(covered, "vocab_size", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "vocab_size",
            F.coalesce(F.col("tokens_covered"), F.lit(0))
            .cast("bigint")
            .alias("tokens_covered"),
            F.round(
                F.coalesce(F.col("tokens_covered"), F.lit(0))
                / F.col("total").cast("double"),
                6,
            ).alias("coverage"),
            F.col("total").cast("bigint").alias("total_tokens"),
            F.col("n_types").cast("bigint").alias("n_types"),
        )
        .orderBy("vocab_size")
    )


vocab_coverage_curve.__doc__ = vocab_coverage_curve.__doc__.format(
    ks=_CURVE_KS, n=max(_CURVE_KS)
)
