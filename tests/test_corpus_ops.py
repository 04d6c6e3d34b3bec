"""Corpus-hygiene operator semantics (queries/corpus_ops.py) —
the properties the oracle rows alone don't make obvious."""

from __future__ import annotations

import pytest

from ingestor_etl_spark.queries import load_all

REGISTRY = load_all()
SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def url_rows(spark):
    return {
        r.doc_id: r.url_canon
        for r in REGISTRY["url_normalize"].fn(spark, SF).collect()
    }


def test_url_cross_format_collapse(url_rows):
    """Four raw formats (uppercase host + :80 + utm params /
    :443 + trailing slash / www + sorted params / bare) must fold
    case-variants 0 and 2, and 1 and 3, into identical canonicals."""
    # doc_id 0 (case 0: HTTP://WWW...:80 + utm) vs doc_id 10 (case 2: www, ?a&b)
    assert url_rows[0] == url_rows[10] == "http://example.com/docs/page0?a=1&b=2"
    # doc_id 1 (case 1: :443 + trailing slash) vs doc_id 11 (case 3: bare)
    assert url_rows[1] == url_rows[11] == "https://example.com/docs/page1"


def test_url_dedup_groups(spark):
    out = REGISTRY["url_dedup"].fn(spark, SF).collect()
    # 10 canonical groups; every group merges exactly two raw formats
    assert len(out) == 10
    assert all(r.n_docs >= 2 for r in out)
    assert {r.first_doc for r in out} == set(range(10))


def test_contamination_ngram_exact(spark):
    hits = {r.doc_id: r.n_hits for r in
            REGISTRY["contamination_check"].fn(spark, SF).collect()}
    # full canary (9 tokens) -> two 8-grams; both canaries for %14
    assert all(d % 7 == 0 for d in hits)
    assert hits[7] == 2
    assert hits[0] == 4  # both canaries
    # partial canary (5 tokens, %7==1 docs) must NOT hit at n=8
    assert 8 not in hits and 1 not in hits


def test_pii_redact_masks_and_counts(spark):
    out = {r.doc_id: r for r in REGISTRY["pii_redact"].fn(spark, SF).collect()}
    assert out[1].n_emails == 1 and out[0].n_emails == 2  # %5 adds one
    assert all(r.n_phones == 1 for r in out.values())
    assert out[3].n_ssns == 1 and out[1].n_ssns == 0
    # md5 changes iff masking changed the text: distinct per doc
    assert len({r.redacted_md5 for r in out.values()}) == len(out)


def test_jsonl_batch_stream_parity(spark, tmp_path):
    """The same JSONL reader serves batch and Structured Streaming;
    an availableNow pass over the fixture must produce identical
    rows, including the corrupt ones."""
    from ingestor_etl_spark.queries.corpus_ops import jsonl_fixture_dir
    from ingestor_etl_spark.sources.jsonl import (
        read_jsonl_documents,
        split_errors,
    )

    d = jsonl_fixture_dir()
    batch = read_jsonl_documents(spark, d)
    out = str(tmp_path / "out")
    q = (
        read_jsonl_documents(spark, d, streaming=True)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = spark.read.schema(batch.schema).parquet(out)
    key = lambda r: (r.doc_id is None, r.doc_id, r._corrupt)
    assert sorted(batch.collect(), key=key) == sorted(streamed.collect(), key=key)

    clean, errors = split_errors(batch)
    assert clean.count() == 3 and "_corrupt" not in clean.columns
    err = errors.collect()
    assert len(err) == 2 and all(e.file.endswith("part0.jsonl") for e in err)


def test_csv_batch_stream_parity(spark, tmp_path):
    """The CSV reader serves batch and Structured Streaming
    identically, corrupt rows included; split_errors applies to any
    document-schema source."""
    from ingestor_etl_spark.queries.corpus_ops import csv_fixture_dir
    from ingestor_etl_spark.sources.csv_source import read_csv_documents
    from ingestor_etl_spark.sources.jsonl import split_errors

    d = csv_fixture_dir()
    batch = read_csv_documents(spark, d)
    out = str(tmp_path / "out")
    q = (
        read_csv_documents(spark, d, streaming=True)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = spark.read.schema(batch.schema).parquet(out)
    key = lambda r: (r.doc_id is None, r.doc_id, r._corrupt)
    assert sorted(batch.collect(), key=key) == sorted(streamed.collect(), key=key)

    clean, errors = split_errors(batch)
    assert clean.count() == 3 and "_corrupt" not in clean.columns
    err = errors.collect()
    assert len(err) == 3 and all(e.file.endswith("part0.csv") for e in err)


def test_fixture_dir_writes_each_file_whole_and_once(tmp_path, monkeypatch):
    """A fixture file whose bytes differ is replaced, one that already
    holds its bytes is left alone, and no temp file is left behind."""
    import os
    import tempfile

    from ingestor_etl_spark.queries import fixture_dir

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    files = {"a.txt": b"alpha\n", "b.bin": b"\x00\x01"}
    d = fixture_dir("t", files)
    assert d == str(tmp_path / "ingestor_etl_spark_t")
    a = os.path.join(d, "a.txt")
    with open(a, "wb") as fh:
        fh.write(b"stale")
    fixture_dir("t", files)
    assert sorted(os.listdir(d)) == ["a.txt", "b.bin"]
    assert {n: open(os.path.join(d, n), "rb").read() for n in files} == files
    os.utime(a, ns=(0, 0))
    fixture_dir("t", files)
    assert os.stat(a).st_mtime_ns == 0
