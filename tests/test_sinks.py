"""Sink tests: schema-parity helpers, ledger, streaming dedup."""

from __future__ import annotations

from ingestor_etl_spark.sinks.jdbc import frames_list_as_string, with_epoch_columns
from ingestor_etl_spark.sinks.ledger import append_ledger, current_ledger_state, file_counters, ledger_rows
from ingestor_etl_spark.streaming.pipeline import stream_dedup


def test_schema_parity_helpers(spark):
    df = spark.createDataFrame(
        [([1, 2, 3], "2024-01-01 00:00:00.123456")],
        "frames_list array<long>, ts string",
    ).selectExpr("frames_list", "cast(ts as timestamp) ts")
    out = with_epoch_columns(frames_list_as_string(df)).collect()[0]
    assert out.frames_list == "1 2 3"  # models.py String form
    assert out.useconds_epoch == 123456
    assert out.time_epoch == 1704067200


def test_ledger_lifecycle(spark, tmp_path):
    decoded = spark.createDataFrame(
        [("a.pcap", None), ("a.pcap", None), ("a.pcap", "bad frame"), ("b.pcap", None)],
        "file string, error string",
    )
    counters = file_counters(decoded)
    path = str(tmp_path / "ledger")
    append_ledger(ledger_rows(counters), path)
    state = current_ledger_state(spark, path).toPandas().set_index("filename")
    assert state.loc["a.pcap"].processed == 2
    assert state.loc["a.pcap"].not_processed == 1
    assert state.loc["b.pcap"].processed == 1


def test_stream_dedup(spark, tmp_path):
    src = tmp_path / "ev"
    spark.createDataFrame(
        [(1, "k", "2024-01-01 00:00:00"), (2, "k", "2024-01-01 00:00:01"), (3, "j", "2024-01-01 00:00:02")],
        "id long, k string, ts string",
    ).selectExpr("id", "k", "cast(ts as timestamp) ts").write.parquet(str(src))
    stream = spark.readStream.schema("id long, k string, ts timestamp").parquet(str(src))
    deduped = stream_dedup(stream, ["k"], watermark="1 minute")
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = deduped.writeStream.format("parquet").option("path", out_dir).option(
        "checkpointLocation", ckpt
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)
    got = spark.read.parquet(out_dir).toPandas()
    assert sorted(got.k) == ["j", "k"]  # duplicate 'k' row dropped


def test_xml_drop_dir_queue_topology(spark, tmp_path):
    """Round-8 verdict item 5: file-drop XML ingestion routes through
    the archive/queue topology (xml_source.py docs; the reference's
    pcap queue, models.py:250-263) — drop files, decode with per-FILE
    error isolation (§2.8), ledger the counters, and pending_files
    must return only not-yet-processed drops."""
    from pyspark.sql import functions as F

    from ingestor_etl_spark.sinks.ledger import pending_files
    from ingestor_etl_spark.sources.xml_source import read_xml_documents

    drop = tmp_path / "drop"
    drop.mkdir()

    def doc(i, text):
        return (
            f"<doc><doc_id>{i}</doc_id><text>{text}</text>"
            "<lang>en</lang><source>drop</source></doc>"
        )

    # multi-doc files need a well-formed wrapper root (xml_source.py:
    # rowTag boundaries are ambiguous without one)
    (drop / "d0.xml").write_text(
        "<corpus>" + doc(0, "alpha") + doc(1, "beta") + "</corpus>"
    )
    (drop / "d1.xml").write_text(doc(2, "gamma"))
    (drop / "d2.xml").write_text("<doc><doc_id>3<text>broken</doc>")  # malformed

    batch = [str(drop / f"d{i}.xml") for i in range(3)]
    ledger = str(tmp_path / "ledger")

    # everything pending before the first ingest (ledger absent)
    assert pending_files(spark, ledger, batch) == batch

    # cache the parse results before the counter aggregation: Spark
    # disallows queries that project only the corrupt-record column
    # from raw XML (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — in the real
    # topology the decode output is persisted/written before
    # ledgering, which is the same thing
    decoded = (
        read_xml_documents(spark, str(drop))
        .withColumn(
            "file",
            F.element_at(F.split(F.input_file_name(), "/"), -1),
        )
        .cache()
    )
    decoded.count()
    counters = file_counters(decoded, error_col="_corrupt")
    append_ledger(ledger_rows(counters), ledger)

    state = current_ledger_state(spark, ledger).toPandas().set_index("filename")
    # per-file §2.8 isolation: the malformed FILE carries the error,
    # siblings in the same batch stay fully processed
    assert state.loc["d0.xml"].processed == 2
    assert state.loc["d0.xml"].not_processed == 0
    assert state.loc["d1.xml"].processed == 1
    assert state.loc["d2.xml"].not_processed == 1
    assert state.loc["d2.xml"].processed == 0

    # queue semantics: a later sweep sees the new drop only
    (drop / "d3.xml").write_text(doc(4, "delta"))
    names = [f"d{i}.xml" for i in range(4)]
    assert pending_files(spark, ledger, names) == ["d3.xml"]
