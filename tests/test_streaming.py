"""Streaming pipeline tests: frames stream → stateful decode →
correlation → foreachBatch sink + ledger (availableNow triggers)."""

from __future__ import annotations

import pytest

import glob
import time

from pyspark.sql import functions as F

from ingestor_etl_spark.sinks.ledger import current_ledger_state, pending_files
from ingestor_etl_spark.protocols.net import expand_l4
from ingestor_etl_spark.streaming.pipeline import (
    stream_correlate_diameter,
    stream_decode_diameter,
    stream_frames,
    stream_sessionize,
    write_stream_with_ledger,
)
from tests import pcapgen as g
from tests.test_diameter import _cca, _ccr


def _await(query, timeout=120):
    """Wait until ``query`` terminates or has drained (a no-data
    batch follows its data batches), then stop it; ``timeout`` bounds
    the wait. A stateful query under a processing-time timeout keeps
    running no-data batches, so its availableNow trigger never ends
    on its own."""
    deadline = time.monotonic() + timeout
    while not query.awaitTermination(0.5) and time.monotonic() < deadline:
        progress = query.recentProgress
        if any(p.numInputRows for p in progress) and progress[-1].numInputRows == 0:
            break
    if query.isActive:
        query.stop()


@pytest.mark.slow
def test_streaming_diameter_end_to_end(spark, tmp_path):
    drop = tmp_path / "drop"
    drop.mkdir()
    ccr, cca = _ccr(), _cca()
    split_point = len(ccr) // 2
    frames = [
        # TCP-segmented request (streaming R2) + SCTP answer
        (2400, 0, g.eth(g.ipv4(g.tcp(ccr[:split_point], 40001, 3868, seq=1, ack=1), 6))),
        (2400, 1, g.eth(g.ipv4(g.tcp(ccr[split_point:], 40001, 3868, seq=1 + split_point, ack=1), 6))),
        (2401, 0, g.eth(g.ipv4(g.sctp([(1, 0, 46, cca)], 3868, 40001), 132, src="10.0.0.2", dst="10.0.0.1"))),
    ]
    (drop / "cap1.pcap").write_bytes(g.pcap(frames))

    segs = expand_l4(stream_frames(spark, str(drop) + "/*.pcap"))
    msgs = stream_decode_diameter(segs)
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    ledger = str(tmp_path / "ledger")
    q = write_stream_with_ledger(msgs.drop("ts"), out_dir, ckpt, ledger)
    _await(q)

    got = spark.read.parquet(out_dir).toPandas().sort_values("hop_by_hop_id")
    assert len(got) == 2
    req = got[got.request].iloc[0]
    assert list(req.frames_list) == [1, 2]  # streaming reassembly
    assert req.msisdn == "5215550001"

    # S10: ledger recorded the source file as processed
    state = current_ledger_state(spark, ledger).toPandas()
    assert len(state) == 1 and state.iloc[0].processed == 2
    assert pending_files(spark, ledger, [state.iloc[0].filename, "other.pcap"]) == [
        "other.pcap"
    ]


@pytest.mark.slow
def test_streaming_correlation(spark, tmp_path):
    """Stage 2 of the chained topology: decoded-message stream →
    keyed correlation state (one applyInPandasWithState per query)."""
    drop = tmp_path / "drop2"
    drop.mkdir()
    frames = [
        (2500, 0, g.eth(g.ipv4(g.sctp([(1, 0, 46, _ccr())], 40001, 3868), 132))),
        (2500, 1, g.eth(g.ipv4(g.sctp([(1, 0, 46, _cca())], 3868, 40001), 132, src="10.0.0.2", dst="10.0.0.1"))),
    ]
    (drop / "cap.pcap").write_bytes(g.pcap(frames))
    segs = expand_l4(stream_frames(spark, str(drop) + "/*.pcap"))
    msgs = stream_decode_diameter(segs)
    mid_dir, ckpt1 = str(tmp_path / "mid"), str(tmp_path / "ckpt1")
    q1 = msgs.drop("ts").writeStream.format("parquet").option("path", mid_dir).option(
        "checkpointLocation", ckpt1
    ).trigger(availableNow=True).start()
    _await(q1)

    decoded = (
        spark.readStream.schema(spark.read.parquet(mid_dir).schema)
        .parquet(mid_dir)
        .withColumn("ts", F.timestamp_micros("ts_us"))
    )
    pairs = stream_correlate_diameter(decoded)
    out_dir, ckpt = str(tmp_path / "pairs"), str(tmp_path / "ckpt2")
    q = pairs.writeStream.format("parquet").option("path", out_dir).option(
        "checkpointLocation", ckpt
    ).trigger(availableNow=True).start()
    _await(q)
    got = spark.read.parquet(out_dir).toPandas()
    assert len(got) == 1
    row = got.iloc[0]
    assert row.matched == "matched"
    assert row.msisdn == "5215550001"  # enriched from request side
    assert row.result_code == 2001  # from answer side


def test_stream_sessionize(spark, tmp_path):
    src_dir = tmp_path / "events"
    df = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00"),
            (1, "2024-01-01 10:10:00"),
            (1, "2024-01-01 12:00:00"),  # > 30 min gap → new session
            (2, "2024-01-01 10:00:00"),
        ],
        "user_id long, ts string",
    ).selectExpr("user_id", "cast(ts as timestamp) ts")
    df.write.parquet(str(src_dir))
    stream = spark.readStream.schema("user_id long, ts timestamp").parquet(str(src_dir))
    sessions = stream_sessionize(stream, gap_seconds=1800)
    out_dir, ckpt = str(tmp_path / "sess"), str(tmp_path / "ckpt3")
    q = sessions.writeStream.format("parquet").option("path", out_dir).option(
        "checkpointLocation", ckpt
    ).outputMode("append").trigger(availableNow=True).start()
    _await(q)
    got = spark.read.parquet(out_dir).toPandas() if glob.glob(out_dir + "/*.parquet") else None
    # append mode emits only windows the watermark has passed: the
    # two 10:00 sessions close (watermark = 12:00 - 1h = 11:00); the
    # 12:00 session correctly stays open in state awaiting more data
    assert got is not None and len(got) == 2
    assert sorted(got.n_events) == [1, 2]


def test_stream_windowed_counts(spark, tmp_path):
    from ingestor_etl_spark.streaming.pipeline import stream_windowed_counts

    src_dir = tmp_path / "wc_events"
    df = spark.createDataFrame(
        [
            ("click", "2024-01-01 10:00:30"),
            ("click", "2024-01-01 10:02:00"),
            ("view", "2024-01-01 10:01:00"),
            ("click", "2024-01-01 10:07:00"),  # next 5-min window
            ("click", "2024-01-01 13:00:00"),  # advances watermark past 10:xx
        ],
        "event_type string, ts string",
    ).selectExpr("event_type", "cast(ts as timestamp) ts")
    df.write.parquet(str(src_dir))
    stream = spark.readStream.schema("event_type string, ts timestamp").parquet(
        str(src_dir)
    )
    counts = stream_windowed_counts(
        stream, window="5 minutes", watermark="1 hour", key_cols=["event_type"]
    )
    out_dir, ckpt = str(tmp_path / "wc_out"), str(tmp_path / "wc_ckpt")
    q = counts.writeStream.format("parquet").option("path", out_dir).option(
        "checkpointLocation", ckpt
    ).outputMode("append").trigger(availableNow=True).start()
    _await(q)
    got = spark.read.parquet(out_dir).toPandas()
    # watermark = 13:00 - 1h = 12:00 → all 10:xx windows emitted;
    # the 13:00 window stays open in state
    rows = {
        (r.event_type, str(r.win_start)[11:16]): r.n_events
        for r in got.itertuples()
    }
    assert rows == {
        ("click", "10:00"): 2,
        ("view", "10:00"): 1,
        ("click", "10:05"): 1,
    }


def test_stream_neardup_dedup(spark, tmp_path):
    from ingestor_etl_spark.streaming.pipeline import stream_neardup_dedup

    src_dir = tmp_path / "docs"
    rows = [
        (0, "2024-01-01 10:00:00", "alpha beta gamma delta epsilon zeta"),
        (1, "2024-01-01 10:01:00", "alpha beta gamma delta epsilon zeta"),  # dup
        (2, "2024-01-01 10:02:00", "totally different words entirely here now"),
        (3, "2024-01-01 10:03:00", "alpha beta gamma delta epsilon zeta"),  # dup
    ]
    spark.createDataFrame(rows, "doc_id long, ts string, text string").selectExpr(
        "doc_id", "cast(ts as timestamp) ts", "text"
    ).write.parquet(str(src_dir))
    stream = spark.readStream.schema("doc_id long, ts timestamp, text string").parquet(
        str(src_dir)
    )
    deduped = stream_neardup_dedup(stream, watermark="10 minutes")
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")
    q = deduped.writeStream.format("parquet").option("path", out_dir).option(
        "checkpointLocation", ckpt
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)
    got = spark.read.parquet(out_dir).toPandas()
    # one survivor per near-dup family; survivors keep their fields
    assert len(got) == 2
    assert len(set(got.minhash_sig)) == 2
    assert set(got.doc_id) <= {0, 1, 2, 3}


def _final_state_rows(query):
    """numRowsTotal of the state store from the last progress entry
    that carries state-operator metrics."""
    import json

    for p in reversed(query.recentProgress):
        d = json.loads(p.json) if hasattr(p, "json") else p
        ops = d.get("stateOperators") or []
        if ops:
            return sum(op.get("numRowsTotal", 0) for op in ops)
    return None


def test_sessionize_state_bounded_many_keys_and_batch_parity(spark, tmp_path):
    """Scale guard for §2.9 session windows: 200 users' worth of
    closed sessions must be EVICTED from state once the watermark
    passes (bounded state — the reference holds all of this in
    unbounded dicts), and the emitted set must equal the batch
    session_window aggregation restricted to watermark-closed
    windows (EOF-flush parity)."""
    src_dir = tmp_path / "many_users"
    rows = []
    for u in range(200):
        # two events 5 min apart → one session per user at 10:00
        rows.append((u, "2024-01-01 10:00:00"))
        rows.append((u, "2024-01-01 10:05:00"))
    rows.append((0, "2024-01-01 20:00:00"))  # watermark advancer
    df = spark.createDataFrame(rows, "user_id long, ts string").selectExpr(
        "user_id", "cast(ts as timestamp) ts"
    )
    df.write.parquet(str(src_dir))
    stream = spark.readStream.schema("user_id long, ts timestamp").parquet(
        str(src_dir)
    )
    sessions = stream_sessionize(stream, gap_seconds=1800)
    out_dir, ckpt = str(tmp_path / "sess_out"), str(tmp_path / "sess_ck")
    q = sessions.writeStream.format("parquet").option("path", out_dir).option(
        "checkpointLocation", ckpt
    ).outputMode("append").trigger(availableNow=True).start()
    _await(q)
    got = spark.read.parquet(out_dir).toPandas()
    # every 10:00 session closed (watermark = 20:00 - 1h = 19:00);
    # only user 0's 20:00 session stays open
    assert len(got) == 200
    assert sorted(got.n_events.unique()) == [2]
    # EOF-flush parity with the batch session_window aggregation
    batch = (
        df.groupBy(
            "user_id", F.session_window("ts", "1800 seconds").alias("session")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .where(F.col("session.end") <= F.lit("2024-01-01 19:00:00").cast("timestamp"))
        .toPandas()
    )
    assert sorted(zip(got.user_id, got.n_events)) == sorted(
        zip(batch.user_id, batch.n_events)
    )
    # bounded state: the 200 closed sessions are gone; only the open
    # 20:00 session (+ nothing else) may remain
    state_rows = _final_state_rows(q)
    assert state_rows is not None and state_rows <= 2, state_rows


def test_neardup_state_bounded_after_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark must evict signature state once
    the watermark passes: 120 distinct early docs may not linger in
    the store after a much-later doc advances the watermark, and
    every unique doc still reaches the sink exactly once (EOF-flush
    parity with batch exact-signature dedup)."""
    from ingestor_etl_spark.streaming.pipeline import stream_neardup_dedup

    src_dir = tmp_path / "docs_many"
    rows = []
    for i in range(120):
        rows.append((i, "2024-01-01 10:00:00", f"unique document number {i} words"))
    # 30 near-dup copies of one text inside the watermark window
    for j in range(30):
        rows.append((1000 + j, "2024-01-01 10:01:00", "same same same same same same"))
    rows.append((2000, "2024-01-01 20:00:00", "late advancer document entirely new"))
    src = spark.createDataFrame(
        rows, "doc_id long, ts string, text string"
    ).selectExpr("doc_id", "cast(ts as timestamp) ts", "text")
    src.write.parquet(str(src_dir))
    # batch ground truth: short synthetic texts can genuinely collide
    # in the 6-hash signature space, so the expected survivor count
    # is the batch-side distinct-signature count, not a literal
    from ingestor_etl_spark.queries.dedup_ops import (
        _SPARK_SHINGLES,
        _spark_minhash,
        SALTS,
    )

    n_families = (
        src.selectExpr("*", f"{_SPARK_SHINGLES} AS shingles")
        .selectExpr(
            "concat_ws(':', "
            + ", ".join(_spark_minhash(s) for s in SALTS)
            + ") AS minhash_sig"
        )
        .distinct()
        .count()
    )
    stream = spark.readStream.schema(
        "doc_id long, ts timestamp, text string"
    ).parquet(str(src_dir))
    deduped = stream_neardup_dedup(stream, watermark="10 minutes")
    out_dir, ckpt = str(tmp_path / "nd_out"), str(tmp_path / "nd_ck")
    q = deduped.writeStream.format("parquet").option("path", out_dir).option(
        "checkpointLocation", ckpt
    ).trigger(availableNow=True).start()
    _await(q)
    got = spark.read.parquet(out_dir).toPandas()
    # one survivor per signature family (batch parity)
    assert len(got) == n_families
    assert len(set(got.minhash_sig)) == n_families
    # state bounded by the watermark: the 121 early signatures are
    # evicted once the 20:00 doc advances the watermark past 10:0x
    state_rows = _final_state_rows(q)
    assert state_rows is not None and state_rows <= 2, state_rows


def test_stream_zscore_outliers_matches_integer_rule(spark, tmp_path):
    """Streaming z-score flags must match a python recompute of the
    batch integer decision rule on an in-order fixture (one file →
    one micro-batch → arrival order = event order)."""
    import math

    from ingestor_etl_spark.streaming.pipeline import stream_zscore_outliers

    # one user: 19 flat values then a spike, then more flat values
    rows = []
    vals = [10.0] * 12 + [10.5, 9.5] + [10.0] * 3 + [50.0] + [10.0] * 4
    for i, v in enumerate(vals):
        rows.append((i, 7, f"2024-01-01 10:{i:02d}:00", v))
    src_dir = tmp_path / "z_events"
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, value double"
    ).selectExpr("event_id", "user_id", "cast(ts as timestamp) ts", "value")
    df.coalesce(1).write.parquet(str(src_dir))
    stream = spark.readStream.schema(
        "event_id long, user_id long, ts timestamp, value double"
    ).parquet(str(src_dir))
    out = stream_zscore_outliers(stream, window=20, min_n=10, sigma=2)
    out_dir, ckpt = str(tmp_path / "z_out"), str(tmp_path / "z_ckpt")
    q = (
        out.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    got = (
        spark.read.parquet(out_dir).toPandas()
        if glob.glob(out_dir + "/*.parquet")
        else None
    )

    # python reference with the same integer rule
    cents = [int(round(v * 100)) for v in vals]
    expect = {}
    hist = []
    for i, c in enumerate(cents):
        hist.append(c)
        if len(hist) > 20:
            hist.pop(0)
        n, s, qq = len(hist), sum(hist), sum(x * x for x in hist)
        var_scaled = n * qq - s * s
        dev = c * n - s
        if n >= 10 and var_scaled > 0 and dev * dev > 4 * var_scaled:
            expect[i] = round(dev / math.sqrt(var_scaled), 4)
    assert expect, "fixture has no outlier"
    assert got is not None
    assert {int(r.event_id): r.z for r in got.itertuples()} == expect
    # the spike row must be among the flags
    assert vals.index(50.0) in expect


def test_stream_cms_cells_equal_batch_sketch(spark, tmp_path):
    """The streaming CMS snapshot must equal the batch sketch over
    the same data — mergeable bounded state (≤ depth×width rows)."""
    import hashlib

    from ingestor_etl_spark.streaming.pipeline import stream_cms_cells

    texts = [
        (1, "the cat sat on the mat"),
        (2, "the dog sat"),
        (3, "a cat and a dog"),
    ]
    src_dir = tmp_path / "cms_docs"
    spark.createDataFrame(texts, "doc_id long, text string").write.parquet(
        str(src_dir)
    )
    stream = spark.readStream.schema("doc_id long, text string").parquet(
        str(src_dir)
    )
    cells = stream_cms_cells(stream, depth=3, width=64)
    out_dir, ckpt = str(tmp_path / "cms_out"), str(tmp_path / "cms_ckpt")
    q = (
        cells.writeStream.format("memory")
        .queryName("cms_cells")
        .option("checkpointLocation", ckpt)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    got = {
        (r.j, r.bucket): r.cnt
        for r in spark.sql("SELECT * FROM cms_cells").collect()
    }
    expect: dict[tuple, int] = {}
    for _, t in texts:
        for w in t.strip().split():
            for j in range(3):
                b = int(hashlib.md5(f"{j}:{w}".encode()).hexdigest()[:8], 16) % 64
                expect[(j, b)] = expect.get((j, b), 0) + 1
    assert got == expect
    assert len(got) <= 3 * 64


def test_correlate_checkpoint_recovery_exactly_once(spark, tmp_path):
    """§2.9 recovery: stop stream_correlate_diameter after batch 1
    (requests parked in keyed state), RESTART against the same
    checkpoint with new source files, and demand (a) answers arriving
    after the restart still correlate with requests parked BEFORE it
    (state recovered, msisdn enriched from the pre-restart request),
    (b) no pre-restart output row is re-emitted (exactly-once), and
    (c) the union of both runs equals the single-run batch answer."""
    from ingestor_etl_spark.streaming.pipeline import stream_correlate_diameter

    src = tmp_path / "msgs"
    src.mkdir()
    schema = (
        "command_code long, hop_by_hop_id long, end_to_end_id long, "
        "session_id string, request boolean, ts timestamp, "
        "msisdn string, imsi string, result_code long"
    )

    def write_batch(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / name))

    t0 = __import__("datetime").datetime(2024, 1, 1, 10, 0, 0)

    def ts(s):
        return t0 + __import__("datetime").timedelta(seconds=s)

    # batch 1: key A = request only (parks in state), key B = full pair
    write_batch(
        "b1",
        [
            (272, 1, 1, "sessA", True, ts(0), "5215550001", "imsiA", None),
            (272, 2, 2, "sessB", True, ts(1), "5215550002", "imsiB", None),
            (272, 2, 2, "sessB", False, ts(2), None, None, 2001),
        ],
    )

    def run_once():
        stream = spark.readStream.schema(schema).option(
            "recursiveFileLookup", "true"
        ).parquet(str(src))
        pairs = stream_correlate_diameter(stream)
        q = (
            pairs.writeStream.format("parquet")
            .option("path", str(tmp_path / "out"))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        _await(q)

    run_once()  # ---- run 1: drained, then stopped; sessA request parked in state
    got1 = spark.read.parquet(str(tmp_path / "out")).toPandas()
    assert sorted(got1.session_id) == ["sessB"]
    assert got1.iloc[0].matched == "matched"

    # batch 2 lands while the stream is DOWN: the answer for the
    # parked sessA request + a fresh full pair
    write_batch(
        "b2",
        [
            (272, 1, 1, "sessA", False, ts(30), None, None, 2001),
            (272, 3, 3, "sessC", True, ts(31), "5215550003", "imsiC", None),
            (272, 3, 3, "sessC", False, ts(32), None, None, 5012),
        ],
    )

    run_once()  # ---- run 2: same checkpoint, must resume from state
    got2 = spark.read.parquet(str(tmp_path / "out")).toPandas()
    by_sess = got2.sort_values("session_id").set_index("session_id")
    # exactly-once: sessB appears ONCE (not re-emitted by run 2)
    assert list(by_sess.index) == ["sessA", "sessB", "sessC"]
    # state recovery: sessA matched, enriched from the PRE-restart request
    assert by_sess.loc["sessA"].matched == "matched"
    assert by_sess.loc["sessA"].msisdn == "5215550001"
    assert by_sess.loc["sessA"].result_code == 2001
    assert by_sess.loc["sessC"].matched == "matched"
    assert by_sess.loc["sessC"].result_code == 5012


def test_neardup_checkpoint_recovery_suppresses_across_restart(spark, tmp_path):
    """§2.9 recovery for stream_neardup_dedup: a near-duplicate
    arriving AFTER a restart must still be suppressed by the
    signature state written BEFORE it (dropDuplicatesWithinWatermark
    state survives the checkpoint), and pre-restart survivors must
    not be re-emitted."""
    from ingestor_etl_spark.streaming.pipeline import stream_neardup_dedup

    src = tmp_path / "docs"
    src.mkdir()
    schema = "doc_id long, ts timestamp, text string"

    def write_batch(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / name))

    t0 = __import__("datetime").datetime(2024, 1, 1, 10, 0, 0)

    def ts(s):
        return t0 + __import__("datetime").timedelta(seconds=s)

    def run_once():
        stream = spark.readStream.schema(schema).option(
            "recursiveFileLookup", "true"
        ).parquet(str(src))
        deduped = stream_neardup_dedup(stream, watermark="10 minutes")
        q = (
            deduped.writeStream.format("parquet")
            .option("path", str(tmp_path / "out"))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    write_batch(
        "b1",
        [
            (0, ts(0), "alpha beta gamma delta epsilon zeta"),
            (1, ts(10), "totally different words entirely here now"),
        ],
    )
    run_once()
    got1 = spark.read.parquet(str(tmp_path / "out")).toPandas()
    assert sorted(got1.doc_id) == [0, 1]

    # after the restart: one dup of doc 0 (inside the watermark) and
    # one genuinely new doc
    write_batch(
        "b2",
        [
            (2, ts(60), "alpha beta gamma delta epsilon zeta"),  # dup of 0
            (3, ts(70), "fresh unseen content streaming through here"),
        ],
    )
    run_once()
    got2 = spark.read.parquet(str(tmp_path / "out")).toPandas()
    # doc 2 suppressed by recovered signature state; 0/1 not re-emitted
    assert sorted(got2.doc_id) == [0, 1, 3]
