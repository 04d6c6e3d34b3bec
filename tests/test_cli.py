"""CLI entry (`python -m ingestor_etl_spark`) — the reference's
per-protocol command-line ingestors (diameter.py:616-629 etc.) as
one command: capture glob → pipeline → table + ingestion ledger."""

from __future__ import annotations

import glob
import json
import os
import threading
import time

import pytest

from ingestor_etl_spark.__main__ import PROTOCOLS, main
from ingestor_etl_spark.sinks.ledger import current_ledger_state
from tests import pcapgen as g
from tests.test_diameter import _cca, _ccr


def test_cli_diameter_batch(spark, tmp_path):
    drop = tmp_path / "caps"
    drop.mkdir()
    ccr, cca = _ccr(), _cca()
    frames = [
        (2400, 0, g.eth(g.ipv4(g.sctp([(1, 0, 46, ccr)], 40001, 3868), 132))),
        (2401, 0, g.eth(g.ipv4(g.sctp([(1, 0, 46, cca)], 3868, 40001), 132,
                               src="10.0.0.2", dst="10.0.0.1"))),
    ]
    (drop / "cap1.pcap").write_bytes(g.pcap(frames))
    out, ledger = str(tmp_path / "table"), str(tmp_path / "ledger")

    rc = main([
        "--protocol", "diameter",
        "--input", str(drop) + "/*.pcap",
        "--out", out,
        "--ledger", ledger,
    ])
    assert rc == 0
    got = spark.read.parquet(out).toPandas()
    # req+ans merge into one correlated row (J1 full-outer)
    assert len(got) == 1 and bool(got.matched.all())
    state = current_ledger_state(spark, ledger).toPandas()
    assert len(state) == 1 and state.iloc[0].processed == 2


def test_cli_gtp_batch(spark, tmp_path):
    req = g.gtpv2(32, 0, 777, g.gtpv2_ie(1, g.tbcd("334020000000001")))
    res = g.gtpv2(33, 1, 777, g.gtpv2_ie(2, b"\x10\x00"))
    frames = [
        (1800, 0, g.eth(g.ipv4(g.udp(req, 40000, 2123), 17))),
        (1800, 1, g.eth(g.ipv4(g.udp(res, 2123, 40000), 17,
                               src="10.0.0.2", dst="10.0.0.1"))),
    ]
    drop = tmp_path / "caps2"
    drop.mkdir()
    (drop / "cap1.pcap").write_bytes(g.pcap(frames))
    out = str(tmp_path / "table2")
    rc = main([
        "--protocol", "gtp",
        "--input", str(drop) + "/*.pcap",
        "--out", out,
    ])
    assert rc == 0
    assert len(glob.glob(out + "/*.parquet")) >= 1
    assert spark.read.parquet(out).count() >= 1


def test_cli_gsm_map_raw_mtp3_capture(spark, tmp_path):
    """``--protocol gsm_map`` decodes a raw-MTP3 (DLT 141) capture,
    which has no L4 rows: one table row and one ledger row."""
    import struct

    word = (77 << 14) | 1234
    mtp3 = b"\x83" + struct.pack("!I", word)[::-1] + g.sccp_udt(
        g.tcap_msg("begin", otid=0xBB02)
    )
    drop = tmp_path / "caps"
    drop.mkdir()
    (drop / "mtp3.pcapng").write_bytes(g.pcapng([(1_700_000_002, mtp3)], dlt=141))
    out, ledger = str(tmp_path / "table"), str(tmp_path / "ledger")
    rc = main([
        "--protocol", "gsm_map",
        "--input", str(drop) + "/*.pcapng",
        "--out", out,
        "--ledger", ledger,
    ])
    assert rc == 0
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 1 and rows[0].tcap_otid == 0xBB02
    state = current_ledger_state(spark, ledger).toPandas()
    assert len(state) == 1 and state.iloc[0].processed == 1
    assert state.iloc[0].filename.endswith("/mtp3.pcapng")


def test_cli_query_mode_writes_parquet(spark, tmp_path):
    from ingestor_etl_spark.__main__ import main

    out = str(tmp_path / "card")
    assert main([
        "--query", "dataset_card",
        "--sf-dir", "/root/testdata/sf0.001",
        "--out", out,
    ]) == 0
    got = spark.read.parquet(out).collect()
    assert len(got) == 1 and got[0].n_docs == 500


def test_cli_list_queries(capsys):
    from ingestor_etl_spark.__main__ import main

    assert main(["--list-queries"]) == 0
    names = [l.split("\t")[0] for l in capsys.readouterr().out.splitlines()]
    assert "q1_pricing_summary" in names and "pagerank_dup_graph" in names


def test_cli_streaming_ingests_files_landed_after_start(spark, tmp_path):
    """``--streaming`` keeps running and picks up captures as they
    land: file B lands only after file A's ledger row, and both get
    their messages and a ledger row; the TCP-split request is
    stitched across frames 1-2."""
    ccr, cca = _ccr(), _cca()
    half = len(ccr) // 2
    capture = g.pcap([
        (2400, 0, g.eth(g.ipv4(g.tcp(ccr[:half], 40001, 3868, seq=1, ack=1), 6))),
        (2400, 1, g.eth(g.ipv4(g.tcp(ccr[half:], 40001, 3868, seq=1 + half, ack=1), 6))),
        (2401, 0, g.eth(g.ipv4(g.sctp([(1, 0, 46, cca)], 3868, 40001), 132,
                               src="10.0.0.2", dst="10.0.0.1"))),
    ])
    drop, staging = tmp_path / "drop", tmp_path / "staging"
    drop.mkdir()
    staging.mkdir()
    out, ledger = str(tmp_path / "table"), str(tmp_path / "ledger")
    argv = [
        "--protocol", "diameter", "--streaming",
        "--input", str(drop) + "/*.pcap",
        "--out", out,
        "--ledger", ledger,
        "--checkpoint", str(tmp_path / "ckpt"),
    ]
    before = {q.id for q in spark.streams.active}
    result: dict = {}

    def run():
        try:
            result["rc"] = main(argv)
        except Exception as exc:  # surfaced by the waits below
            result["exc"] = exc

    def land(name):
        (staging / name).write_bytes(capture)
        os.replace(staging / name, drop / name)  # atomic: never seen half-written

    def ledger_files():
        try:
            return {r.filename.rsplit("/", 1)[-1]: r.processed
                    for r in current_ledger_state(spark, ledger).collect()}
        except Exception:  # ledger not written yet
            return {}

    def wait_for(name, timeout=60):
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            assert "exc" not in result, result["exc"]
            if name in ledger_files():
                return
            time.sleep(0.25)
        raise AssertionError(f"no ledger row for {name} after {timeout} s")

    runner = threading.Thread(target=run, daemon=True)
    runner.start()
    try:
        land("a.pcap")
        wait_for("a.pcap")
        land("b.pcap")
        wait_for("b.pcap")
    finally:
        for q in spark.streams.active:
            if q.id not in before:
                q.stop()
        runner.join(30)
    assert result == {"rc": 0}
    assert ledger_files() == {"a.pcap": 2, "b.pcap": 2}
    got = spark.read.parquet(out).toPandas()
    got["name"] = got.file.str.rsplit("/", n=1).str[-1]
    assert sorted(got.name) == ["a.pcap", "a.pcap", "b.pcap", "b.pcap"]
    for _, req in got[got.request].iterrows():
        assert list(req.frames_list) == [1, 2]


@pytest.fixture(scope="module")
def capture_globs(tmp_path_factory):
    """One tiny capture per input kind: a pcap for the pcap protocols
    and a tshark JSON export for ``cap``."""
    d = tmp_path_factory.mktemp("analysis")
    (d / "x.pcap").write_bytes(g.pcap([(1, 0, g.eth(g.ipv4(g.udp(b"x", 1, 2), 17)))]))
    layers = {"frame.number": ["1"], "frame.time_epoch": ["1700000000.0"]}
    (d / "x.json").write_text(json.dumps([{"_source": {"layers": layers}}]))
    return {"pcap": str(d / "*.pcap"), "cap": str(d / "*.json")}


@pytest.mark.parametrize("protocol", PROTOCOLS)
def test_build_pipeline_analyzes(spark, capture_globs, protocol):
    """Every ``--protocol`` choice composes into frames Spark can
    analyze: both the table and the decode stage resolve."""
    from ingestor_etl_spark.__main__ import build_pipeline
    from ingestor_etl_spark.plans.layout import release_caches

    glob_ = capture_globs["cap" if protocol == "cap" else "pcap"]
    try:
        out, decoded = build_pipeline(spark, protocol, glob_)
        assert out.schema.fields and decoded.schema.fields
    finally:
        release_caches()


def _plan_nodes(plan) -> list[str]:
    """Node names of a logical plan, not descending into the cached
    plan an ``InMemoryRelation`` (a leaf) holds."""
    kids = plan.children()
    names = [plan.nodeName()]
    for i in range(kids.size()):
        names += _plan_nodes(kids.apply(i))
    return names


@pytest.mark.parametrize("protocol", PROTOCOLS)
def test_build_pipeline_decodes_once(spark, capture_globs, protocol):
    """The decode stage is persisted, and the ledger counters read its
    cache: no Python decode pass and no file scan outside it."""
    from ingestor_etl_spark.__main__ import build_pipeline
    from ingestor_etl_spark.plans.layout import release_caches
    from ingestor_etl_spark.sinks.ledger import file_counters

    glob_ = capture_globs["cap" if protocol == "cap" else "pcap"]
    try:
        _, decoded = build_pipeline(spark, protocol, glob_)
        assert decoded.is_cached
        nodes = _plan_nodes(file_counters(decoded)._jdf.queryExecution().optimizedPlan())
        assert "InMemoryRelation" in nodes, nodes
        python = {"MapInPandas", "FlatMapGroupsInPandas", "MapInArrow", "FlatMapGroupsInArrow"}
        assert not {*python, "LogicalRelation"} & set(nodes), nodes
    finally:
        release_caches()


def test_cli_cap_writes_table_once_and_ledger(spark, tmp_path):
    """``--protocol cap --ledger``: the table keeps the decode columns
    (no ``file``) and the ledger gets the export's one row."""
    from ingestor_etl_spark.protocols.cap import decode_cap, read_tshark_json
    from tests.test_cap import _pkt

    drop = tmp_path / "caps"
    drop.mkdir()
    (drop / "cap1.json").write_text(json.dumps([_pkt(1, "1700000000.5", 0, otid="00a1")]))
    out, ledger = str(tmp_path / "table"), str(tmp_path / "ledger")
    rc = main([
        "--protocol", "cap",
        "--input", str(drop / "*.json"),
        "--out", out,
        "--ledger", ledger,
    ])
    assert rc == 0
    table = spark.read.parquet(out)
    assert table.columns == decode_cap(read_tshark_json(spark, str(drop / "*.json"))).columns
    assert table.count() == 1
    state = current_ledger_state(spark, ledger).toPandas()
    assert len(state) == 1 and state.iloc[0].processed == 1
    assert state.iloc[0].filename.endswith("/cap1.json")


def test_cli_ledger_analysis_error_writes_no_table(spark, tmp_path, monkeypatch):
    """A ledger that cannot be built fails the run before the table
    write appends anything."""
    from pyspark.errors import AnalysisException

    import ingestor_etl_spark.__main__ as cli

    real = cli.build_pipeline

    def no_file_column(spark_, protocol, input_glob):
        out, decoded = real(spark_, protocol, input_glob)
        return out, decoded.drop("file")

    monkeypatch.setattr(cli, "build_pipeline", no_file_column)
    drop = tmp_path / "caps"
    drop.mkdir()
    (drop / "cap1.pcap").write_bytes(g.pcap([(1, 0, g.eth(g.ipv4(g.udp(b"x", 1, 2), 17)))]))
    out = tmp_path / "table"
    with pytest.raises(AnalysisException):
        main([
            "--protocol", "gtp",
            "--input", str(drop) + "/*.pcap",
            "--out", str(out),
            "--ledger", str(tmp_path / "ledger"),
        ])
    assert not out.exists()


def _http_ocs_drop(directory) -> str:
    """Two HTTP-OCS captures, each a split request and its response;
    returns their glob."""
    from tests.test_http_sig import OCS_XML, _flow, _http

    directory.mkdir()
    req = _http("POST /ocs HTTP/1.1", OCS_XML)
    res = _http("HTTP/1.1 200 OK", b'<mo-acr-response id="7"><result>0</result></mo-acr-response>')
    cut = len(req) // 2
    for name in ("a.pcap", "b.pcap"):
        (directory / name).write_bytes(g.pcap([
            _flow(req[:cut], (2200, 0), seq=1000, ack=555),
            _flow(req[cut:], (2200, 1), seq=1000 + cut, ack=555),
            _flow(res, (2200, 2), seq=555, ack=1000 + len(req), reverse=True),
        ]))
    return str(directory / "*.pcap")


def test_http_ocs_decode_stage_plan(spark, tmp_path):
    """The HTTP decode stage is one per-file reassembly shuffle: no
    broadcast join and no cache inside the persisted stage itself."""
    from ingestor_etl_spark.__main__ import build_pipeline
    from ingestor_etl_spark.plans.audit import executed_facts
    from ingestor_etl_spark.plans.layout import release_caches

    try:
        _, decoded = build_pipeline(spark, "http_ocs", _http_ocs_drop(tmp_path / "caps"))
        facts = executed_facts(decoded)
        assert decoded.count() == 4
    finally:
        release_caches()
    assert facts["exec_broadcasts"] == 0, facts
    assert facts["exec_cache_scans"] == 1, facts  # the decode stage's own cache
    assert facts["exec_exchanges"] == 1, facts


def test_cli_glob_input_logs_no_missing_file_warning(spark, tmp_path):
    """A ``<dir>/*.pcap`` ingest logs no FileNotFoundException for
    Spark's metadata probe of the literal glob, and the ledger names
    the files the glob names."""
    import subprocess
    import sys

    glob_ = _http_ocs_drop(tmp_path / "caps")
    out, ledger = str(tmp_path / "table"), str(tmp_path / "ledger")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "PYTHONPATH": repo, "SPARK_GRAFT_CPUS": "2", "SPARK_GRAFT_DRIVER_MEM": "1g"}
    proc = subprocess.run(
        [sys.executable, "-m", "ingestor_etl_spark", "--protocol", "http_ocs",
         "--input", glob_, "--out", out, "--ledger", ledger],
        cwd=str(tmp_path), env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "FileNotFoundException" not in proc.stderr, proc.stderr[-3000:]
    names = {r.filename for r in current_ledger_state(spark, ledger).collect()}
    globbed = {r.path for r in spark.read.format("binaryFile").load(glob_).select("path").collect()}
    assert names == globbed and len(names) == 2
    assert spark.read.parquet(out).count() == 4
