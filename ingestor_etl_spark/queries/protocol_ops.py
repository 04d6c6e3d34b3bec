"""Protocol-pipeline demo queries — the SURVEY §2 decode surface,
registered for the driver's correctness gate.

The driver's tables carry no packet captures, so each query here
builds a DETERMINISTIC capture (ingestor_etl_spark.capturegen —
byte-identical every run), runs the full pipeline (source → decode
→ reassemble → correlate), and returns a stable projection. The
DuckDB oracles are golden-row VALUES relations: the expected output
of each pipeline, independently verified by the byte-level golden
tests in tests/test_{diameter,gtp,sip,smpp,gsm_map,http_sig}.py.

``sf_dir`` is accepted (driver contract) but unused — protocol
inputs are self-contained."""

from __future__ import annotations

import json
import os
import struct

from pyspark.sql import Window
from pyspark.sql import functions as F

from ingestor_etl_spark import capturegen as g
from ingestor_etl_spark.operators.transactions import tcap_transactions
from ingestor_etl_spark.protocols.cap import decode_cap, read_tshark_json
from ingestor_etl_spark.protocols import map_rows
from ingestor_etl_spark.protocols.diameter import correlate_diameter, decode_diameter, parse_message
from ingestor_etl_spark.protocols.gsm_map import decode_gsm_map
from ingestor_etl_spark.protocols.gtp import decode_gtp, enrich_gtp_transactions
from ingestor_etl_spark.protocols.http_sig import (
    extract_generic,
    extract_ocs,
    extract_ss7sms,
    http_messages,
    link_http,
)
from ingestor_etl_spark.protocols.net import expand_l4
from ingestor_etl_spark.protocols.sip import call_summary, decode_sip
from ingestor_etl_spark.protocols.smpp import decode_smpp, group_smpp_transactions
from ingestor_etl_spark.queries import fixture_dir, register
from ingestor_etl_spark.sources.pcap import read_pcap


def _demo_file(name: str, data: bytes) -> str:
    return os.path.join(fixture_dir("demo", {name: data}), name)


# ------------------------------------------------------------- fixtures
def _diameter_capture() -> str:
    sess = b"sess;demo;1"
    ccr = g.diameter_msg(
        272, True, hbh=0x1001, e2e=0x2001,
        avps=[
            g.diameter_avp(263, sess),
            g.diameter_avp(264, b"client.demo"),
            g.diameter_avp(296, b"demo.realm"),
            g.subscription_id(0, "5215550001"),
            g.subscription_id(1, "334020000000001"),
        ],
    )
    cca = g.diameter_msg(
        272, False, hbh=0x1001, e2e=0x2001,
        avps=[
            g.diameter_avp(263, sess),
            g.diameter_avp(264, b"server.demo"),
            g.diameter_avp(268, struct.pack("!I", 2001)),
            g.diameter_avp(297, g.diameter_avp(298, struct.pack("!I", 5030))),
        ],
    )
    dwr = g.diameter_msg(280, True, 5, 5, [g.diameter_avp(264, b"peer")])
    orphan = g.diameter_msg(
        272, True, 0x1002, 0x2002, [g.diameter_avp(263, b"orphan;sess")]
    )
    split = g.diameter_msg(
        272, True, 0x1003, 0x2003,
        [g.diameter_avp(263, b"tcp;sess"), g.subscription_id(0, "5215550002")],
    )
    half = len(split) // 2
    frames = [
        (1700, 1, g.eth(g.ipv4(g.sctp([(1, 0, 46, ccr)], 40001, 3868), 132))),
        (1700, 2, g.eth(g.ipv4(g.sctp([(1, 0, 46, dwr)], 40001, 3868), 132))),
        (1701, 0, g.eth(g.ipv4(g.sctp([(1, 0, 46, cca)], 3868, 40001), 132, src="10.0.0.2", dst="10.0.0.1"))),
        (1702, 0, g.eth(g.ipv4(g.sctp([(2, 0, 46, orphan)], 40001, 3868), 132))),
        (1703, 0, g.eth(g.ipv4(g.tcp(split[:half], 50000, 3868, seq=1, ack=1), 6))),
        (1703, 5, g.eth(g.ipv4(g.tcp(split[half:], 50000, 3868, seq=1 + half, ack=1), 6))),
    ]
    return _demo_file("diameter.pcap", g.pcap(frames))


def _gtp_capture() -> str:
    req = g.gtpv2(
        32, 0, 777,
        g.gtpv2_ie(1, g.tbcd("334020123456789")) + g.gtpv2_ie(76, g.tbcd("5215550100")),
    )
    res = g.gtpv2(33, 1, 777, g.gtpv2_ie(2, b"\x10\x00"))
    v1req = g.gtpv1(16, 9, 42, g.gtpv1_ie_tv(2, g.tbcd("334020999888777f")))
    frames = [
        (1800, 0, g.eth(g.ipv4(g.udp(req, 40000, 2123), 17))),
        (1800, 1, g.eth(g.ipv4(g.udp(res, 2123, 40000), 17, src="10.0.0.2", dst="10.0.0.1"))),
        (1800, 2, g.eth(g.ipv4(g.udp(v1req, 40000, 2123), 17))),
    ]
    return _demo_file("gtp.pcap", g.pcap(frames))


def _sip_capture() -> str:
    def invite(call_id, frm, to, sdp):
        lines = [
            f"INVITE sip:{to}@demo SIP/2.0",
            f"From: <sip:{frm}@demo>;tag=1",
            f"To: <sip:{to}@demo>",
            f"Call-ID: {call_id}",
        ]
        body = f"v=0\r\no=- {sdp[0]} {sdp[1]} IN IP4 10.1.1.1\r\n" if sdp else ""
        return ("\r\n".join(lines) + "\r\n\r\n" + body).encode()

    ok = (
        "SIP/2.0 200 OK\r\nCall-ID: call-a\r\nFrom: <sip:100@demo>;tag=1\r\n"
        "To: <sip:200@demo>;tag=2\r\n\r\n"
    ).encode()
    frames = [
        (1900, 0, g.eth(g.ipv4(g.udp(invite("call-a", "100", "200", (4242, 1)), 5060, 5060), 17))),
        (1900, 1, g.eth(g.ipv4(g.udp(ok, 5060, 5060), 17, src="10.0.0.2", dst="10.0.0.1"))),
        (1900, 2, g.eth(g.ipv4(g.udp(invite("call-b", "300", "400", None), 5060, 5060), 17))),
    ]
    return _demo_file("sip.pcap", g.pcap(frames))


def _smpp_capture() -> str:
    submit = g.smpp_pdu(0x4, 0, 7, g.smpp_submit_body("100", "200"))
    resp = g.smpp_pdu(0x80000004, 0, 7, b"ID\x00")
    deliver = g.smpp_pdu(0x5, 0, 8, g.smpp_submit_body("300", "400"))
    frames = [
        (2000, 0, g.eth(g.ipv4(g.tcp(submit, 40000, 2775, flags=24), 6))),
        (2000, 1, g.eth(g.ipv4(g.tcp(resp, 2775, 40000, flags=24), 6, src="10.0.0.2", dst="10.0.0.1"))),
        (2000, 2, g.eth(g.ipv4(g.tcp(deliver, 2775, 40000, flags=24), 6, src="10.0.0.2", dst="10.0.0.1"))),
    ]
    return _demo_file("smpp.pcap", g.pcap(frames))


def _gsm_map_capture() -> str:
    imsi = g.tbcd("334020123456789f")
    begin = g.tcap_msg(
        "begin", otid=0x11, components=[g.tcap_invoke(2, g.ber(0x30, g.ber(0x04, imsi)))]
    )
    cont = g.tcap_msg("continue", otid=0x99, dtid=0x11)
    end = g.tcap_msg("end", dtid=0x99, components=[g.tcap_return_result(2)])
    seg = g.tcap_msg(
        "begin", otid=0x55,
        components=[g.tcap_invoke(45, g.ber(0x30, g.ber(0x80, b"\x91" + g.tbcd("521555019900"))))],
    )
    half = len(seg) // 2
    frames = [
        (2100, 0, g.eth(g.ipv4(g.sctp([(0, 0, 3, g.m3ua(g.sccp_udt(begin)))], 2905, 2905), 132))),
        (2100, 1, g.eth(g.ipv4(g.sctp([(0, 1, 3, g.m3ua(g.sccp_udt(cont)))], 2905, 2905), 132, src="10.0.0.2", dst="10.0.0.1"))),
        (2100, 2, g.eth(g.ipv4(g.sctp([(0, 2, 3, g.m3ua(g.sccp_udt(end)))], 2905, 2905), 132))),
        (2100, 3, g.eth(g.ipv4(g.sctp([(0, 3, 3, g.m3ua(g.sccp_xudt(seg[:half], True, 1, 0x70001)))], 2905, 2905), 132))),
        (2100, 4, g.eth(g.ipv4(g.sctp([(0, 4, 3, g.m3ua(g.sccp_xudt(seg[half:], False, 0, 0x70001)))], 2905, 2905), 132))),
    ]
    return _demo_file("gsm_map.pcap", g.pcap(frames))


def _http_ocs_capture() -> str:
    body = (
        b'<mo-acr-request id="7"><msisdn>5215550001</msisdn>'
        b"<callactive>true</callactive><calling>100</calling>"
        b"<called>200</called></mo-acr-request>"
    )
    res_body = b'<mo-acr-response id="7"><result>0</result></mo-acr-response>'
    req = (
        b"POST /ocs HTTP/1.1\r\nContent-Length: " + str(len(body)).encode()
        + b"\r\nContent-Type: text/xml\r\n\r\n" + body
    )
    res = (
        b"HTTP/1.1 200 OK\r\nContent-Length: " + str(len(res_body)).encode()
        + b"\r\nContent-Type: text/xml\r\n\r\n" + res_body
    )
    cut = len(req) // 2
    frames = [
        (2200, 0, g.eth(g.ipv4(g.tcp(req[:cut], 45000, 8080, seq=1000, ack=555, flags=24), 6, src="10.1.1.1", dst="10.1.1.2"))),
        (2200, 1, g.eth(g.ipv4(g.tcp(req[cut:], 45000, 8080, seq=1000 + cut, ack=555, flags=24), 6, src="10.1.1.1", dst="10.1.1.2"))),
        (2200, 2, g.eth(g.ipv4(g.tcp(res, 8080, 45000, seq=555, ack=1000 + len(req), flags=24), 6, src="10.1.1.2", dst="10.1.1.1"))),
    ]
    return _demo_file("http_ocs.pcap", g.pcap(frames))


def _cap_json() -> str:
    pkts = [
        {
            "_source": {
                "layers": {
                    "frame.number": ["1"],
                    "frame.time_epoch": ["1700000000.123456789"],
                    "ip.src": ["10.5.5.1"],
                    "ip.dst": ["10.5.5.2"],
                    "camel.local": ["0"],
                    "tcap.otid": ["00a1b2c3"],
                    "m3ua.protocol_data_opc": ["301"],
                    "m3ua.protocol_data_dpc": ["302"],
                    "e164.msisdn": [" 5215550001 "],
                    "e212.imsi": ["334020123456789"],
                }
            }
        },
        {
            "_source": {
                "layers": {
                    "frame.number": ["2"],
                    "frame.time_epoch": ["1700000001.000001"],
                    "ip.src": ["10.5.5.2"],
                    "ip.dst": ["10.5.5.1"],
                    "camel.local": ["31"],
                    "tcap.dtid": ["00a1b2c3"],
                    "mtp3.opc": ["401"],
                    "mtp3.dpc": ["402"],
                }
            }
        },
    ]
    return _demo_file("cap.json", json.dumps(pkts, indent=1).encode())


# ------------------------------------------------------------- queries
@register(
    "pcap_diameter_correlated",
    oracle="""
    SELECT * FROM (VALUES
      (272, 4097, 8193, 'sess;demo;1', TRUE, '5215550001', '334020000000001', 2001, 5030),
      (272, 4098, 8194, 'orphan;sess', FALSE, CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS INTEGER), CAST(NULL AS INTEGER)),
      (272, 4099, 8195, 'tcp;sess', FALSE, '5215550002', CAST(NULL AS VARCHAR), CAST(NULL AS INTEGER), CAST(NULL AS INTEGER))
    ) AS t(command_code, hop_by_hop_id, end_to_end_id, session_id, matched,
           msisdn, imsi, result_code, exp_result_code)
    ORDER BY hop_by_hop_id
    """,
    tags=("protocol", "diameter", "pcap"),
)
def pcap_diameter_correlated(spark, sf_dir):
    """Full Diameter pipeline on a deterministic capture: pcap →
    SCTP/TCP segments → reassembled messages (R1/R2) → DWR drop →
    J1 full-outer correlation with bidirectional enrichment."""
    msgs = decode_diameter(expand_l4(read_pcap(spark, _diameter_capture())))
    corr = correlate_diameter(msgs)
    return corr.select(
        "command_code",
        "hop_by_hop_id",
        "end_to_end_id",
        "session_id",
        "matched",
        "msisdn",
        "imsi",
        "result_code",
        "exp_result_code",
    ).orderBy("hop_by_hop_id")


@register(
    "pcap_gtp_enriched",
    oracle="""
    SELECT * FROM (VALUES
      (1, 'create_pdp_context_request', 42, CAST(NULL AS INTEGER), '334020999888777', CAST(NULL AS VARCHAR)),
      (2, 'create_session_request', 777, CAST(NULL AS INTEGER), '334020123456789', '5215550100'),
      (2, 'create_session_response', 777, 16, '334020123456789', '5215550100')
    ) AS t(gtp_version, msg_name, seq, cause, imsi, msisdn)
    ORDER BY seq, msg_name
    """,
    tags=("protocol", "gtp", "pcap"),
)
def pcap_gtp_enriched(spark, sf_dir):
    """GTP v1+v2 decode + J2 seq-group identifier propagation."""
    msgs = decode_gtp(expand_l4(read_pcap(spark, _gtp_capture())))
    return enrich_gtp_transactions(msgs).select(
        "gtp_version", "msg_name", "seq", "cause", "imsi", "msisdn"
    ).orderBy("seq", "msg_name")


@register(
    "pcap_sip_calls",
    oracle="""
    SELECT * FROM (VALUES
      ('call-a', 2, 'INVITE', 200),
      ('call-b', 1, 'INVITE', CAST(NULL AS INTEGER))
    ) AS t(call_id, n_messages, methods, max_status)
    ORDER BY call_id
    """,
    tags=("protocol", "sip", "pcap"),
)
def pcap_sip_calls(spark, sf_dir):
    """SIP decode → per-call rollup (J5 call grouping)."""
    msgs = decode_sip(expand_l4(read_pcap(spark, _sip_capture())))
    return call_summary(msgs).select(
        "call_id",
        "n_messages",
        F.concat_ws(",", "methods").alias("methods"),
        "max_status",
    ).orderBy("call_id")


@register(
    "pcap_smpp_transactions",
    oracle="""
    SELECT * FROM (VALUES
      (7, 'submit_sm', FALSE, '100', '200', 2),
      (7, 'submit_sm_resp', TRUE, '100', '200', 2),
      (8, 'deliver_sm', FALSE, '300', '400', 1)
    ) AS t(sequence_number, command, is_response, source_addr, destination_addr, txn_size)
    ORDER BY sequence_number, command
    """,
    tags=("protocol", "smpp", "pcap"),
)
def pcap_smpp_transactions(spark, sf_dir):
    """SMPP PDU decode + J3 direction-normalized grouping."""
    msgs = decode_smpp(expand_l4(read_pcap(spark, _smpp_capture())))
    return group_smpp_transactions(msgs).select(
        "sequence_number", "command", "is_response", "source_addr",
        "destination_addr", "txn_size",
    ).orderBy("sequence_number", "command")


@register(
    "pcap_gsm_map_decoded",
    oracle="""
    SELECT * FROM (VALUES
      ('begin',    17, 17, CAST(NULL AS BIGINT), 2,  1, '334020123456789', CAST(NULL AS VARCHAR), 101, 202, '1'),
      ('continue', 153, 153, 17, CAST(NULL AS INTEGER), CAST(NULL AS INTEGER), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), 101, 202, '2'),
      ('end',      153, CAST(NULL AS BIGINT), 153, 2, 2, CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), 101, 202, '3'),
      ('begin',    85, 85, CAST(NULL AS BIGINT), 45, 1, CAST(NULL AS VARCHAR), '521555019900', 101, 202, '4 5')
    ) AS t(tcap_mess_type, tcap_tid, tcap_otid, tcap_dtid, gsm_op_code,
           gsm_component, imsi, msisdn, mtp3_opc, mtp3_dpc, frames)
    ORDER BY frames
    """,
    tags=("protocol", "ss7", "pcap"),
)
def pcap_gsm_map_decoded(spark, sf_dir):
    """GSM-MAP pipeline: M3UA → SCCP (XUDT reassembly, R3) → TCAP
    field extraction, frames_list in sink string form."""
    out = decode_gsm_map(expand_l4(read_pcap(spark, _gsm_map_capture())))
    return out.select(
        "tcap_mess_type", "tcap_tid", "tcap_otid", "tcap_dtid", "gsm_op_code",
        "gsm_component", "imsi", "msisdn", "mtp3_opc", "mtp3_dpc",
        F.concat_ws(" ", "frames_list").alias("frames"),
    ).orderBy("frames")


@register(
    "pcap_tcap_transactions",
    oracle="""
    SELECT * FROM (VALUES (17, 3, '1 2 3', 1, 1)) AS
    t(txn, n_messages, frames, has_begin, has_end)
    """,
    tags=("protocol", "ss7", "sessionize"),
)
def pcap_tcap_transactions(spark, sf_dir):
    """J6 over the decoded GSM-MAP stream: begin/continue/end
    assembled into one transaction via tid aliasing."""
    msgs = decode_gsm_map(expand_l4(read_pcap(spark, _gsm_map_capture())))
    tas = tcap_transactions(msgs)
    return tas.select(
        "txn", "n_messages", F.concat_ws(" ", "frames").alias("frames"),
        "has_begin", "has_end",
    ).orderBy("txn")


@register(
    "j7_display_filter",
    oracle="""
    SELECT * FROM (VALUES
      (17, 3, '1 2 3', 'imsi'),
      (17, 3, '1 2 3', 'newforms'),
      (85, 1, '4 5', 'opcode45')
    ) AS t(txn, n_messages, frames, matched_by)
    ORDER BY txn, matched_by
    """,
    tags=("protocol", "ss7", "filter"),
)
def j7_display_filter(spark, sf_dir):
    """J7 general form — wireshark display-filter STRINGS compiled
    to native Catalyst predicates (reference sigshark.py:557-576
    shells out to ``tshark -Y``; here the same syntax runs JVM-side,
    operators/displayfilter.py). Three filters over the same decoded
    stream: an IMSI-prefix filter selecting the complete 3-message
    transaction, an opcode filter selecting the XUDT-reassembled
    incomplete begin, and a combined form exercising the extended
    grammar (protocol presence + len() + slice) on the same
    transaction as the IMSI filter."""
    from ingestor_etl_spark.operators.displayfilter import compile_filter
    from ingestor_etl_spark.plans.layout import materialize

    # two filter branches × (transactions + messages) would otherwise
    # replicate the decode subtree 4× in one plan — materialize the
    # decoded stream once (the production shape: decode log persisted
    # between stages), and the assembled transactions once.
    msgs = materialize(
        decode_gsm_map(expand_l4(read_pcap(spark, _gsm_map_capture())))
    )
    tas = materialize(tcap_transactions(msgs, keep_incomplete=True))
    # Round 13 (guide §2.1): the three branches each re-ran the
    # filter→explode→dedup→semi-join→semi-join chain over the SAME
    # two cached relations (~15 tiny exchanges of KB data per run).
    # Fused into ONE pass: all three compiled predicates evaluate as
    # flag columns on one message scan, one per-frame max-flag
    # aggregate replaces the three dedups, one join against the
    # exploded transactions replaces the six semi-joins, and the
    # per-branch labels explode from the flag array. A transaction
    # row appears once per matching filter with the same label —
    # exactly the old 3-branch union's output.
    filters = (
        ("imsi", 'e212.imsi contains "33402"'),
        ("newforms", 'tcap && len(e212.imsi) == 15 && e212.imsi[0:2] == "33"'),
        ("opcode45", "gsm_old.localValue == 45"),
    )
    cols = set(msgs.columns)
    flag_cols = [
        compile_filter(e, cols).alias(f"f_{n}") for n, e in filters
    ]
    frame_col = (
        F.explode("frames_list").alias("frame_no")
        if "frames_list" in msgs.columns
        else F.col("frame_no")
    )
    fhit = (
        msgs.select("file", frame_col, *flag_cols)
        .groupBy("file", "frame_no")
        .agg(*[F.max(f"f_{n}").alias(f"f_{n}") for n, _ in filters])
    )
    ex = tas.select("file", "txn", F.explode("frames").alias("frame_no"))
    thit = (
        ex.join(fhit, ["file", "frame_no"])
        .groupBy("file", "txn")
        .agg(*[F.max(f"f_{n}").alias(f"f_{n}") for n, _ in filters])
    )
    labels = F.array_compact(
        F.array(*[
            F.when(F.col(f"f_{n}"), F.lit(n)) for n, _ in filters
        ])
    )
    hits = thit.select(
        "file", "txn", F.explode(labels).alias("matched_by")
    )
    return (
        tas.join(hits, ["file", "txn"])
        .select(
            "txn", "n_messages", F.concat_ws(" ", "frames").alias("frames"),
            "matched_by",
        )
        .orderBy("txn", "matched_by")
    )


@register(
    "pcap_http_ocs_linked",
    oracle="""
    SELECT * FROM (VALUES
      (TRUE, 'POST', 200, 'mo-acr-request', '5215550001', '100', '200', '1 2', 3),
      (FALSE, CAST(NULL AS VARCHAR), 200, 'mo-acr-response', '5215550001', '100', '200', '3', CAST(NULL AS BIGINT))
    ) AS t(http_is_request, method, status, type, msisdn, calling, called, frames, http_response_in)
    ORDER BY http_is_request DESC
    """,
    tags=("protocol", "http", "pcap"),
)
def pcap_http_ocs_linked(spark, sf_dir):
    """HTTP-OCS pipeline: R5/R6 reassembly + pairing, P31 XML
    extraction, J4 linking with pre-generated response ids (S9
    redesign) and bidirectional enrichment."""
    from ingestor_etl_spark.plans.layout import materialize

    # link_http's request/response columns and enrichment read the
    # decoded relation from several subtrees; persisted, the Arrow
    # decode chain runs once per execution.
    msgs = materialize(
        extract_ocs(
            http_messages(expand_l4(read_pcap(spark, _http_ocs_capture())))
        )
    )
    linked = link_http(msgs, enrich_cols=["msisdn", "calling", "called"])
    # Same partition key as link_http's pair window (pair_id is only
    # unique within a conversation anyway) — the status projection
    # reuses that exchange instead of re-shuffling on bare pair_id.
    status = F.max("http_response_code").over(
        Window.partitionBy("file", "a_ip", "a_port", "b_ip", "b_port", "pair_id")
    )
    return linked.select(
        "http_is_request",
        F.col("http_request_method").alias("method"),
        status.alias("status"),
        "type",
        "msisdn",
        "calling",
        "called",
        F.concat_ws(" ", "frames_list").alias("frames"),
        "http_response_in",
    ).orderBy(F.desc("http_is_request"))


@register(
    "tshark_cap_camel",
    oracle="""
    SELECT * FROM (VALUES
      (1, 'initialDP', 10597059, 10597059, 301, 302, '5215550001', '334020123456789'),
      (2, 'continue', 10597059, 10597059, 401, 402, CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR))
    ) AS t(frame_no, tcap_mess_type, tcap_tid, tid_check, mtp3_opc, mtp3_dpc, msisdn, imsi)
    ORDER BY frame_no
    """,
    tags=("protocol", "camel", "tshark-json"),
)
def tshark_cap_camel(spark, sf_dir):
    """CAP pipeline: tshark JSON export → native projections (S5 +
    P33), opc/dpc coalesce and initialDP tid rule."""
    out = decode_cap(read_tshark_json(spark, _cap_json()))
    return out.select(
        "frame_no", "tcap_mess_type", "tcap_tid",
        F.col("tcap_tid").alias("tid_check"),
        "mtp3_opc", "mtp3_dpc", "msisdn", "imsi",
    ).orderBy("frame_no")


def _http_generic_capture() -> str:
    camel_body = (
        b'<dialog localId="10" remoteId="20">'
        b'<initialDP_Request><imsi number="334020123456789"/></initialDP_Request>'
        b'<origAddress><gt digits="5215550001"/></origAddress>'
        b'<destAddress><gt digits="5215550002"/></destAddress></dialog>'
    )
    diam_body = (
        b"<diameter><e2e>42</e2e>"
        b'<avp code="263" value="sess;x"/><avp code="264" value="host.a"/>'
        b'<avp code="268" value="null"/><avp code="1" value="334020777"/></diameter>'
    )
    def post(path, body):
        return (
            b"POST " + path + b" HTTP/1.1\r\nContent-Length: "
            + str(len(body)).encode() + b"\r\nContent-Type: text/xml\r\n\r\n" + body
        )
    frames = [
        (2600, 0, g.eth(g.ipv4(g.tcp(post(b"/camel", camel_body), 46000, 8081, seq=10, ack=20, flags=24), 6))),
        (2600, 1, g.eth(g.ipv4(g.tcp(post(b"/diam", diam_body), 46002, 8081, seq=30, ack=40, flags=24), 6))),
    ]
    return _demo_file("http_generic.pcap", g.pcap(frames))


@register(
    "pcap_http_camel_diameter",
    oracle="""
    SELECT * FROM (VALUES
      ('CAMEL', '10', '20', '334020123456789', '5215550001', '5215550002',
       CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)),
      ('DIAMETER', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), '334020777',
       CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), '42', 'sess;x', '0')
    ) AS t(type, tcap_otid, tcap_dtid, imsi, camel_orig_address,
           camel_dest_address, diam_e2e_id, diam_session_id, diam_result_code)
    ORDER BY type
    """,
    tags=("protocol", "http", "xml-dialects"),
)
def pcap_http_camel_diameter(spark, sf_dir):
    """P30: the generic-HTTP XML extractor's CAMEL and DIAMETER
    dialects over one capture (dialect chosen per message by URI
    here; the reference takes it as a process argument)."""
    msgs = http_messages(expand_l4(read_pcap(spark, _http_generic_capture())))
    camel = extract_generic(msgs.where(F.col("http_request_uri").contains("/camel")), "CAMEL")
    diam = extract_generic(msgs.where(F.col("http_request_uri").contains("/diam")), "DIAMETER")
    cols = [
        "type", "tcap_otid", "tcap_dtid", "imsi", "camel_orig_address",
        "camel_dest_address", "diam_e2e_id", "diam_session_id", "diam_result_code",
    ]
    return camel.select(*cols).unionByName(diam.select(*cols)).orderBy("type")


def _http_ss7_capture() -> str:
    sms = (
        b"<smsmo><orig ton=\"1\">5215550011</orig><dest ton=\"1\">5215550022</dest>"
        b"<msc ton=\"1\">msc77</msc><imsi>334020111222333</imsi>"
        b"<smsSubmit><udhi>true</udhi></smsSubmit>"
        b"<sessionId>s-778</sessionId></smsmo>"
    )
    req = (
        b"POST /ss7 HTTP/1.1\r\nContent-Length: " + str(len(sms)).encode()
        + b"\r\nContent-Type: text/xml\r\n\r\n" + sms
    )
    frames = [(2700, 0, g.eth(g.ipv4(g.tcp(req, 47000, 8082, seq=5, ack=6, flags=24), 6)))]
    return _demo_file("http_ss7.pcap", g.pcap(frames))


@register(
    "pcap_http_ss7sms",
    oracle="""
    SELECT * FROM (VALUES
      ('smsmo', '5215550011', '5215550022', 'msc77', '334020111222333', 's-778', TRUE)
    ) AS t(type, msisdn_orig, msisdn_dest, msc, imsi, session_id, udhi)
    """,
    tags=("protocol", "http", "ss7-sms"),
)
def pcap_http_ss7sms(spark, sf_dir):
    """P32: SS7-SMS XML dialect (root-tag switch, udhi bool,
    sessionId) over the HTTP pipeline."""
    msgs = http_messages(expand_l4(read_pcap(spark, _http_ss7_capture())))
    return extract_ss7sms(msgs).select(
        "type", "msisdn_orig", "msisdn_dest", "msc", "imsi", "session_id", "udhi"
    )


@register(
    "pcap_diameter_transactions",
    oracle="""
    SELECT * FROM (VALUES
      (4097, 8193, 1, 1, '1 3'),
      (4098, 8194, 1, 0, '4'),
      (4099, 8195, 1, 0, '5 6')
    ) AS t(hop_by_hop_id, end_to_end_id, has_request, has_answer, frames)
    ORDER BY hop_by_hop_id
    """,
    tags=("protocol", "diameter", "sessionize"),
)
def pcap_diameter_transactions(spark, sf_dir):
    """sigshark's Diameter transaction grouping (J6 second half,
    sigshark.py:524-539): messages grouped by (hbh, e2e) with
    request/answer presence flags and member frames."""
    from ingestor_etl_spark.operators.transactions import diameter_transactions

    msgs = decode_diameter(expand_l4(read_pcap(spark, _diameter_capture())))
    tas = diameter_transactions(msgs)
    return tas.select(
        "hop_by_hop_id", "end_to_end_id", "has_request", "has_answer",
        F.concat_ws(" ", "frames").alias("frames"),
    ).orderBy("hop_by_hop_id")


def _sip_legs_capture() -> str:
    def invite(call_id, frm, to, sdp, src, dst):
        lines = [
            f"INVITE sip:{to}@demo SIP/2.0",
            f"From: <sip:{frm}@demo>;tag=1",
            f"To: <sip:{to}@demo>",
            f"Call-ID: {call_id}",
        ]
        body = f"v=0\r\no=- {sdp[0]} {sdp[1]} IN IP4 10.1.1.1\r\n"
        raw = ("\r\n".join(lines) + "\r\n\r\n" + body).encode()
        return g.eth(g.ipv4(g.udp(raw, 5060, 5060), 17, src=src, dst=dst))

    frames = [
        (2800, 0, invite("pm-1", "anonymous", "anonymous", (9001, 2), "10.9.9.1", "10.9.9.2")),
        (2800, 1, invite("ice-1", "5215550123", "5215550456", (9001, 2), "10.8.8.1", "10.8.8.2")),
    ]
    return _demo_file("sip_legs.pcap", g.pcap(frames))


@register(
    "pcap_sip_leg_rewrite",
    oracle="""
    SELECT * FROM (VALUES
      ('pm-1', '5215550123', 'anonymous', '5215550456', 'ice-1')
    ) AS t(call_id, from_user, from_original, to_user, peer_call_id)
    """,
    tags=("protocol", "sip", "leg-correlation"),
)
def pcap_sip_leg_rewrite(spark, sf_dir):
    """J5 cross-leg correlation: the anonymous PM-leg call gets its
    users rewritten from the ICE leg sharing the SDP owner key,
    originals preserved (sip_ingestor.py:398-433)."""
    from ingestor_etl_spark.protocols.sip import correlate_sip_legs

    msgs = decode_sip(expand_l4(read_pcap(spark, _sip_legs_capture())))
    out = correlate_sip_legs(msgs, ["10.9.9.1"], ["10.8.8.1"])
    return out.where(F.col("call_id") == "pm-1").select(
        "call_id", "from_user", "from_original", "to_user", "peer_call_id"
    )


@register(
    "pcap_flow_stats",
    oracle="""
    SELECT * FROM (VALUES
      ('10.0.0.1', '10.0.0.2', 6, 50000, 3868, 2, 76, 5, 6, 5),
      ('10.0.0.1', '10.0.0.2', 132, 40001, 3868, 3, 236, 1, 4, 1999999),
      ('10.0.0.2', '10.0.0.1', 132, 3868, 40001, 1, 92, 3, 3, 0)
    ) AS t(src_ip, dst_ip, ip_proto, src_port, dst_port,
           n_segments, n_bytes, first_frame, last_frame, duration_us)
    ORDER BY src_ip, ip_proto, src_port
    """,
    tags=("protocol", "flow", "pcap"),
)
def pcap_flow_stats(spark, sf_dir):
    """NetFlow-style flow accounting over a capture: per 5-tuple
    (src, dst, proto, sport, dport) segment/byte counts, frame span,
    and duration — the first rollup a capture-analytics user asks
    for and one the reference (per-protocol ingestors only) never
    provides. Pure groupBy over the L2-L4 expansion: one shuffle on
    the uniform flow key, map-side combined; at 100 TB of captures
    the flow key is the natural partitioning for every downstream
    protocol join. Byte counts are SCTP-chunk / TCP-segment payload
    bytes (post-IP-reassembly), matching what the decode stages
    consume."""
    segs = expand_l4(read_pcap(spark, _diameter_capture()))
    return (
        segs.groupBy("src_ip", "dst_ip", "ip_proto", "src_port", "dst_port")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_segments"),
            F.sum(F.length("payload")).cast("int").alias("n_bytes"),
            F.min("frame_no").cast("int").alias("first_frame"),
            F.max("frame_no").cast("int").alias("last_frame"),
            (F.max(F.unix_micros("ts")) - F.min(F.unix_micros("ts")))
            .cast("int")
            .alias("duration_us"),
        )
        .orderBy("src_ip", "ip_proto", "src_port")
    )


# ------------------------------------------------ tshark -Tfields surface
def _tshark_fields_capture() -> str:
    """Mixed SS7 + Diameter capture for the field-extraction surface:
    UDT with global-title addresses, a begin/end TCAP dialogue, an
    XUDT fragment pair, request/answer Diameter, and one frame
    carrying TWO Diameter messages (so the '-' occurrence aggregator
    is genuinely exercised)."""
    beg = g.tcap_msg(
        "begin", otid=0x11,
        components=[g.tcap_invoke(2, g.ber(0x30, g.ber(0x04, g.tbcd("334020123456789f"))))],
    )
    end = g.tcap_msg("end", dtid=0x11, components=[g.tcap_return_result(2)])
    seg = g.tcap_msg(
        "begin", otid=0x55,
        components=[g.tcap_invoke(45, g.ber(0x30, g.ber(0x80, b"\x91" + g.tbcd("521555019900"))))],
    )
    half = len(seg) // 2
    cg = g.sccp_gt_addr(8, "1234567")
    cd = g.sccp_gt_addr(6, "987654")
    ccr = g.diameter_msg(272, True, 0x1001, 0x2001, [g.diameter_avp(263, b"tf;1")])
    cca = g.diameter_msg(272, False, 0x1001, 0x2001, [g.diameter_avp(263, b"tf;1")])
    m1 = g.diameter_msg(272, True, 0x1002, 0x2002, [g.diameter_avp(263, b"tf;2")])
    m2 = g.diameter_msg(272, True, 0x1003, 0x2003, [g.diameter_avp(263, b"tf;3")])
    ssn9, ssn8 = b"\x42\x09", b"\x42\x08"  # clean SSN-only addresses
    frames = [
        (2300, 0, g.eth(g.ipv4(g.sctp([(0, 0, 3, g.m3ua(g.sccp_udt(beg, called=cd, calling=cg)))], 2905, 2905), 132))),
        (2300, 1, g.eth(g.ipv4(g.sctp([(0, 1, 3, g.m3ua(g.sccp_udt(end, called=ssn8, calling=ssn9)))], 2905, 2905), 132, src="10.0.0.2", dst="10.0.0.1"))),
        (2300, 2, g.eth(g.ipv4(g.sctp([(0, 2, 3, g.m3ua(g.sccp_xudt(seg[:half], True, 1, 0x70002, called=ssn8, calling=ssn9)))], 2905, 2905), 132))),
        (2300, 3, g.eth(g.ipv4(g.sctp([(0, 3, 3, g.m3ua(g.sccp_xudt(seg[half:], False, 0, 0x70002, called=ssn8, calling=ssn9)))], 2905, 2905), 132))),
        (2300, 4, g.eth(g.ipv4(g.sctp([(1, 0, 46, ccr)], 40001, 3868), 132))),
        (2300, 5, g.eth(g.ipv4(g.sctp([(1, 1, 46, cca)], 3868, 40001), 132, src="10.0.0.2", dst="10.0.0.1"))),
        (2300, 6, g.eth(g.ipv4(g.sctp([(1, 2, 46, m1), (1, 3, 46, m2)], 40001, 3868), 132))),
    ]
    return _demo_file("tshark_fields_a.pcap", g.pcap(frames))


_TSHARK_FIELDS_ORACLE = """
    SELECT * FROM (VALUES
      (CAST(1 AS BIGINT), CAST(2300000000 AS BIGINT), '10.0.0.1', '10.0.0.2',
       '8', '1234567', '6', '987654', NULL, '17', NULL,
       '1', CAST(NULL AS VARCHAR), NULL, CAST(NULL AS VARCHAR),
       NULL, NULL, NULL, '1'),
      (CAST(2 AS BIGINT), CAST(2300000001 AS BIGINT), '10.0.0.2', '10.0.0.1',
       '9', NULL, '8', NULL, NULL, NULL, '17',
       NULL, NULL, '1', NULL, NULL, NULL, NULL, '1'),
      (CAST(3 AS BIGINT), CAST(2300000002 AS BIGINT), '10.0.0.1', '10.0.0.2',
       '9', NULL, '8', NULL, '1', NULL, NULL,
       NULL, NULL, NULL, NULL, NULL, NULL, NULL, '1'),
      (CAST(4 AS BIGINT), CAST(2300000003 AS BIGINT), '10.0.0.1', '10.0.0.2',
       '9', NULL, '8', NULL, '1', NULL, NULL,
       NULL, NULL, NULL, NULL, NULL, NULL, NULL, '1'),
      -- rows 3-4: XUDT fragments — sccp.msg.fragment set, TCAP not
      -- dissected (mirrors the reference's SEGS skip)
      (CAST(5 AS BIGINT), CAST(2300000004 AS BIGINT), '10.0.0.1', '10.0.0.2',
       NULL, NULL, NULL, NULL, NULL, NULL, NULL,
       NULL, NULL, NULL, NULL, '1', '4097', '8193', '1'),
      (CAST(6 AS BIGINT), CAST(2300000005 AS BIGINT), '10.0.0.2', '10.0.0.1',
       NULL, NULL, NULL, NULL, NULL, NULL, NULL,
       NULL, NULL, NULL, NULL, '0', '4097', '8193', '1'),
      (CAST(7 AS BIGINT), CAST(2300000006 AS BIGINT), '10.0.0.1', '10.0.0.2',
       NULL, NULL, NULL, NULL, NULL, NULL, NULL,
       NULL, NULL, NULL, NULL, '1-1', '4098-4099', '8194-8195', '1')
    ) AS t(frame_number, time_epoch_us, ip_src, ip_dst,
           sccp_calling_ssn, sccp_calling_digits,
           sccp_called_ssn, sccp_called_digits, sccp_msg_fragment,
           tcap_otid, tcap_dtid, tcap_begin, tcap_continue, tcap_end,
           tcap_abort, diameter_flags_request, diameter_hopbyhopid,
           diameter_endtoendid, sctp)
    ORDER BY frame_number
"""


@register(
    "pcap_tshark_fields",
    oracle=_TSHARK_FIELDS_ORACLE,
    tags=("protocol", "pcap", "tshark", "fields"),
)
def pcap_tshark_fields(spark, sf_dir):
    """The tshark ``-Tfields -Eoccurrence=a -Eaggregator=-`` field
    extraction surface (S6: the reference shells out to tshark for a
    fixed 19-field per-frame projection — sigshark.py:380-429 — and
    the ingest loop consumes its CSV): one row per frame, one string
    column per field, multiple occurrences within a frame joined with
    '-' in chunk order. Produced from the engine's OWN decoders —
    SCCP party addresses (SSN + global-title digits, Q.713 walk),
    TCAP message-type presence markers + otid/dtid, Diameter header
    flags/ids — with no external tshark process.

    Plan: expand_l4 → per-frame SCCP rows (addresses ride along the
    existing segment walker) + a chunk-level Diameter header parse,
    each aggregated to frame granularity with sort_array(collect_list
    (struct(ssn, value))) → array_join('-') (the tshark aggregator,
    deterministic via SCTP stream sequence), then two left joins onto
    the frame spine. All joins are on frame_no — at capture scale
    this is the same one-shuffle-per-source shape as the decode
    pipelines."""
    from pyspark.sql.types import (
        LongType as _L,
        StringType as _S,
        StructField as _F,
        StructType as _T,
    )

    from ingestor_etl_spark.protocols.gsm_map import (
        _MESS_TYPES,
        _sccp_rows,
        _tid,
        ber_find,
    )

    path = _tshark_fields_capture()
    frames = read_pcap(spark, path)
    l4 = expand_l4(frames)
    from ingestor_etl_spark.plans.layout import materialize

    l4 = materialize(l4)

    # frame spine: one row per frame
    spine = (
        l4.groupBy("frame_no")
        .agg(
            F.min("ts_us").alias("time_epoch_us"),
            F.first("src_ip").alias("ip_src"),
            F.first("dst_ip").alias("ip_dst"),
            F.max(F.when(F.col("ip_proto") == 132, "1")).alias("sctp"),
        )
    )

    # SCCP side: addresses + segmentation + TCAP tag walk, per frame
    sccp = _sccp_rows(l4, None)

    _TCAP_SCHEMA = _T(
        [
            _F("frame_no", _L()),
            _F("sccp_calling_ssn", _S()),
            _F("sccp_calling_digits", _S()),
            _F("sccp_called_ssn", _S()),
            _F("sccp_called_digits", _S()),
            _F("sccp_msg_fragment", _S()),
            _F("tcap_otid", _S()),
            _F("tcap_dtid", _S()),
            _F("tcap_begin", _S()),
            _F("tcap_continue", _S()),
            _F("tcap_end", _S()),
            _F("tcap_abort", _S()),
        ]
    )

    def tcap_fields(frame_no, tcap_bytes, seg_ref, cg_ssn, cg_digits, cd_ssn, cd_digits):
        tb = tcap_bytes or b""
        mess = _MESS_TYPES.get(tb[0]) if tb else None
        # fragments carry no whole TCAP message — tshark leaves their
        # tcap fields empty (the reference skips them via the SEGS
        # column, sigshark.py:443-447)
        frag = "1" if seg_ref is not None else None
        otid = dtid = None
        marks = {"begin": None, "continue": None, "end": None, "abort": None}
        if frag is None and mess is not None:
            ot = ber_find(tb, 0x48)
            dt = ber_find(tb, 0x49)
            otid = str(_tid(ot)) if ot is not None else None
            dtid = str(_tid(dt)) if dt is not None else None
            if mess in marks:
                marks[mess] = "1"
        cg = str(cg_ssn) if cg_ssn is not None else None
        cd = str(cd_ssn) if cd_ssn is not None else None
        yield (
            frame_no, cg, cg_digits, cd, cd_digits, frag, otid, dtid,
            marks["begin"], marks["continue"], marks["end"], marks["abort"],
        )

    tcap = map_rows(
        sccp.select("frame_no", "tcap_bytes", "seg_ref", "cg_ssn", "cg_digits", "cd_ssn", "cd_digits"),
        _TCAP_SCHEMA,
        tcap_fields,
    )

    # Diameter side: per-chunk header parse → per-frame '-' aggregation
    _DIA_SCHEMA = _T(
        [
            _F("frame_no", _L()),
            _F("ord_key", _L()),
            _F("req", _S()),
            _F("hbh", _S()),
            _F("e2e", _S()),
        ]
    )

    def dia_fields(frame_no, sctp_ssn, payload):
        buf = payload or b""
        pos = 0
        while pos + 20 <= len(buf):
            msg, consumed = parse_message(buf[pos:])
            if msg is None or consumed <= 0:
                break
            yield (
                frame_no,
                sctp_ssn or 0,
                "1" if msg["request"] else "0",
                str(msg["hop_by_hop_id"]),
                str(msg["end_to_end_id"]),
            )
            pos += consumed

    dia_src = l4.where(
        (F.col("src_port") == 3868) | (F.col("dst_port") == 3868)
    ).select("frame_no", "sctp_ssn", "payload")
    dia = map_rows(dia_src, _DIA_SCHEMA, dia_fields)

    def _agg_join(col):
        # tshark -Eaggregator=-: occurrences in chunk order
        return F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("ord_key", F.col(col).alias("v")))),
                lambda s: s["v"],
            ),
            "-",
        ).alias(col)

    dia_agg = dia.groupBy("frame_no").agg(
        _agg_join("req"), _agg_join("hbh"), _agg_join("e2e")
    )

    return (
        spine.join(tcap, "frame_no", "left")
        .join(dia_agg, "frame_no", "left")
        .select(
            F.col("frame_no").alias("frame_number"),
            "time_epoch_us",
            "ip_src",
            "ip_dst",
            "sccp_calling_ssn",
            "sccp_calling_digits",
            "sccp_called_ssn",
            "sccp_called_digits",
            "sccp_msg_fragment",
            "tcap_otid",
            "tcap_dtid",
            "tcap_begin",
            "tcap_continue",
            "tcap_end",
            "tcap_abort",
            F.col("req").alias("diameter_flags_request"),
            F.col("hbh").alias("diameter_hopbyhopid"),
            F.col("e2e").alias("diameter_endtoendid"),
            "sctp",
        )
        .orderBy("frame_number")
    )
