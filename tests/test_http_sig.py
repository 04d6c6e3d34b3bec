"""Golden tests: HTTP signaling reassembly, pairing, XML dialects."""

from __future__ import annotations

from ingestor_etl_spark.protocols.http_sig import (
    http_messages,
    extract_generic,
    extract_ocs,
    extract_ss7sms,
    link_http,
    pair_segments,
    parse_generic_body,
    parse_ocs_body,
    parse_ss7sms_body,
)
from ingestor_etl_spark.protocols.net import expand_l4
from ingestor_etl_spark.sources.pcap import read_pcap
from tests import pcapgen as g


def _http(first_line: str, body: bytes = b"", extra: str = "") -> bytes:
    hdr = first_line + "\r\n"
    if body:
        hdr += f"Content-Length: {len(body)}\r\nContent-Type: text/xml\r\n"
    hdr += extra + "\r\n"
    return hdr.encode() + body


OCS_XML = (
    b"<mo-acr-request id=\"7\"><msisdn>5215550001</msisdn>"
    b"<callactive>true</callactive><periodduration>30</periodduration>"
    b"<starttime>2024-01-01</starttime><starttime>2024-01-02</starttime>"
    b"<calling>100</calling><called>200</called></mo-acr-request>"
)


def test_parse_ocs_body():
    out = parse_ocs_body(OCS_XML.decode(), None)
    assert out["type"] == "mo-acr-request"
    assert out["operation_id"] == 7
    assert out["msisdn"] == "5215550001"
    assert out["call_active"] is True
    assert out["period_duration"] == 30
    assert out["start_time"] == "2024-01-01"  # first-of-list
    assert parse_ocs_body("<unknownop/>", None) == {}
    assert parse_ocs_body(None, "noContent") == {"type": "noContent"}


def test_parse_ss7sms_body():
    xml = (
        '<smsmo><orig ton="1">52155&amp;0001</orig>'
        f'<dest ton="1">{"9" * 40}</dest>'
        "<msc>mscA</msc><imsi>334020123456789</imsi>"
        "<smsSubmit><udhi>true</udhi></smsSubmit>"
        "<sessionId>abc123</sessionId></smsmo>"
    )
    out = parse_ss7sms_body(xml, None)
    assert out["type"] == "smsmo"
    assert out["msisdn_orig"] == "52155&0001"  # html.unescape
    assert out["msisdn_dest"] == "9" * 29 + "..."  # 32-char truncation
    assert out["udhi"] is True and out["session_id"] == "abc123"
    err = parse_ss7sms_body("<error><text>boom</text></error>", None)
    assert err["type"] == "error" and err["text"] == "boom"


def test_parse_generic_dialects():
    smpp = parse_generic_body(
        "<smpp><sequenceNumber>9</sequenceNumber><commandId>4</commandId>"
        "<sourceAddress><address>111</address></sourceAddress>"
        "<destAddress><address>222</address></destAddress></smpp>",
        None,
        "SMPP",
    )
    assert smpp["smpp_seq_number"] == "9"
    assert smpp["msisdn"] == "222"  # cmd 4 → msisdn = dst
    camel = parse_generic_body(
        '<dialog localId="10" remoteId="20">'
        '<initialDP_Request><imsi number="334567"/></initialDP_Request>'
        '<origAddress><gt digits="1234"/></origAddress></dialog>',
        None,
        "CAMEL",
    )
    assert (camel["tcap_otid"], camel["tcap_dtid"]) == ("10", "20")
    assert camel["imsi"] == "334567" and camel["camel_orig_address"] == "1234"
    # malformed-attribute quirk patch (http_ingestor.py:216-217)
    diam = parse_generic_body(
        '<diameter><e2e>42</e2e><avp code="268" value="null"/></diameter>',
        None,
        "DIAMETER",
    )
    assert diam["diam_e2e_id"] == "42" and diam["diam_result_code"] == "0"


def _flow(payload: bytes, frame_ts: tuple[int, int], seq: int, ack: int, reverse=False):
    src, dst = ("10.1.1.2", "10.1.1.1") if reverse else ("10.1.1.1", "10.1.1.2")
    sp, dp = (8080, 45000) if reverse else (45000, 8080)
    return (
        frame_ts[0],
        frame_ts[1],
        g.eth(g.ipv4(g.tcp(payload, sp, dp, seq=seq, ack=ack, flags=24), 6, src=src, dst=dst)),
    )


def test_http_pipeline_reassembly_pairing(spark, tmp_path):
    body = OCS_XML
    req = _http("POST /ocs HTTP/1.1", body)
    # split the request across two TCP segments (R5): continuation
    # has no start line and must claim the request side by ack key
    cut = len(req) // 2
    res_body = b"<mo-acr-response id=\"7\"><result>0</result></mo-acr-response>"
    res = _http("HTTP/1.1 200 OK", res_body)
    frames = [
        _flow(req[:cut], (2200, 0), seq=1000, ack=555),
        _flow(req[cut:], (2200, 1), seq=1000 + cut, ack=555),
        _flow(res, (2200, 2), seq=555, ack=1000 + len(req), reverse=True),
    ]
    p = tmp_path / "ocs.pcap"
    p.write_bytes(g.pcap([f for f in frames]))
    msgs = http_messages(expand_l4(read_pcap(spark, str(p))))
    out = extract_ocs(msgs)
    linked = link_http(out, enrich_cols=["msisdn", "calling", "called"]).toPandas()
    assert len(linked) == 2
    reqrow = linked[linked.http_is_request].iloc[0]
    assert list(reqrow.frames_list) == [1, 2]  # reassembled
    assert reqrow.http_request_method == "POST"
    assert reqrow.http_request_uri == "http://10.1.1.2:8080/ocs "
    assert reqrow.type == "mo-acr-request" and reqrow.msisdn == "5215550001"
    resrow = linked[~linked.http_is_request].iloc[0]
    assert resrow.http_response_code == 200
    assert resrow.type == "mo-acr-response" and resrow.result == 0
    # J4: request points at response's pre-generated id (frame 3)
    assert reqrow.http_response_in == resrow.http_id == 3
    # bidirectional enrichment: response inherited request's msisdn
    assert resrow.msisdn == "5215550001"


def test_http_pipeline_split_response(spark, tmp_path):
    """A response split over three TCP segments decodes, through the
    OCS extractor, as one row with its whole body."""
    req = _http("POST /ocs HTTP/1.1", OCS_XML)
    res = _http("HTTP/1.1 200 OK", b"<mo-acr-response id=\"7\"><result>0</result></mo-acr-response>")
    cuts = [0, 30, len(res) - 20, len(res)]
    frames = [_flow(req, (2200, 0), seq=1000, ack=555)] + [
        _flow(res[a:b], (2200, 1 + i), seq=555 + a, ack=1000 + len(req), reverse=True)
        for i, (a, b) in enumerate(zip(cuts, cuts[1:]))
    ]
    p = tmp_path / "split.pcap"
    p.write_bytes(g.pcap(frames))
    rows = extract_ocs(http_messages(expand_l4(read_pcap(spark, str(p))))).collect()
    (resrow,) = [r for r in rows if not r.http_is_request]
    assert list(resrow.frames_list) == [2, 3, 4]
    assert resrow.type == "mo-acr-response" and resrow.result == 0


def test_http_nocontent_and_dialects(spark, tmp_path):
    req = _http("GET /ping HTTP/1.1")  # no Content-Length → noContent
    sms = (
        "<smsmt><imsi>33401</imsi><msc ton=\"1\">mscB</msc>"
        "<orig ton=\"1\">111</orig><smsDeliver><udhi>false</udhi></smsDeliver></smsmt>"
    ).encode()
    req2 = _http("POST /ss7 HTTP/1.1", sms)
    frames = [
        _flow(req, (2300, 0), seq=1, ack=1),
        _flow(req2, (2300, 1), seq=500, ack=900),
    ]
    p = tmp_path / "ss7http.pcap"
    p.write_bytes(g.pcap(frames))
    msgs = http_messages(expand_l4(read_pcap(spark, str(p))))
    out = extract_ss7sms(msgs).toPandas().sort_values("http_id" if "http_id" in [] else "tcp_sequence")
    assert len(out) == 2
    nocontent = out[out.type == "noContent"].iloc[0]
    assert nocontent.http_request_method == "GET"
    smsrow = out[out.type == "smsmt"].iloc[0]
    assert smsrow.imsi == "33401" and smsrow.msc == "mscB" and smsrow.udhi == False  # noqa: E712


def test_http_malformed_messages_become_rows(spark, tmp_path):
    """Under ANSI mode (Spark's default) a malformed message is a row
    with NULL fields, not a failed job: a Content-Length header with no
    blank line, a start line that is only ``HTTP/1.1``, and a
    Content-Length that overflows an int."""
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    cases = {
        "no_blank_line": _flow(b"POST /ocs HTTP/1.1\r\nContent-Length: 5\r\n", (2500, 0), seq=1, ack=1),
        "bare_version": _flow(b"HTTP/1.1\r\n\r\n", (2500, 0), seq=1, ack=1),
        "huge_length": _flow(
            b"HTTP/1.1 200 OK\r\nContent-Length: 99999999999\r\n\r\nabc",
            (2500, 0), seq=1, ack=1, reverse=True,
        ),
    }
    for name, frame in cases.items():
        (tmp_path / f"{name}.pcap").write_bytes(g.pcap([frame]))
    msgs = http_messages(expand_l4(read_pcap(spark, str(tmp_path / "*.pcap"))))
    got = msgs.collect()
    rows = {r.file.rsplit("/", 1)[-1][: -len(".pcap")]: r for r in got}
    assert len(got) == len(cases) and sorted(rows) == sorted(cases)
    no_blank = rows["no_blank_line"]
    assert no_blank.http_request_method == "POST"
    assert no_blank.http_content_length == 5 and no_blank.body is None
    bare = rows["bare_version"]
    assert bare.http_is_request and bare.http_request_uri is None
    huge = rows["huge_length"]
    assert huge.http_response_code == 200 and huge.http_content_length is None
    assert huge.body == ""


CLIENT, SERVER = ("10.1.1.1", 45000), ("10.1.1.2", 8080)


def _seg(frame_no, side, seq, ack, payload, reverse=False):
    """One ``SEGMENT_COLS`` tuple, client → server unless ``reverse``."""
    (src, sport), (dst, dport) = (SERVER, CLIENT) if reverse else (CLIENT, SERVER)
    return (frame_no, 1000 + frame_no, src, sport, dst, dport, seq, ack, side, payload)


def _groups(rows):
    """pair_segments output keyed by (side, pair_id) → (frames, payload)."""
    return {(r[5], r[4]): (r[6], r[10]) for r in pair_segments(rows)}


def test_pair_segments_continuation_claimed_by_ack():
    rows = pair_segments([_seg(1, "req", 1000, 555, b"POST /a"), _seg(2, None, 1007, 555, b"BODY")])
    assert rows == [(*CLIENT, *SERVER, 555, "req", [1, 2], 1001, 1000, 555, b"POST /aBODY")]


def test_pair_segments_retransmission_keeps_first_frame():
    # the retransmitted continuation (frame 3) arrives first
    rows = [_seg(3, None, 1007, 555, b"BODY"), _seg(1, "req", 1000, 555, b"POST /a"),
            _seg(2, None, 1007, 555, b"BODY")]
    assert _groups(rows) == {("req", 555): ([1, 2], b"POST /aBODY")}


def test_pair_segments_pipelined_requests_sharing_ack_merge():
    rows = [_seg(1, "req", 1000, 555, b"GET /a"), _seg(2, "req", 1006, 555, b"GET /b")]
    assert _groups(rows) == {("req", 555): ([1, 2], b"GET /aGET /b")}


def test_pair_segments_drops_unclaimed_continuation():
    """A continuation joins only the message it continues in sequence
    on its own 4-tuple: a gap, the reversed flow or no start at all
    leave it unclaimed."""
    rows = [
        _seg(1, "req", 1000, 555, b"POST /a"),
        _seg(2, None, 1100, 555, b"gap"),
        _seg(3, None, 1007, 555, b"stray", reverse=True),
    ]
    assert _groups(rows) == {("req", 555): ([1], b"POST /a")}
    assert pair_segments([_seg(1, None, 1, 2, b"orphan")]) == []


def test_pair_segments_continuation_joins_by_sequence_not_key():
    """A continuation whose request key and response key both match a
    start joins neither unless it continues one's bytes; the one at
    the response start's seq + length joins the response."""
    rows = [
        _seg(1, "req", 1000, 555, b"POST /a"),
        _seg(2, "res", 777, 9, b"HTTP/1.1 200 OK"),  # also client → server
        _seg(3, None, 777, 555, b"BODY"),
        _seg(4, None, 792, 555, b"TAIL"),
    ]
    assert _groups(rows) == {
        ("req", 555): ([1], b"POST /a"),
        ("res", 777): ([2, 4], b"HTTP/1.1 200 OKTAIL"),
    }


def test_pair_segments_split_response_keeps_whole_body():
    """A response split over three segments comes back as one message
    with the whole body, in any row order; its continuations carry
    their own seq, not the response key's."""
    req = b"POST /a HTTP/1.1\r\nContent-Length: 0\r\n\r\n"
    res = b"HTTP/1.1 200 OK\r\nContent-Length: 12\r\n\r\n<mo-acr-ok/>"
    parts = [res[:20], res[20:41], res[41:]]
    rows = [_seg(1, "req", 1000, 555, req)]
    seq = 555
    for i, part in enumerate(parts):
        rows.append(_seg(2 + i, "res" if i == 0 else None, seq, 1000 + len(req), part, reverse=True))
        seq += len(part)
    for order in (rows, rows[::-1]):
        assert _groups(order) == {("req", 555): ([1], req), ("res", 555): ([2, 3, 4], res)}


def test_pair_segments_request_continuation_beside_its_response():
    """The normal exchange: the response's start key (reversed flow,
    its seq) equals the request's (flow, its ack), and the request's
    continuation still joins the request, whatever the row order."""
    req, res = b"POST /a", b"HTTP/1.1 200 OK"
    rows = [
        _seg(1, "req", 1000, 555, req),
        _seg(2, None, 1000 + len(req), 555, b"BODY"),
        _seg(3, "res", 555, 1011, res, reverse=True),
    ]
    for order in (rows, rows[::-1]):
        out = pair_segments(order)
        assert [r[:5] for r in out] == [(*CLIENT, *SERVER, 555)] * 2
        assert _groups(order) == {("req", 555): ([1, 2], req + b"BODY"), ("res", 555): ([3], res)}
