"""Golden tests: Diameter decode, reassembly, J1 correlation."""

from __future__ import annotations

import pytest

from ingestor_etl_spark.protocols.diameter import (
    correlate_diameter,
    decode_diameter,
    parse_message,
    stitch,
)
from ingestor_etl_spark.protocols.net import expand_l4
from ingestor_etl_spark.sources.pcap import read_pcap
from tests import pcapgen as g

SESSION = b"sess;1;42"


def _ccr(msisdn="5215550001", imsi="334020000000001"):
    return g.diameter_msg(
        272,
        True,
        hbh=0xAAAA0001,
        e2e=0xBBBB0001,
        avps=[
            g.diameter_avp(263, SESSION),
            g.diameter_avp(264, b"client.example"),
            g.diameter_avp(296, b"example"),
            g.diameter_avp(283, b"dest.example"),
            g.subscription_id(0, msisdn),
            g.subscription_id(1, imsi),
        ],
    )


def _cca(result=2001):
    import struct

    return g.diameter_msg(
        272,
        False,
        hbh=0xAAAA0001,
        e2e=0xBBBB0001,
        avps=[
            g.diameter_avp(263, SESSION),
            g.diameter_avp(264, b"server.example"),
            g.diameter_avp(268, struct.pack("!I", result)),
            g.diameter_avp(
                297,
                g.diameter_avp(298, struct.pack("!I", 5030)),
            ),
        ],
    )


def test_parse_message_fields():
    msg, consumed = parse_message(_ccr())
    assert consumed == len(_ccr())
    assert msg["request"] is True
    assert msg["command_code"] == 272
    assert msg["hop_by_hop_id"] == 0xAAAA0001
    assert msg["session_id"] == SESSION.decode()
    assert msg["origin_host"] == "client.example"
    assert msg["destination_realm"] == "dest.example"
    assert msg["msisdn"] == "5215550001"
    assert msg["imsi"] == "334020000000001"


def test_parse_message_answer_and_experimental_result():
    msg, _ = parse_message(_cca())
    assert msg["request"] is False
    assert msg["result_code"] == 2001
    assert msg["exp_result_code"] == 5030


def test_parse_nai_imsi_trim():
    m = g.diameter_msg(
        316, True, 1, 1, [g.diameter_avp(1, b"262011234567890@nai.epc.example")]
    )
    msg, _ = parse_message(m)
    assert msg["imsi"] == "262011234567890"


def test_parse_incomplete_signals_reassembly():
    buf = _ccr()[: len(_ccr()) // 2]
    msg, consumed = parse_message(buf)
    assert msg is None and consumed == -1


def _stitch_segments():
    """Frame-ordered (frame_no, ts_us, payload) of one stream: a CCR
    split over frames 1-2, its CCA in frame 2 too, a Device-Watchdog
    split over frames 3-4 with a whole CCR in frame 4, and the head
    of a CCA left incomplete in frame 5."""
    ccr, cca = _ccr(), _cca()
    dwr = g.diameter_msg(280, True, 5, 6, [g.diameter_avp(264, b"peer.example")])
    ccr2, cca2 = _ccr(msisdn="5215550002"), _cca(result=5012)
    payloads = [ccr[:30], ccr[30:] + cca, dwr[:10], dwr[10:] + ccr2, cca2[:25]]
    return [(i + 1, 1000 + i, p) for i, p in enumerate(payloads)], cca2[:25]


def test_stitch_frames_and_pending():
    segs, tail = _stitch_segments()
    messages, pending, pending_frames = stitch(segs)
    # fields[1] is command_code, fields[0] request
    got = [(frames, ts_us, fields[0], fields[1]) for frames, ts_us, fields in messages]
    assert got == [
        ([1, 2], 1001, True, 272),  # split across segments
        ([2], 1001, False, 272),  # second message of the same segment
        ([3, 4], 1003, True, 280),  # the watchdog is returned, dropped later
        ([4], 1003, True, 272),  # the watchdog's frame 3 does not leak
    ]
    assert (pending, pending_frames) == (tail, [5])  # incomplete: stays pending


@pytest.mark.parametrize("cut", range(6))
def test_stitch_resumes_from_pending_state(cut):
    """One call == two calls carrying (pending, pending_frames): the
    streaming decode resumes the batch walk from its keyed state."""
    segs, _ = _stitch_segments()
    whole = stitch(segs)
    first, pending, pending_frames = stitch(segs[:cut])
    second, pending, pending_frames = stitch(segs[cut:], pending, pending_frames)
    assert (first + second, pending, pending_frames) == whole


def test_stitch_file_matches_per_stream_stitch():
    """Batch decode walks a whole capture file in one group: streams
    interleaved in one file give the messages ``stitch`` gives each
    stream on its own."""
    from ingestor_etl_spark.protocols.diameter import stitch_file

    (segs, _), (other, _) = _stitch_segments(), _stitch_segments()
    ccr = _ccr(msisdn="5215550009")
    streams = {  # stream key (less file) → frame-ordered segments
        ("10.0.0.1", "10.0.0.2", 40001, 3868, 1, 0): segs,
        ("10.0.0.1", "10.0.0.2", 40001, 3868, 2, 0): other,
        ("10.0.0.3", "10.0.0.2", 50000, 3868, None, None): [(0, 0, ccr[:40]), (0, 0, ccr[40:])],
    }
    rows, frame_no = [], 0
    for i in range(5):  # renumbered round-robin: each stream's i-th segment in turn
        for key, stream in streams.items():
            if i < len(stream):
                frame_no += 1
                stream[i] = (frame_no, 1000 + frame_no, stream[i][2])
                rows.append((*key, *stream[i]))
    got = [("f", *r) for r in stitch_file(rows[::-1])]
    want = [
        ("f", fl, ts_us, key[0], key[1]) + fields
        for key, stream in streams.items()
        for fl, ts_us, fields in stitch(stream)[0]
    ]
    assert len(want) == 9
    assert sorted(got, key=repr) == sorted(want, key=repr)


@pytest.fixture(scope="module")
def diameter_capture(tmp_path_factory):
    """CCR/CCA over SCTP, a DWR (dropped), an unmatched request, and
    a TCP-segmented CCR split across two frames."""
    ccr, cca = _ccr(), _cca()
    dwr = g.diameter_msg(280, True, 5, 5, [g.diameter_avp(264, b"peer")])
    orphan = g.diameter_msg(272, True, 0xDEAD, 0xDEAD, [g.diameter_avp(263, b"orph")])
    split = g.diameter_msg(
        272, True, 0xCAFE, 0xCAFE, [g.diameter_avp(263, b"tcp;sess"), g.subscription_id(0, "5215550002")]
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
    p = tmp_path_factory.mktemp("diam") / "diameter.pcap"
    p.write_bytes(g.pcap(frames))
    return str(p)


def test_decode_diameter_end_to_end(spark, diameter_capture):
    msgs = decode_diameter(expand_l4(read_pcap(spark, diameter_capture)))
    out = msgs.toPandas().sort_values("hop_by_hop_id").reset_index(drop=True)
    # DWR dropped; 4 messages remain (ccr, cca, orphan, tcp-split)
    assert len(out) == 4
    assert set(out["command_code"]) == {272}
    split_row = out[out.hop_by_hop_id == 0xCAFE].iloc[0]
    assert list(split_row.frames_list) == [5, 6]  # R2 reassembly
    assert split_row.msisdn == "5215550002"
    # the CCR and its CCA share the hop-by-hop id: exactly one of each
    pair = out[out.hop_by_hop_id == 0xAAAA0001]
    assert sorted(pair.request) == [False, True]
    assert pair[pair.request].iloc[0].msisdn == "5215550001"


def test_correlate_diameter_j1(spark, diameter_capture):
    msgs = decode_diameter(expand_l4(read_pcap(spark, diameter_capture)))
    corr = correlate_diameter(msgs).toPandas()
    matched = corr[corr.matched]
    assert len(matched) == 1
    row = matched.iloc[0]
    # bidirectional enrichment: msisdn came from the request side,
    # result codes from the answer side
    assert row.msisdn == "5215550001"
    assert row.imsi == "334020000000001"
    assert row.result_code == 2001
    assert row.exp_result_code == 5030
    unmatched = corr[~corr.matched]
    assert len(unmatched) == 2  # orphan + tcp-split requests


def test_no_cross_file_stitching(spark, tmp_path):
    """Two captures with IDENTICAL flow tuples: the reassembly key
    includes the file, so each capture stitches independently (the
    per-file isolation the one-process-per-pcap reference gets
    implicitly)."""
    split = _ccr()
    half = len(split) // 2
    # file A carries only the first half; file B carries only the
    # second half on the same 5-tuple — neither must produce a row
    a = g.pcap([(1, 0, g.eth(g.ipv4(g.tcp(split[:half], 50000, 3868, seq=1, ack=1), 6)))])
    b = g.pcap([(1, 1, g.eth(g.ipv4(g.tcp(split[half:], 50000, 3868, seq=1 + half, ack=1), 6)))])
    (tmp_path / "a.pcap").write_bytes(a)
    (tmp_path / "b.pcap").write_bytes(b)
    msgs = decode_diameter(expand_l4(read_pcap(spark, str(tmp_path) + "/*.pcap")))
    assert msgs.count() == 0
    # sanity: the same two halves in ONE file do decode
    both = g.pcap(
        [
            (1, 0, g.eth(g.ipv4(g.tcp(split[:half], 50000, 3868, seq=1, ack=1), 6))),
            (1, 1, g.eth(g.ipv4(g.tcp(split[half:], 50000, 3868, seq=1 + half, ack=1), 6))),
        ]
    )
    (tmp_path / "c_only" ).mkdir()
    (tmp_path / "c_only" / "c.pcap").write_bytes(both)
    msgs2 = decode_diameter(expand_l4(read_pcap(spark, str(tmp_path / "c_only"))))
    assert msgs2.count() == 1
