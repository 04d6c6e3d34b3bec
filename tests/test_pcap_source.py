"""Golden tests: pcap/pcapng container walk + L2-L4 expansion."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.errors import AnalysisException

from ingestor_etl_spark.protocols.net import expand_l4
from ingestor_etl_spark.sources.pcap import (
    iter_frames,
    iter_pcap_frames,
    iter_pcapng_frames,
    read_pcap,
)
from tests import pcapgen as g

UDP_PKT = g.eth(g.ipv4(g.udp(b"hello", 1111, 2222), 17))


def test_pcap_magic_and_frames():
    buf = g.pcap([(1700000000, 123456, UDP_PKT), (1700000001, 999999, UDP_PKT)])
    frames = list(iter_pcap_frames(buf))
    assert [f[0] for f in frames] == [1, 2]
    assert frames[0][1] == 1700000000_123456
    assert frames[1][1] == 1700000001_999999
    assert frames[0][2] == 1  # dlt EN10MB
    assert frames[0][4] == UDP_PKT


def test_pcap_nanosecond_truncation():
    buf = g.pcap([(1700000000, 123456789, UDP_PKT)], nsec=True)
    (frame,) = iter_frames(buf)
    assert frame[1] == 1700000000_123456  # ns → us truncation


def test_pcapng_blocks_and_tsresol():
    us = 1700000000_123456
    buf = g.pcapng([(us, UDP_PKT)])
    (frame,) = iter_pcapng_frames(buf)
    assert frame[1] == us
    # nanosecond interface (if_tsresol=9): still lands on microseconds
    buf9 = g.pcapng([(us, UDP_PKT)], tsresol=9)
    (frame9,) = iter_frames(buf9)
    assert frame9[1] == us
    assert frame9[4] == UDP_PKT


def test_read_pcap_dataframe(spark, tmp_path):
    p = tmp_path / "cap.pcap"
    p.write_bytes(g.pcap([(1700000000, 5, UDP_PKT)]))
    df = read_pcap(spark, str(p))
    rows = df.collect()
    assert len(rows) == 1
    assert rows[0].frame_no == 1
    assert rows[0].error is None
    assert bytes(rows[0].payload) == UDP_PKT


def test_read_pcap_bad_magic_error_row(spark, tmp_path):
    p = tmp_path / "junk.pcap"
    p.write_bytes(b"not a capture at all")
    rows = read_pcap(spark, str(p)).collect()
    assert len(rows) == 1
    assert rows[0].error is not None and "magic" in rows[0].error


@pytest.mark.parametrize(
    "layout",
    [
        ("a.pcap", "b.txt", ".c.pcap", "_d.pcap"),
        ("a.pcap", "sub/c.pcap"),
        ("a.pcap", "k=1/d.pcap"),
        ("a.pcap", "sub/c.pcap", "k=1/d.pcap"),
    ],
)
def test_read_pcap_glob_reads_only_matching_files(spark, tmp_path, layout):
    """``<dir>/*.pcap`` reads the matching files directly in ``<dir>``:
    not other or hidden names, not subdirectories, and not ``key=value``
    partition directories."""
    cap = g.pcap([(1700000000, 5, UDP_PKT)])
    for rel in layout:
        (tmp_path / rel).parent.mkdir(exist_ok=True)
        (tmp_path / rel).write_bytes(cap)
    rows = read_pcap(spark, str(tmp_path / "*.pcap")).collect()
    assert [r.file.rsplit("/", 1)[-1] for r in rows] == ["a.pcap"]


@pytest.mark.parametrize("layout", [("a.txt",), ("sub/c.pcap",)])
def test_read_pcap_glob_matching_nothing_fails(spark, tmp_path, layout):
    """A glob that names no file fails, also when only a subdirectory
    holds matching names."""
    for rel in layout:
        (tmp_path / rel).parent.mkdir(exist_ok=True)
        (tmp_path / rel).write_bytes(b"x")
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        read_pcap(spark, str(tmp_path / "*.pcap"))


def test_expand_l4_tcp_udp_sctp(spark, tmp_path):
    tcp_pkt = g.eth(g.ipv4(g.tcp(b"TCPDATA", 40000, 3868, seq=7, ack=9, flags=24), 6))
    sctp_pkt = g.eth(
        g.ipv4(g.sctp([(1, 10, 46, b"CHUNK-A"), (2, 11, 3, b"CHUNK-B")], 2905, 2905), 132)
    )
    control = g.eth(g.ipv4(g.sctp_control(1), 132))  # INIT → no rows
    arp = g.eth(b"\x00" * 28, ethertype=0x0806)  # dropped by P1
    p = tmp_path / "mix.pcap"
    p.write_bytes(
        g.pcap(
            [
                (1700000000, 1, tcp_pkt),
                (1700000000, 2, UDP_PKT),
                (1700000000, 3, sctp_pkt),
                (1700000000, 4, control),
                (1700000000, 5, arp),
            ]
        )
    )
    out = expand_l4(read_pcap(spark, str(p))).toPandas().sort_values(
        ["frame_no", "sctp_sid"]
    )
    assert list(out["frame_no"]) == [1, 2, 3, 3]
    t = out.iloc[0]
    assert (t.src_port, t.dst_port, t.tcp_flags, t.tcp_seq, t.tcp_ack) == (
        40000,
        3868,
        24,
        7,
        9,
    )
    assert bytes(t.payload) == b"TCPDATA"
    u = out.iloc[1]
    assert (u.src_port, u.dst_port) == (1111, 2222) and bytes(u.payload) == b"hello"
    chunks = out[out.frame_no == 3]
    assert list(chunks.sctp_sid) == [1, 2]
    assert list(chunks.sctp_ssn) == [10, 11]
    assert list(chunks.sctp_ppid) == [46, 3]
    assert [bytes(x) for x in chunks.payload] == [b"CHUNK-A", b"CHUNK-B"]
    assert pd.Timestamp(t.ts).timestamp() == 1700000000.000001


def test_ip_fragments_flagged(spark, tmp_path):
    first = g.eth(g.ipv4(g.udp(b"part1", 5060, 5060), 17, ident=42, more_frags=True))
    second = g.eth(g.ipv4(b"part2tail", 17, ident=42, frag_off=16))
    p = tmp_path / "frag.pcap"
    p.write_bytes(g.pcap([(1, 0, first), (1, 1, second)]))
    out = expand_l4(read_pcap(spark, str(p))).orderBy("frame_no").collect()
    assert out[0].more_frags == 1 and out[0].frag_off == 0 and out[0].ip_id == 42
    assert out[1].more_frags == 0 and out[1].frag_off == 16
    assert bytes(out[1].payload) == b"part2tail"
    assert out[1].src_port is None


def test_big_endian_pcap():
    """S1: byte-order sniffing — a big-endian writer's capture
    parses identically (diameter.py:99-109 endian dispatch)."""
    buf = g.pcap([(1700000000, 42, UDP_PKT)], big_endian=True)
    (frame,) = iter_frames(buf)
    assert frame[1] == 1700000000_000042
    assert frame[4] == UDP_PKT


def test_big_endian_pcapng():
    buf = g.pcapng([(1700000000_000042, UDP_PKT)], big_endian=True)
    (frame,) = iter_frames(buf)
    assert frame[1] == 1700000000_000042
    assert frame[4] == UDP_PKT


def test_pcapng_unknown_blocks_skipped():
    """Name-resolution / statistics blocks interleaved with packets
    are skipped, not fatal (diameter.py:489-561 only consumes block
    type 6)."""
    import struct as _s

    buf = g.pcapng([(1, UDP_PKT), (2, UDP_PKT)])
    # splice a Name Resolution Block (type 4) between SHB+IDB and packets
    # SHB(28) + IDB(20) for default builder
    nrb_body = b"\x00" * 8
    nrb = _s.pack("<II", 4, 12 + len(nrb_body)) + nrb_body + _s.pack("<I", 12 + len(nrb_body))
    spliced = buf[:48] + nrb + buf[48:]
    frames = list(iter_frames(spliced))
    assert [f[0] for f in frames] == [1, 2]


# ------------------------------------------------------------ fuzzing
from hypothesis import given, settings
from hypothesis import strategies as st

from ingestor_etl_spark.sources.pcap import parse_file_rows


@settings(max_examples=60, deadline=None)
@given(data=st.binary(min_size=0, max_size=400))
def test_parse_file_rows_never_raises_on_garbage(data):
    """Arbitrary bytes: the per-file parse must yield rows and stop,
    never raise — §2.8: malformed input is data. Either every row is
    a frame, or the tail row is a single error row."""
    rows = parse_file_rows("f", data)
    error_rows = [r for r in rows if r[6] is not None]
    assert len(error_rows) <= 1
    if error_rows:
        assert rows[-1][6] is not None  # error row is last
    for r in rows[:-1] if error_rows else rows:
        assert r[6] is None and isinstance(r[1], int)


@settings(max_examples=60, deadline=None)
@given(
    data=st.binary(min_size=0, max_size=400).map(
        lambda b: b"\xd4\xc3\xb2\xa1" + b
    )
)
def test_parse_file_rows_valid_magic_garbage_body(data):
    """A valid pcap magic followed by garbage: intact prefix frames
    plus at most one trailing error row, never an exception."""
    rows = parse_file_rows("f", data)
    assert len([r for r in rows if r[6] is not None]) <= 1


@settings(max_examples=40, deadline=None)
@given(cut=st.integers(min_value=1, max_value=200))
def test_truncated_valid_capture_never_raises(cut):
    """Every truncation point of a real capture parses the intact
    prefix frames and stops cleanly (no error row: a short tail is
    a truncated capture, not a malformed container)."""
    full = g.pcap([
        (1700, 0, g.eth(g.ipv4(g.udp(b"x" * 40, 1000, 2000), 17))),
        (1700, 1, g.eth(g.ipv4(g.udp(b"y" * 40, 1000, 2000), 17))),
    ])
    rows = parse_file_rows("f", full[: min(cut, len(full))])
    assert len([r for r in rows if r[6] is None]) <= 2


@settings(max_examples=40, deadline=None)
@given(cut=st.integers(min_value=1, max_value=250))
def test_truncated_pcapng_never_raises(cut):
    full = g.pcapng([(1_700_000_000, g.eth(g.ipv4(g.udp(b"z" * 30, 1, 2), 17)))])
    rows = parse_file_rows("f", full[: min(cut, len(full))])
    assert len([r for r in rows if r[6] is None]) <= 1
