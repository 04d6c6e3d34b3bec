"""Link / IP / L4 expansion: frames → one row per L4 payload unit.

Covers SURVEY §2.2 P1-P7: DLT dispatch (diameter.py:21-25),
EtherType filter (diameter.py:217-220), IPv4 parse
(diameter.py:224-239), L4 dispatch (diameter.py:247,341), TCP
flags/seq/ack (diameter.py:341-355), the SCTP DATA-chunk walk
(diameter.py:258-273) and the sigshark "flatten" pre-pass
(sigshark.py:141-204) — which collapses to emitting one row per
chunk right here instead of rewriting a pcap.

One ``map_rows`` pass per file partition; downstream protocol
filters (ports, PPID, flags) are native ``filter`` expressions, so
Catalyst prunes frames before any protocol UDF runs and column-prunes
the struct fields each protocol actually reads.

IPv4 fragments are NOT reassembled here — ``ip_id``/``more_frags``/
``frag_off`` are emitted so reassembly (R4) can be done per-protocol
exactly where the reference does it (sip_ingestor.py:166-184).
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql.functions import timestamp_micros, unix_micros
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ingestor_etl_spark.protocols import map_rows
from ingestor_etl_spark.sources.pcap import (
    DLT_EN10MB,
    DLT_ENC,
    DLT_LINUX_SLL,
    DLT_MTP3,
    DLT_NULL,
    DLT_SLL2,
)

PROTO_TCP = 6
PROTO_UDP = 17
PROTO_SCTP = 132

SEGMENT_SCHEMA = StructType(
    [
        StructField("file", StringType()),
        StructField("frame_no", LongType()),
        StructField("ts_us", LongType()),
        StructField("src_ip", StringType()),
        StructField("dst_ip", StringType()),
        StructField("ip_proto", IntegerType()),
        StructField("ip_id", IntegerType()),
        StructField("more_frags", IntegerType()),
        StructField("frag_off", IntegerType()),
        StructField("src_port", IntegerType()),
        StructField("dst_port", IntegerType()),
        StructField("tcp_flags", IntegerType()),
        StructField("tcp_seq", LongType()),
        StructField("tcp_ack", LongType()),
        StructField("sctp_sid", IntegerType()),
        StructField("sctp_ssn", IntegerType()),
        StructField("sctp_ppid", LongType()),
        StructField("payload", BinaryType()),
    ]
)


def strip_link(dlt: int, pkt: bytes) -> bytes | None:
    """DLT dispatch (P1 + S4): return the IPv4 datagram or None.

    Mirrors the reference's dlt_map predicates (diameter.py:21-25;
    gsm_map.py:15-20 adds raw MTP3, which net.py does NOT treat as
    IP — see protocols/gsm_map.py)."""
    if dlt == DLT_EN10MB:
        if len(pkt) < 14 or pkt[12:14] != b"\x08\x00":
            return None
        return pkt[14:]
    if dlt == DLT_NULL:
        return pkt[4:] if pkt[0:1] == b"\x02" else None
    if dlt == DLT_LINUX_SLL:
        return pkt[16:] if pkt[14:16] == b"\x08\x00" else None
    if dlt == DLT_SLL2:
        return pkt[20:] if pkt[0:2] == b"\x08\x00" else None
    if dlt == DLT_ENC:
        return pkt[12:]
    return None  # MTP3 and unknown DLTs carry no IP layer


def parse_ipv4(datagram: bytes) -> tuple | None:
    """IPv4 header → (src, dst, proto, ident, more_frags, frag_off,
    l4_bytes). P2 (diameter.py:224-239)."""
    if len(datagram) < 20 or datagram[0] >> 4 != 4:
        return None
    ihl = (datagram[0] & 0x0F) * 4
    total_len = struct.unpack("!H", datagram[2:4])[0]
    ident = struct.unpack("!H", datagram[4:6])[0]
    flags_frag = struct.unpack("!H", datagram[6:8])[0]
    proto = datagram[9]
    src = ".".join(str(b) for b in datagram[12:16])
    dst = ".".join(str(b) for b in datagram[16:20])
    end = min(total_len, len(datagram))
    return (
        src,
        dst,
        proto,
        ident,
        (flags_frag >> 13) & 1,
        (flags_frag & 0x1FFF) * 8,
        datagram[ihl:end],
    )


def iter_sctp_data_chunks(seg: bytes) -> Iterator[tuple[int, int, int, int, bytes]]:
    """SCTP common header + chunk walk → (sport, dport, sid, ssn,
    ppid, payload) per DATA chunk. Skips non-DATA; stops on
    INIT/INIT-ACK/SHUTDOWN like the reference (diameter.py:258-273).
    4-byte chunk padding applies to the chunk, not the last one's
    tail."""
    if len(seg) < 12:
        return
    sport, dport = struct.unpack("!HH", seg[0:4])
    pos = 12
    while pos + 4 <= len(seg):
        ctype = seg[pos]
        clen = struct.unpack("!H", seg[pos + 2 : pos + 4])[0]
        if clen < 4:
            break
        if ctype in (1, 2, 14):  # INIT / INIT-ACK / SHUTDOWN abort the walk
            break
        if ctype == 0 and clen >= 16:
            sid, ssn = struct.unpack("!HH", seg[pos + 8 : pos + 12])
            ppid = struct.unpack("!I", seg[pos + 12 : pos + 16])[0]
            yield sport, dport, sid, ssn, ppid, seg[pos + 16 : pos + clen]
        pos += (clen + 3) & ~3


def _expand_one(file: str, frame_no: int, ts_us: int, dlt: int, pkt: bytes):
    datagram = strip_link(dlt, bytes(pkt))
    if datagram is None:
        return
    parsed = parse_ipv4(datagram)
    if parsed is None:
        return
    src, dst, proto, ident, mf, foff, l4 = parsed
    base = (file, frame_no, ts_us, src, dst, proto, ident, mf, foff)
    if foff:  # non-first IPv4 fragment: no L4 header present
        yield base + (None, None, None, None, None, None, None, None, l4)
    elif proto == PROTO_TCP and len(l4) >= 20:
        sport, dport = struct.unpack("!HH", l4[0:4])
        seq, ack = struct.unpack("!II", l4[4:12])
        off = (l4[12] >> 4) * 4
        flags = l4[13]
        yield base + (sport, dport, flags, seq, ack, None, None, None, l4[off:])
    elif proto == PROTO_UDP and len(l4) >= 8:
        sport, dport = struct.unpack("!HH", l4[0:4])
        yield base + (sport, dport, None, None, None, None, None, None, l4[8:])
    elif proto == PROTO_SCTP:
        for sport, dport, sid, ssn, ppid, chunk in iter_sctp_data_chunks(l4):
            yield base + (sport, dport, None, None, None, sid, ssn, ppid, chunk)


def expand_l4(frames: DataFrame) -> DataFrame:
    """frames (from sources.pcap.read_pcap) → one row per TCP/UDP
    segment or SCTP DATA chunk, with ``ts`` re-attached as
    TIMESTAMP."""
    src = frames.select(
        "file", "frame_no", unix_micros("ts").alias("ts_us"), "dlt", "payload"
    ).where("error IS NULL" if "error" in frames.columns else "true")
    out = map_rows(src, SEGMENT_SCHEMA, _expand_one)
    return out.withColumn("ts", timestamp_micros("ts_us"))
