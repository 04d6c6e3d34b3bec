"""PCAP / PCAPNG → frames DataFrame (SURVEY §2.1 S1-S4).

The reference sniffs the 4-byte magic to pick classic-pcap vs
pcapng and endianness (diameter.py:99-109), then iterates 16-byte
record headers (diameter.py:433-452) or walks pcapng blocks
(diameter.py:489-561) extracting the DLT and the ``if_tsresol``
option. Here the same byte-level walk runs *inside Spark*: files
arrive via the built-in ``binaryFile`` source (one row per capture
file, content as BINARY) and ``protocols.map_rows`` runs the walk
on each file's row, one row out per frame (on Arrow batches; the walk
sees plain ``bytes``).

Scale design: packet-capture records are not splittable without an
index, so the unit of parallelism is the FILE — exactly the
reference's one-process-per-pcap model (models.py:257-263), except
Spark schedules thousands of files across executors. The
downstream reassembly stages (Diameter, HTTP) keep that unit: they
shuffle by file and walk each capture in one Python group, as the
reference does, so one giant file is one task there too and they use
every core only when there are at least as many files as cores;
per-row decoders and the correlation joins are not bound to it.
``binaryFile`` prunes on path glob + pushes down
``modificationTime``/``length`` filters; frame payloads stay packed
in Arrow buffers end-to-end.

The record-level parser is a plain generator over ``bytes`` —
unit-testable without Spark (tests/test_pcap_source.py).
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ingestor_etl_spark.protocols import map_rows

# Classic-pcap magics (S1). The byte order of the *file header*
# encodes the writer's endianness; 0xA1B23C4D variants store
# nanosecond fractions.
_PCAP_MAGICS = {
    b"\xa1\xb2\xc3\xd4": (">", 1_000_000),  # big-endian, usec
    b"\xd4\xc3\xb2\xa1": ("<", 1_000_000),  # little-endian, usec
    b"\xa1\xb2\x3c\x4d": (">", 1_000_000_000),  # big-endian, nsec
    b"\x4d\x3c\xb2\xa1": ("<", 1_000_000_000),  # little-endian, nsec
}
_PCAPNG_MAGIC = b"\x0a\x0d\x0d\x0a"

# DLT → name, for diagnostics (S4). Header-length dispatch happens
# in protocols/net.py where the bytes are actually consumed.
DLT_NULL = 0
DLT_EN10MB = 1
DLT_ENC = 109
DLT_LINUX_SLL = 113
DLT_MTP3 = 141
DLT_SLL2 = 276

FRAME_SCHEMA = StructType(
    [
        StructField("file", StringType()),
        StructField("frame_no", LongType()),  # 1-based within file
        StructField("ts_us", LongType()),  # epoch microseconds
        StructField("dlt", IntegerType()),
        StructField("orig_len", IntegerType()),
        StructField("payload", BinaryType()),
        StructField("error", StringType()),
    ]
)


def iter_pcap_frames(data: bytes) -> Iterator[tuple[int, int, int, int, bytes]]:
    """Yield ``(frame_no, ts_us, dlt, orig_len, payload)`` from a
    classic pcap buffer. Fractional seconds beyond microseconds are
    truncated (the reference truncates usec strings to 6 digits,
    diameter.py:444-447)."""
    endian, frac_unit = _PCAP_MAGICS[data[0:4]]
    dlt = struct.unpack(endian + "I", data[20:24])[0]
    pos, frame_no = 24, 0
    n = len(data)
    rec = struct.Struct(endian + "4I")
    while pos + 16 <= n:
        ts_sec, ts_frac, incl_len, orig_len = rec.unpack_from(data, pos)
        pos += 16
        if pos + incl_len > n:
            break  # truncated capture tail
        frame_no += 1
        ts_us = ts_sec * 1_000_000 + ts_frac * 1_000_000 // frac_unit
        yield frame_no, ts_us, dlt, orig_len, data[pos : pos + incl_len]
        pos += incl_len


def iter_pcapng_frames(data: bytes) -> Iterator[tuple[int, int, int, int, bytes]]:
    """Yield frames from a pcapng buffer: walk Section Header (type
    0x0A0D0D0A), Interface Description (1, carries linktype +
    ``if_tsresol`` option code 9) and Enhanced Packet (6) blocks;
    other block types are skipped (diameter.py:489-561 semantics)."""
    pos, frame_no = 0, 0
    n = len(data)
    endian = "<"
    interfaces: list[tuple[int, int]] = []  # (dlt, ts_per_second)
    while pos + 12 <= n:
        btype_raw = data[pos : pos + 4]
        if btype_raw == _PCAPNG_MAGIC:  # Section Header resets state
            endian = ">" if data[pos + 8 : pos + 12] == b"\x1a\x2b\x3c\x4d" else "<"
            interfaces = []
        (btype,) = struct.unpack(endian + "I", btype_raw)
        (blen,) = struct.unpack(endian + "I", data[pos + 4 : pos + 8])
        if blen < 12 or pos + blen > n:
            break
        body = data[pos + 8 : pos + blen - 4]
        if btype == 1:  # Interface Description
            (dlt,) = struct.unpack(endian + "H", body[0:2])
            interfaces.append((dlt, _tsresol(body[8:], endian)))
        elif btype == 6 and interfaces:  # Enhanced Packet
            if_id, ts_hi, ts_lo, cap_len, orig_len = struct.unpack(
                endian + "5I", body[0:20]
            )
            dlt, per_sec = interfaces[if_id] if if_id < len(interfaces) else interfaces[0]
            ts = (ts_hi << 32) | ts_lo
            frame_no += 1
            yield frame_no, ts * 1_000_000 // per_sec, dlt, orig_len, body[20 : 20 + cap_len]
        pos += blen


def _tsresol(options: bytes, endian: str) -> int:
    """Parse IDB options for if_tsresol (code 9): MSB set → 2^-n
    else 10^-n ticks per second; absent → microseconds."""
    pos = 0
    while pos + 4 <= len(options):
        code, olen = struct.unpack(endian + "2H", options[pos : pos + 4])
        if code == 0:
            break
        if code == 9 and olen >= 1:
            v = options[pos + 4]
            return 2 ** (v & 0x7F) if v & 0x80 else 10 ** (v & 0x7F)
        pos += 4 + ((olen + 3) & ~3)
    return 1_000_000


def iter_frames(data: bytes) -> Iterator[tuple[int, int, int, int, bytes]]:
    """Format sniff (S1) + record walk (S2/S3)."""
    magic = data[0:4]
    if magic in _PCAP_MAGICS:
        yield from iter_pcap_frames(data)
    elif magic == _PCAPNG_MAGIC:
        yield from iter_pcapng_frames(data)
    else:
        raise ValueError(f"not a pcap/pcapng buffer (magic={magic.hex()})")


def parse_file_rows(fname: str, content: bytes) -> list[tuple]:
    """One capture file → frame rows, never raising: a malformed
    container yields the intact prefix frames plus exactly one
    trailing error row (§2.8 — the reference logs-and-continues per
    file; here the error becomes data the ledger can count)."""
    rows: list[tuple] = []
    try:
        for frame_no, ts_us, dlt, orig_len, payload in iter_frames(content):
            rows.append((fname, frame_no, ts_us, dlt, orig_len, payload, None))
    except Exception as exc:  # malformed container: 1 error row
        rows.append((fname, None, None, None, None, None, str(exc)))
    return rows


def frames_from_files(files: DataFrame) -> DataFrame:
    """``binaryFile`` rows → frames: the parser of both ``read_pcap``
    and ``stream_frames``. An Arrow batch of files is bounded by
    ``spark.sql.files.maxPartitionBytes``."""
    frames = map_rows(files.select("path", "content"), FRAME_SCHEMA, parse_file_rows)
    return frames.withColumn("ts", F.timestamp_micros("ts_us")).drop("ts_us")


def read_pcap(spark: SparkSession, path: str) -> DataFrame:
    """Capture files → frames DataFrame.

    Columns: ``file, frame_no, ts (TIMESTAMP), dlt, orig_len,
    payload (BINARY), error``. A file that fails the magic sniff
    produces one error row instead of failing the job (§2.8
    error-row semantics)."""
    return frames_from_files(spark.read.format("binaryFile").load(path))
