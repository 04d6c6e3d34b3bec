"""Seeded capture files for the six decoded pcap families.

Every file holds request/answer transactions of one family, one
message per frame, plus a few unanswered requests and a small share
of malformed frames. The generator returns the counts a correct run
must reproduce, so the benchmark checks the engine's outputs against
them instead of against a second implementation of the decoders.

Malformed frames come in two layers, in equal shares:

- broken at IPv4, built from a valid request frame: truncated
  mid-header, a flipped version bit, or a total-length field that
  lies (claims a bare header). They must leave no L4 unit.
- broken in the application message, sent on a stream or flow of its
  own so no reassembler can join it to a good message: a message
  cut below its fixed header, a wrong protocol version, or (Diameter)
  a length field that claims more bytes than follow, or (HTTP) bytes
  that start no request or response. They reach the decoder as L4
  units and must decode to no message. The ledger's reading of the
  decode stage should count each of them as not processed; the
  counts carry that figure as ``not_processed``.

So ``frames = decoded + errors`` holds with ``errors`` = malformed,
and ``segments = decoded + not_processed``.
"""

from __future__ import annotations

import os
import random
import struct
from dataclasses import dataclass, field

from ingestor_etl_spark import capturegen as g

FAMILIES = ("diameter", "gsm_map", "gtp", "sip", "smpp", "http_ocs")
IP_KINDS = ("ip_truncated", "ip_bitflip", "ip_badlen")
APP_KINDS = {
    "diameter": ("short", "badversion", "badlen"),
    "gtp": ("short", "badversion"),
    "http_ocs": ("short", "nostart"),
}
MALFORMED_KINDS = IP_KINDS + ("short", "badversion", "badlen", "nostart")

_CLIENT, _SERVER = "10.0.0.1", "10.0.0.2"


@dataclass
class Counts:
    """What one capture file (or a sum of files) must decode to."""

    files: int = 0
    frames: int = 0
    msgs: int = 0  # decodable messages = good frames
    malformed: int = 0
    not_processed: int = 0  # malformed frames that reach the decoder
    requests: int = 0
    matched: int = 0  # requests with an answer
    by_kind: dict = field(default_factory=lambda: dict.fromkeys(MALFORMED_KINDS, 0))

    @property
    def unmatched(self) -> int:
        return self.requests - self.matched

    def add(self, other: "Counts") -> None:
        for name in ("files", "frames", "msgs", "malformed", "not_processed", "requests", "matched"):
            setattr(self, name, getattr(self, name) + getattr(other, name))
        for k, v in other.by_kind.items():
            self.by_kind[k] += v


def _digits(rng: random.Random, n: int) -> str:
    return "".join(rng.choice("0123456789") for _ in range(n))


def _ip(payload: bytes, proto: int, reply: bool) -> bytes:
    if reply:
        return g.eth(g.ipv4(payload, proto, src=_SERVER, dst=_CLIENT))
    return g.eth(g.ipv4(payload, proto, src=_CLIENT, dst=_SERVER))


def _diameter(rng, fno, i):
    hbh = fno * 1_000_000 + i
    sess = f"bench;{fno};{i}".encode()
    req = g.diameter_msg(272, True, hbh, hbh ^ 0x5A5A, [
        g.diameter_avp(263, sess),
        g.diameter_avp(264, b"pgw.bench"),
        g.diameter_avp(296, b"bench.realm"),
        g.subscription_id(0, "52" + _digits(rng, 8)),
        g.subscription_id(1, "33402" + _digits(rng, 10)),
    ])
    ans = g.diameter_msg(272, False, hbh, hbh ^ 0x5A5A, [
        g.diameter_avp(263, sess),
        g.diameter_avp(264, b"ocs.bench"),
        g.diameter_avp(268, struct.pack("!I", rng.choice((2001, 2001, 2001, 5030)))),
    ])
    sid = i % 8
    return (
        _ip(g.sctp([(sid, 0, 46, req)], 40001, 3868), 132, False),
        _ip(g.sctp([(sid, 0, 46, ans)], 3868, 40001), 132, True),
    )


def _gsm_map(rng, fno, i):
    tid = fno * 1_000_000 + i
    imsi = g.tbcd("33402" + _digits(rng, 10) + "f")
    begin = g.tcap_msg("begin", otid=tid, components=[
        g.tcap_invoke(2, g.ber(0x30, g.ber(0x04, imsi)))
    ])
    end = g.tcap_msg("end", dtid=tid, components=[g.tcap_return_result(2)])
    return (
        _ip(g.sctp([(0, i & 0xFFFF, 3, g.m3ua(g.sccp_udt(begin)))], 2905, 2905), 132, False),
        _ip(g.sctp([(0, i & 0xFFFF, 3, g.m3ua(g.sccp_udt(end)))], 2905, 2905), 132, True),
    )


def _gtp(rng, fno, i):
    teid = rng.getrandbits(32)
    req = g.gtpv2(32, 0, i, g.gtpv2_ie(1, g.tbcd("33402" + _digits(rng, 10)))
                  + g.gtpv2_ie(76, g.tbcd("52" + _digits(rng, 8))))
    ans = g.gtpv2(33, teid, i, g.gtpv2_ie(2, bytes([16, 0])))
    return (
        _ip(g.udp(req, 40000, 2123), 17, False),
        _ip(g.udp(ans, 2123, 40000), 17, True),
    )


def _sip(rng, fno, i):
    call_id = f"{fno}-{i}-{rng.getrandbits(32):08x}@bench"
    frm, to = "52" + _digits(rng, 8), "52" + _digits(rng, 8)
    sdp = f"v=0\r\no=- {rng.getrandbits(31)} 1 IN IP4 {_CLIENT}\r\n"
    req = (
        f"INVITE sip:{to}@bench SIP/2.0\r\nFrom: <sip:{frm}@bench>;tag=1\r\n"
        f"To: <sip:{to}@bench>\r\nCall-ID: {call_id}\r\n\r\n{sdp}"
    ).encode()
    ans = (
        f"SIP/2.0 200 OK\r\nFrom: <sip:{frm}@bench>;tag=1\r\n"
        f"To: <sip:{to}@bench>;tag=2\r\nCall-ID: {call_id}\r\n\r\n"
    ).encode()
    return (
        _ip(g.udp(req, 5060, 5060), 17, False),
        _ip(g.udp(ans, 5060, 5060), 17, True),
    )


def _smpp(rng, fno, i):
    text = _digits(rng, rng.randint(4, 40)).encode()
    req = g.smpp_pdu(0x4, 0, i + 1, g.smpp_submit_body("52" + _digits(rng, 8), "52" + _digits(rng, 8), text))
    ans = g.smpp_pdu(0x80000004, 0, i + 1, f"id{i}".encode() + b"\x00")
    return (
        _ip(g.tcp(req, 40000, 2775, flags=24), 6, False),
        _ip(g.tcp(ans, 2775, 40000, flags=24), 6, True),
    )


def _http(start: str, body: bytes) -> bytes:
    return (
        f"{start}\r\nContent-Length: {len(body)}\r\nContent-Type: text/xml\r\n\r\n"
    ).encode() + body


def _http_ocs(rng, fno, i):
    msisdn, called = "52" + _digits(rng, 8), "52" + _digits(rng, 8)
    req = _http("POST /ocs HTTP/1.1", (
        f'<mo-acr-request id="{i}"><msisdn>{msisdn}</msisdn><callactive>true</callactive>'
        f"<calling>{msisdn}</calling><called>{called}</called></mo-acr-request>"
    ).encode())
    ans = _http("HTTP/1.1 200 OK", (
        f'<mo-acr-response id="{i}"><result>{rng.choice((0, 0, 0, 1))}</result></mo-acr-response>'
    ).encode())
    sport = 30000 + i % 20000
    seq, ack = 1000 + 7 * i, 5_000_000 + 11 * i
    return (
        _ip(g.tcp(req, sport, 8080, seq=seq, ack=ack, flags=24), 6, False),
        _ip(g.tcp(ans, 8080, sport, seq=ack, ack=seq + len(req), flags=24), 6, True),
    )


_BUILDERS = {
    "diameter": _diameter, "gsm_map": _gsm_map, "gtp": _gtp,
    "sip": _sip, "smpp": _smpp, "http_ocs": _http_ocs,
}


def _malform_ip(frame: bytes, kind: str) -> bytes:
    ip = 14  # Ethernet header length
    if kind == "ip_truncated":
        return frame[: ip + 12]
    out = bytearray(frame)
    if kind == "ip_bitflip":
        out[ip] ^= 0x20  # version 4 -> 6
    else:  # ip_badlen: total length claims a bare 20-byte header
        out[ip + 2 : ip + 4] = struct.pack("!H", 20)
    return bytes(out)


def _bad_diameter(i: int, kind: str) -> bytes:
    msg = g.diameter_msg(272, True, i, i, [g.diameter_avp(263, f"bad;{i}".encode())])
    if kind == "short":
        msg = msg[:12]
    elif kind == "badversion":
        msg = b"\x02" + msg[1:]
    else:  # badlen: claims 64 bytes more than the message holds
        msg = msg[:1] + (len(msg) + 64).to_bytes(3, "big") + msg[4:]
    return _ip(g.sctp([(1000 + i, 0, 46, msg)], 40001, 3868), 132, False)


def _bad_gtp(i: int, kind: str) -> bytes:
    msg = g.gtpv2(32, 0, i, g.gtpv2_ie(1, g.tbcd("334020000000000")))
    msg = msg[:6] if kind == "short" else b"\x68" + msg[1:]  # version 3
    return _ip(g.udp(msg, 40000, 2123), 17, False)


def _bad_http_ocs(i: int, kind: str) -> bytes:
    body = b"POS" if kind == "short" else b"\x16\x03\x01\x00\x2a" + bytes(range(42))
    return _ip(g.tcp(body, 20000 + i, 8080, seq=7 * i, ack=11 * i, flags=24), 6, False)


_BAD_APP = {"diameter": _bad_diameter, "gtp": _bad_gtp, "http_ocs": _bad_http_ocs}


def capture(family: str, seed: int, fno: int, n_txn: int,
            answer_share: float = 0.9, malformed_per_txn: float = 0.04) -> tuple[bytes, Counts]:
    """One pcap of ``family`` with ``n_txn`` requests; returns the
    file bytes and the counts it must decode to."""
    rng = random.Random(f"{seed}:{family}:{fno}")
    build = _BUILDERS[family]
    c = Counts(files=1)
    frames: list[bytes] = []
    for i in range(n_txn):
        req, ans = build(rng, fno, i)
        frames.append(req)
        c.requests += 1
        if rng.random() < answer_share:
            frames.append(ans)
            c.matched += 1
        if rng.random() < malformed_per_txn:  # ~2% of frames
            kinds = IP_KINDS + APP_KINDS.get(family, ())
            kind = kinds[rng.randrange(len(kinds))]
            if kind in IP_KINDS:
                frames.append(_malform_ip(req, kind))
            else:
                frames.append(_BAD_APP[family](i, kind))
                c.not_processed += 1
            c.by_kind[kind] += 1
            c.malformed += 1
    c.msgs = c.requests + c.matched
    c.frames = c.msgs + c.malformed
    base = 1_700_000_000 + fno * 3600
    stamped = [(base + k // 1000, (k % 1000) * 1000, f) for k, f in enumerate(frames)]
    return g.pcap(stamped), c


def write_family(directory: str, family: str, seed: int, n_files: int, n_txn: int) -> Counts:
    """Write ``n_files`` captures of one family into ``directory``."""
    os.makedirs(directory, exist_ok=True)
    total = Counts()
    for fno in range(n_files):
        data, c = capture(family, seed, fno, n_txn)
        with open(os.path.join(directory, f"{family}-{fno:05d}.pcap"), "wb") as fh:
            fh.write(data)
        total.add(c)
    return total
