"""HTTP-tunneled signaling: reassembly, pairing, XML extraction.

SURVEY §2.2 P28 (request/response sniff, http_ingestor.py:167-174),
P29 (header projection + body offset, http_ingestor.py:197-213),
P30 (generic XML: SMPP/CAMEL/DIAMETER dialects,
http_ingestor.py:215-362), P31 (OCS whitelist + ~20 scalar fields,
http_ocs_ingestor.py:256-461), P32 (SS7-SMS root-tag switch,
http_ss7_ingestor.py:303-456), §2.3 R5/R6 (multi-segment body
reassembly + req/res keying, http_ocs_ingestor.py:184-253), §2.4 J4
(request↔response link + bidirectional enrichment,
http_ocs_ingestor.py:503-595), §2.1 S9 (the response-id readback,
redesigned below).

Pairing model (R6): a request keys itself by (flow, its ACK); the
matching response keys by (reversed flow, its SEQ) — TCP guarantees
these coincide, so both sides of an exchange share one pairing key
``pair_id``. Continuation segments carry no start line; each joins
the message whose bytes it continues in TCP sequence on its own
4-tuple, requests and responses alike. Start lines are classified by
native Spark columns; the keying and the body concatenation are one
plain-Python walk per capture file (``pair_segments``, under
``protocols.map_files``), the reference's one sequential pass over a
capture. The walk sees the whole file before it joins any
continuation, so the reference's out-of-order "lookahead" patch-up
(http_ss7_ingestor.py:186-191) is unnecessary — arrival order cannot
matter in batch.

S9 redesign: the reference writes responses first to read back
autogenerated row ids (``return_defaults=True``) and stitches them
into requests — a DB round-trip Spark writes don't offer. Here the
response id is pre-generated deterministically (first contributing
frame number, unique within a capture), so ``http_response_in`` is
a pure column and the link is computed before any sink runs.

XML bodies are parsed with xmltodict (the same public library the
reference uses, requirements.txt:8) inside one ``mapInArrow``
extractor per dialect.
"""

from __future__ import annotations

import html as _html
from collections.abc import Iterable, Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ingestor_etl_spark.protocols import map_files, to_arrow

try:
    import xmltodict
except ImportError:  # pragma: no cover
    xmltodict = None

_REQ_RE = r"(?i)http/1\.[01]$"
_RES_RE = r"(?i)http/1\.[01] [1-5][0-9]{2}"

OCS_OPERATION_TYPES = {
    "mo-acr-request", "mo-acr-response", "mo-idp-request", "mo-idp-response",
    "dest-change-request", "dest-change-response",
    "source-change-request-acr", "source-change-response-acr",
    "source-change-request-idp", "source-change-response-idp",
    "shadow-number-request", "shadow-number-response", "roaming_code",
    "volte-acr-request", "volte-acr-response", "volte-idp-request",
    "volte-idp-response",
}


# one TCP data segment, as ``pair_segments`` reads it
SEGMENT_COLS = [
    "frame_no", "ts_us", "src_ip", "src_port", "dst_ip", "dst_port",
    "tcp_seq", "tcp_ack", "side", "payload",
]

PAIRED_SCHEMA = StructType(
    [
        StructField("file", StringType()),
        StructField("a_ip", StringType()),
        StructField("a_port", IntegerType()),
        StructField("b_ip", StringType()),
        StructField("b_port", IntegerType()),
        StructField("pair_id", LongType()),
        StructField("side", StringType()),
        StructField("frames_list", ArrayType(LongType())),
        StructField("ts_us", LongType()),
        StructField("tcp_sequence", LongType()),
        StructField("tcp_acknowledge", LongType()),
        StructField("payload", BinaryType()),
    ]
)


def pair_segments(rows: Iterable[tuple]) -> list[tuple]:
    """R5/R6 over one capture file's TCP data segments, each a
    ``SEGMENT_COLS`` tuple with ``side`` 'req', 'res' or None
    (continuation) → one ``PAIRED_SCHEMA`` tuple (less ``file``) per
    (pairing key, side).

    A retransmission (same 4-tuple, seq and ack) keeps its lowest
    frame (http_ingestor.py:412-414). A request start keys by (flow,
    ack), a response start by (reversed flow, seq). A continuation
    joins the message whose bytes it continues in TCP sequence: same
    4-tuple, its seq the start's seq plus the bytes before it
    (http_ocs_ingestor.py:226-248 joins them by key probes, which
    miss a response's continuations). A key's parts concatenate in
    that order, its starts in frame order; ts/seq/ack come from its
    first start."""
    first: dict[tuple, tuple] = {}
    for seg in sorted(rows, key=lambda seg: seg[0]):
        first.setdefault(seg[2:8], seg)
    # (4-tuple, seq) → the lowest-frame continuation starting there
    conts = {seg[2:7]: seg for seg in reversed(first.values()) if seg[8] is None}
    groups: dict[tuple, list[tuple]] = {}
    for seg in first.values():
        _, _, src, sport, dst, dport, seq, ack, side, _ = seg
        if side is None:
            continue
        key = (src, sport, dst, dport, ack, "req") if side == "req" else (dst, dport, src, sport, seq, "res")
        parts = groups.setdefault(key, [])
        while seg is not None:
            parts.append(seg)
            seg = conts.pop((src, sport, dst, dport, (seg[6] + len(seg[9])) & 0xFFFFFFFF), None)
    return [
        key + ([p[0] for p in parts], parts[0][1], parts[0][6], parts[0][7], b"".join(p[9] for p in parts))
        for key, parts in groups.items()
    ]


def http_messages(segments: DataFrame) -> DataFrame:
    """R5/R6 + P28/P29: TCP segments → one row per HTTP message with
    reassembled body, pairing key, and projected headers.

    One Python group holds one capture file's TCP data segments; the
    ``binaryFile`` source already holds the whole file in one row."""
    first_line = F.split(F.col("payload").cast("string"), "\r\n").getItem(0)
    tcp = (
        segments.where(
            (F.col("ip_proto") == 6)
            & F.col("tcp_flags").isin(16, 24)
            & (F.length("payload") > 0)
        )
        .withColumn(
            "side",
            F.when(first_line.rlike(_RES_RE), "res")
            .when(first_line.rlike(_REQ_RE), "req")
            .otherwise(None),
        )
        .select("file", *SEGMENT_COLS)
    )
    grouped = map_files(tcp, PAIRED_SCHEMA, pair_segments)

    text = F.col("payload").cast("string")
    start_line = F.split(text, "\r\n").getItem(0)
    header_block = F.split(text, "\r\n\r\n").getItem(0)
    content_length = F.regexp_extract(header_block, r"(?im)^content-length\s*:\s*(\d+)", 1)
    is_req = F.col("side") == "req"
    msgs = grouped.select(
        "file",
        "frames_list",
        F.timestamp_micros("ts_us").alias("ts"),
        F.when(is_req, F.col("a_ip")).otherwise(F.col("b_ip")).alias("src_ip"),
        F.when(is_req, F.col("a_port")).otherwise(F.col("b_port")).alias("src_port"),
        F.when(is_req, F.col("b_ip")).otherwise(F.col("a_ip")).alias("dst_ip"),
        F.when(is_req, F.col("b_port")).otherwise(F.col("a_port")).alias("dst_port"),
        "a_ip", "a_port", "b_ip", "b_port", "pair_id",
        "tcp_sequence",
        "tcp_acknowledge",
        is_req.alias("http_is_request"),
        F.when(is_req, F.split(start_line, " ").getItem(0)).alias("http_request_method"),
        F.when(
            is_req,
            F.concat(
                F.lit("http://"),
                F.col("b_ip"),
                F.lit(":"),
                F.col("b_port"),
                F.get(F.split(start_line, " "), 1),
                F.lit(" "),
            ),
        ).alias("http_request_uri"),
        F.when(~is_req, F.get(F.split(start_line, " "), 1).try_cast("int")).alias(
            "http_response_code"
        ),
        F.regexp_extract(header_block, r"(?im)^content-type\s*:\s*(.+?)\r?$", 1).alias(
            "http_content_type"
        ),
        F.when(content_length != "", content_length.try_cast("int")).alias(
            "http_content_length"
        ),
        F.when(
            content_length != "",
            F.substring(
                F.get(F.split(text, "\r\n\r\n", 2), 1),
                1,
                F.coalesce(content_length.try_cast("int"), F.lit(0)),
            ),
        ).alias("body"),
    )
    return msgs


def _first(v):
    return v[0] if isinstance(v, list) else v


def _text_of(v):
    """xmltodict nodes with attributes carry the value in '#text'."""
    v = _first(v)
    if isinstance(v, dict):
        return v.get("#text")
    return v


def _to_int(v):
    try:
        return int(_text_of(v))
    except (TypeError, ValueError):
        return None


def _to_bool(v):
    v = _text_of(v)
    return None if v is None else str(v).lower() == "true"


OCS_SCHEMA = StructType(
    [
        StructField("type", StringType()),
        StructField("operation_id", IntegerType()),
        StructField("cdpa", StringType()),
        StructField("temp_cdpa", StringType()),
        StructField("msisdn", StringType()),
        StructField("rdn", StringType()),
        StructField("period_duration", IntegerType()),
        StructField("call_active", BooleanType()),
        StructField("start_time", StringType()),
        StructField("end_time", StringType()),
        StructField("status", StringType()),
        StructField("status_code", IntegerType()),
        StructField("max_call_period_duration", IntegerType()),
        StructField("dtmf_route", StringType()),
        StructField("req_type", StringType()),
        StructField("shadow_number", StringType()),
        StructField("called", StringType()),
        StructField("calling", StringType()),
        StructField("msrn", StringType()),
        StructField("phone", StringType()),
        StructField("code", IntegerType()),
        StructField("result", IntegerType()),
        StructField("dual_num", StringType()),
        StructField("mcc", IntegerType()),
        StructField("mnc", IntegerType()),
        StructField("imsi", StringType()),
    ]
)


def parse_ocs_body(body: str | None, state: str | None) -> dict:
    """P31: root tag must be one of the 17 operation types; flat
    child elements become scalars (http_ocs_ingestor.py:256-461)."""
    if state is not None:
        return {"type": state}
    try:
        doc = xmltodict.parse(body)
    except Exception:
        return {}
    if not doc:
        return {}
    root = next(iter(doc))
    if root not in OCS_OPERATION_TYPES:
        return {}
    d = doc[root] or {}
    if not isinstance(d, dict):
        return {"type": root}
    return {
        "type": root,
        "operation_id": _to_int(d.get("@id")),
        "cdpa": _text_of(d.get("cdpa")),
        "temp_cdpa": _text_of(d.get("temp_cdpa")),
        "msisdn": _text_of(d.get("msisdn")),
        "rdn": _text_of(d.get("rdn")),
        "period_duration": _to_int(d.get("periodduration")),
        "call_active": _to_bool(d.get("callactive")),
        "start_time": _text_of(d.get("starttime")),  # first-of-list
        "end_time": _text_of(d.get("endtime")),
        "status": _text_of(d.get("status")),
        "status_code": _to_int(d.get("status_code")),
        "max_call_period_duration": _to_int(d.get("maxcallperiodduration")),
        "dtmf_route": _text_of(d.get("dtmf_route")),
        "req_type": _text_of(d.get("req_type")),
        "shadow_number": _text_of(d.get("shadow_number")),
        "called": _text_of(d.get("called")),
        "calling": _text_of(d.get("calling")),
        "msrn": _text_of(d.get("msrn")),
        "phone": _text_of(d.get("phone")),
        "code": _to_int(d.get("code")),
        "result": _to_int(d.get("result")),
        "dual_num": _text_of(d.get("dual_num")),
        "mcc": _to_int(d.get("mcc")),
        "mnc": _to_int(d.get("mnc")),
        "imsi": _text_of(d.get("imsi")),
    }


SS7SMS_SCHEMA = StructType(
    [
        StructField("type", StringType()),
        StructField("msisdn_orig", StringType()),
        StructField("msisdn_dest", StringType()),
        StructField("msc", StringType()),
        StructField("sccp_cd_adr", StringType()),
        StructField("imsi", StringType()),
        StructField("session_id", StringType()),
        StructField("text", StringType()),
        StructField("udhi", BooleanType()),
    ]
)


def _unescape(v):
    return _html.unescape(v) if v is not None else None


def parse_ss7sms_body(body: str | None, state: str | None) -> dict:
    """P32: root-tag switch over sriForSm / smsmt / smsmo / alertSC /
    reportSMDeliver / sms / error (http_ss7_ingestor.py:303-456);
    msisdns are html-unescaped; dest msisdn > 32 chars truncates to
    29 + '...' (372-373)."""
    if state is not None:
        return {"type": state}
    try:
        doc = xmltodict.parse(body)
    except Exception:
        return {}
    if not doc:
        return {}
    root = next(iter(doc))
    d = doc[root] if isinstance(doc[root], dict) else {}
    out: dict = {"type": root}
    if root == "sriForSm":
        out["sccp_cd_adr"] = _text_of(d.get("sccpCdAdr"))
        out["msisdn_orig"] = _text_of(d.get("msisdn"))
        out["imsi"] = _text_of(d.get("imsi"))
        out["msc"] = _text_of(d.get("msc"))
    elif root in ("smsmt", "sms"):
        out["imsi"] = _text_of(d.get("imsi"))
        out["msc"] = _text_of(d.get("msc"))
        out["msisdn_orig"] = _unescape(_text_of(d.get("orig")))
        sub = d.get("smsDeliver") or {}
        out["udhi"] = _to_bool(sub.get("udhi")) if isinstance(sub, dict) else None
    elif root == "smsmo":
        out["msisdn_orig"] = _unescape(_text_of(d.get("orig")))
        dest = _unescape(_text_of(d.get("dest")))
        if dest is not None and len(dest) > 32:
            dest = dest[:29] + "..."
        out["msisdn_dest"] = dest
        out["msc"] = _text_of(d.get("msc"))
        out["imsi"] = _text_of(d.get("imsi"))
        sub = d.get("smsSubmit") or {}
        out["udhi"] = _to_bool(sub.get("udhi")) if isinstance(sub, dict) else None
        out["session_id"] = _text_of(d.get("sessionId"))
    elif root == "alertSC":
        out["msisdn_orig"] = _unescape(_text_of(d.get("msisdn")))
    elif root == "reportSMDeliver":
        out["sccp_cd_adr"] = _text_of(d.get("sccpCdAdr"))
        out["msisdn_orig"] = _unescape(_text_of(d.get("msisdn")))
    elif root == "error":
        out["text"] = _text_of(d.get("text"))
    return out


GENERIC_SCHEMA = StructType(
    [
        StructField("type", StringType()),
        StructField("smpp_seq_number", StringType()),
        StructField("smpp_src_addr", StringType()),
        StructField("smpp_dst_addr", StringType()),
        StructField("tcap_otid", StringType()),
        StructField("tcap_dtid", StringType()),
        StructField("camel_orig_address", StringType()),
        StructField("camel_dest_address", StringType()),
        StructField("diam_e2e_id", StringType()),
        StructField("diam_session_id", StringType()),
        StructField("diam_origin_host", StringType()),
        StructField("diam_result_code", StringType()),
        StructField("diam_destination_realm", StringType()),
        StructField("diam_destination_host", StringType()),
        StructField("diam_origin_realm", StringType()),
        StructField("msisdn", StringType()),
        StructField("imsi", StringType()),
    ]
)


def parse_generic_body(body: str | None, state: str | None, dialect: str) -> dict:
    """P30: dialect-selected extraction (SMPP / CAMEL / DIAMETER)
    with the malformed-attribute patches applied first
    (http_ingestor.py:215-362)."""
    if state is not None:
        return {"type": state}
    data = body.replace('"natureOfAddresIndicator', '" natureOfAddresIndicator').replace(
        '"numberingPlanIndicator', '" numberingPlanIndicator'
    )
    try:
        doc = xmltodict.parse(data)
    except Exception:
        return {}
    out: dict = {"type": dialect}
    if dialect == "SMPP":
        d = doc.get("smpp") or {}
        out["smpp_seq_number"] = _text_of(d.get("sequenceNumber"))
        command_id = _to_int(d.get("commandId")) or 0
        src = d.get("sourceAddress") or {}
        dst = d.get("destAddress") or {}
        out["smpp_src_addr"] = _text_of(src.get("address")) if isinstance(src, dict) else None
        out["smpp_dst_addr"] = _text_of(dst.get("address")) if isinstance(dst, dict) else None
        if command_id == 5:
            out["msisdn"] = out["smpp_src_addr"]
        elif command_id == 4:
            out["msisdn"] = out["smpp_dst_addr"]
    elif dialect == "CAMEL":
        d = doc.get("dialog") or {}
        out["tcap_otid"] = _text_of(d.get("@localId"))
        out["tcap_dtid"] = _text_of(d.get("@remoteId"))
        idp = d.get("initialDP_Request") or {}
        if isinstance(idp, dict):
            imsi = idp.get("imsi") or {}
            out["imsi"] = imsi.get("@number") if isinstance(imsi, dict) else None
        for side, col in (("origAddress", "camel_orig_address"), ("destAddress", "camel_dest_address")):
            node = d.get(side) or {}
            gt = node.get("gt") if isinstance(node, dict) else None
            out[col] = gt.get("@digits") if isinstance(gt, dict) else None
    elif dialect == "DIAMETER":
        d = doc.get("diameter") or {}
        out["diam_e2e_id"] = _text_of(d.get("e2e"))
        avps = d.get("avp") or []
        if isinstance(avps, dict):
            avps = [avps]
        codes = {
            "1": "imsi", "263": "diam_session_id", "264": "diam_origin_host",
            "268": "diam_result_code", "283": "diam_destination_realm",
            "293": "diam_destination_host", "296": "diam_origin_realm",
        }
        for avp in avps:
            if not isinstance(avp, dict):
                continue
            col = codes.get(avp.get("@code"))
            if col:
                val = avp.get("@value")
                if col == "diam_result_code" and val == "null":
                    val = "0"
                out[col] = val
    return out


def _extract(messages: DataFrame, schema: StructType, fn) -> DataFrame:
    """Attach dialect fields to each message row in one ``mapInArrow``
    pass: ``body`` is replaced by ``schema``'s columns, and a row whose
    body parsed to nothing is dropped like the reference's ``return
    None`` paths."""
    out_schema = StructType([f for f in messages.schema.fields if f.name != "body"] + schema.fields)
    extra = to_arrow_schema(schema)

    def parse(body: str | None, clen: int | None) -> dict:
        if clen is None:
            state = "noContent"  # http_ocs_ingestor.py:304-307
        elif not body:
            state = "httpIncomplete"  # :310-313
        else:
            state = None
        try:
            return fn(body, state)
        except Exception:
            return {}

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            bodies, clens = (batch.column(c).to_pylist() for c in ("body", "http_content_length"))
            parsed = [parse(body, clen) for body, clen in zip(bodies, clens)]
            out = batch.drop_columns(["body"])
            for f in extra:
                out = out.append_column(f, to_arrow([p.get(f.name) for p in parsed], f.type))
            yield out.filter(pa.array([bool(p) for p in parsed]))

    return messages.mapInArrow(run, out_schema)


def extract_ocs(messages: DataFrame) -> DataFrame:
    return _extract(messages, OCS_SCHEMA, parse_ocs_body)


def extract_ss7sms(messages: DataFrame) -> DataFrame:
    return _extract(messages, SS7SMS_SCHEMA, parse_ss7sms_body)


def extract_generic(messages: DataFrame, dialect: str) -> DataFrame:
    return _extract(
        messages, GENERIC_SCHEMA, lambda b, s: parse_generic_body(b, s, dialect)
    )


def link_http(messages: DataFrame, enrich_cols: list[str] = ()) -> DataFrame:
    """J4 + S9: give every message a deterministic ``http_id`` (first
    contributing frame), stamp each request with its response's id as
    ``http_response_in``, and coalesce ``enrich_cols`` across the
    pair in both directions (http_ocs_ingestor.py:503-595).

    Plan shape: a request and its response share the conversation
    key, so pair linking is WINDOW algebra over that key: ONE
    exchange of the message table, no joins, no re-decode of the
    subtree. max() over the ≤1 opposite-side row per pair is
    deterministic."""
    from pyspark.sql import Window

    with_id = messages.withColumn("http_id", F.col("frames_list").getItem(0))
    key = ["file", "a_ip", "a_port", "b_ip", "b_port", "pair_id"]
    w = Window.partitionBy(*key)
    is_req = F.col("http_is_request")
    linked = with_id.withColumn(
        "http_response_in",
        F.when(is_req, F.max(F.when(~is_req, F.col("http_id"))).over(w)).cast(
            "long"
        ),
    )
    for c in enrich_cols:
        res_val = F.max(F.when(~is_req, F.col(c))).over(w)
        req_val = F.max(F.when(is_req, F.col(c))).over(w)
        linked = linked.withColumn(
            c,
            F.when(is_req, F.coalesce(F.col(c), res_val)).otherwise(
                F.coalesce(F.col(c), req_val)
            ),
        )
    return linked
