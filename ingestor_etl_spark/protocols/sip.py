"""SIP: fragment reassembly, start-line/header projection, call
correlation.

SURVEY §2.2 P24 (start-line classification, sip_ingestor.py:31-40,
204-212), P25 (header extraction incl. compact forms + 13-digit
user trim, sip_ingestor.py:42-52, 214-266), P26 (SDP owner parse,
sip_ingestor.py:216-221), §2.3 R4 (IPv4 fragment reassembly,
sip_ingestor.py:166-184), §2.4 J5 (call-id grouping + SDP-key
cross-leg correlation, sip_ingestor.py:332-356, 398-433).

SIP is a text protocol, so after R4 the whole decode is native
Catalyst expressions — ``split`` / ``regexp_extract`` with
case-insensitive multiline patterns — no Python at all; the only
shuffles are R4's fragment groupBy (fragmented datagrams only, a
tiny minority) and J5's call-id window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ingestor_etl_spark.functions.scalar import sip_user

SIP_METHODS = ("INVITE", "ACK", "PRACK", "INFO", "BYE", "CANCEL", "REGISTER", "UPDATE")


def reassemble_ip_fragments(segments: DataFrame) -> DataFrame:
    """R4: merge IPv4 fragments on (file, src, dst, ip_id), ordered
    by fragment offset; unfragmented rows pass through untouched.

    Native implementation: ``sort_array(collect_list(struct(off,
    payload)))`` + a binary-concat fold — the shuffle only carries
    the fragmented subset."""
    fragmented = segments.where((F.col("more_frags") == 1) | (F.col("frag_off") > 0))
    whole = segments.where((F.col("more_frags") == 0) & (F.col("frag_off") == 0))
    key = ["file", "src_ip", "dst_ip", "ip_id"]
    merged = fragmented.groupBy(*key).agg(
        F.min("frame_no").alias("frame_no"),
        F.min("ts_us").alias("ts_us"),
        F.min("ts").alias("ts"),
        F.first("ip_proto").alias("ip_proto"),
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("frag_off", "payload"))),
            F.lit(b""),
            lambda acc, x: F.concat(acc, x["payload"]),
        ).alias("payload"),
    )
    # ports live only on the first fragment (expand_l4 already
    # stripped its L4 header, so the fold yields the app datagram)
    first_frag = fragmented.where(F.col("frag_off") == 0).select(
        *key, "src_port", "dst_port"
    )
    merged = (
        merged.join(first_frag, key, "left")
        .withColumn("more_frags", F.lit(0))
        .withColumn("frag_off", F.lit(0))
    )
    schema = {f.name: f.dataType for f in whole.schema.fields}
    for c in whole.columns:
        if c not in merged.columns:
            merged = merged.withColumn(c, F.lit(None).cast(schema[c]))
    return whole.unionByName(merged.select(*whole.columns))


def decode_sip(segments: DataFrame) -> DataFrame:
    """UDP segments (DNS excluded, sip_ingestor.py:155-156) → one
    row per SIP message, request/response classified from the start
    line (P24); non-SIP datagrams are rejected."""
    # DNS exclusion must run AFTER fragment merge: non-first
    # fragments carry no L4 header, so their ports are NULL.
    udp = reassemble_ip_fragments(segments.where(F.col("ip_proto") == 17)).where(
        (F.col("src_port") != 53) & (F.col("dst_port") != 53)
    )
    text = udp.withColumn("sip_text", F.col("payload").cast("string"))
    start = F.split(F.split("sip_text", "\r\n").getItem(0), " ")
    method = start.getItem(0)
    is_request = method.isin(*SIP_METHODS)
    is_response = method == "SIP/2.0"
    classified = text.where(is_request | is_response).select(
        "file",
        "frame_no",
        "ts",
        "src_ip",
        "dst_ip",
        "src_port",
        "dst_port",
        is_request.alias("request"),
        F.when(is_request, method).alias("method"),
        F.when(is_response, start.getItem(1).cast("int")).alias("status_code"),
        F.when(is_response, F.split("sip_text", "\r\n").getItem(0)).alias("status_line"),
        F.regexp_extract("sip_text", r"(?im)^(?:Call-ID|i)\s*:\s*(\S+)", 1).alias("call_id"),
        F.regexp_extract("sip_text", r"(?im)^(?:From|f)\s*:\s*(.*)", 1).alias("_from"),
        F.regexp_extract("sip_text", r"(?im)^(?:To|t)\s*:\s*(.*)", 1).alias("_to"),
        F.regexp_extract("sip_text", r"(?im)^(?:Supported|k)\s*:\s*(.*)", 1).alias("supported"),
        F.regexp_extract("sip_text", r"(?im)^Require\s*:\s*(.*)", 1).alias("require"),
        F.regexp_extract("sip_text", r"(?m)^o=\S*\s+(\d+)\s+\d+", 1).alias("sdp_session_id"),
        F.regexp_extract("sip_text", r"(?m)^o=\S*\s+\d+\s+(\d+)", 1).alias("sdp_version"),
    )
    fu, tu = sip_user("_from"), sip_user("_to")
    return (
        classified.withColumn("from_user", fu["user"])
        .withColumn("from_original", fu["original"])
        .withColumn("to_user", tu["user"])
        .withColumn("to_original", tu["original"])
        .drop("_from", "_to")
    )


def propagate_call_owner(messages: DataFrame) -> DataFrame:
    """Call-level SDP owner propagation + the INVITE '0 0' patch
    (sip_ingestor.py:430-433): the reference correlates CALLS by any
    member message's SDP owner key, and an INVITE whose own o= line
    carries the '0 0' placeholder gets the call's real (session_id,
    version) written in after the leg join. Expressed relationally:
    each (file, call_id)'s first real owner (frame order) is joined
    back, and placeholder INVITEs take it as their effective owner —
    so they both correlate under the call key AND store the patched
    bytes, exactly the reference's post-join mutation. One extra
    aggregation on the same (file, call_id) exchange call_summary
    uses."""
    real = (F.col("sdp_session_id") != "") & ~(
        (F.col("sdp_session_id") == "0") & (F.col("sdp_version") == "0")
    )
    owners = (
        messages.where(real)
        .groupBy("file", "call_id")
        .agg(
            F.min(
                F.struct("frame_no", "sdp_session_id", "sdp_version")
            ).alias("k")
        )
        .select(
            "file",
            "call_id",
            F.col("k.sdp_session_id").alias("_call_sid"),
            F.col("k.sdp_version").alias("_call_ver"),
        )
    )
    # the flag must be evaluated BEFORE either column mutates (a
    # lazy Column in the second withColumn would see the already-
    # patched session id and never fire)
    out = messages.join(owners, ["file", "call_id"], "left").withColumn(
        "_ph",
        (F.col("method") == "INVITE")
        & (F.col("sdp_session_id") == "0")
        & (F.col("sdp_version") == "0")
        & F.col("_call_sid").isNotNull(),
    )
    return (
        out.withColumn(
            "sdp_session_id",
            F.when(F.col("_ph"), F.col("_call_sid")).otherwise(
                F.col("sdp_session_id")
            ),
        )
        .withColumn(
            "sdp_version",
            F.when(F.col("_ph"), F.col("_call_ver")).otherwise(
                F.col("sdp_version")
            ),
        )
        .drop("_call_sid", "_call_ver", "_ph")
    )


def correlate_sip_legs(
    messages: DataFrame,
    leg_a_ips: list[str],
    leg_b_ips: list[str],
) -> DataFrame:
    """J5: join calls from the A-leg IP group to B-leg calls that
    share an SDP owner (session_id, version); the A rows get the B
    leg's from/to users, originals preserved, and placeholder-owner
    INVITEs patched to the call key first
    (sip_ingestor.py:398-433).

    The decoded input is materialized ONCE up front: downstream it
    fans into four join branches (the owner aggregate + its join-back,
    then the A and B leg filters), and without the cache each branch
    re-executes the whole pcap-decode Python pipeline — measured 24
    executed Arrow operators for this plan vs 6 for pcap_sip_calls
    (round-10 verdict item 8); with it the decode runs once."""
    from ingestor_etl_spark.plans.layout import materialize

    messages = materialize(messages)
    messages = propagate_call_owner(messages)
    with_sdp = messages.where(F.col("sdp_session_id") != "")
    a = with_sdp.where(F.col("src_ip").isin(leg_a_ips) | F.col("dst_ip").isin(leg_a_ips))
    b = (
        with_sdp.where(F.col("src_ip").isin(leg_b_ips) | F.col("dst_ip").isin(leg_b_ips))
        .groupBy("sdp_session_id", "sdp_version")
        .agg(
            F.min("from_user").alias("b_from_user"),
            F.min("to_user").alias("b_to_user"),
            F.min("call_id").alias("b_call_id"),
        )
    )
    # b grows with the number of B-leg calls — unbounded, so no forced
    # broadcast; AQE upgrades the shuffle join to broadcast when it fits.
    joined = a.join(b, ["sdp_session_id", "sdp_version"], "left")
    return (
        joined.withColumn("from_user", F.coalesce("b_from_user", "from_user"))
        .withColumn("to_user", F.coalesce("b_to_user", "to_user"))
        .withColumn("peer_call_id", F.col("b_call_id"))
        .drop("b_from_user", "b_to_user", "b_call_id")
    )


def call_summary(messages: DataFrame) -> DataFrame:
    """Per-call rollup: leg count, first/last ts, methods seen —
    the call_id grouping of sip_ingestor.py:332-337."""
    return messages.groupBy("file", "call_id").agg(
        F.count(F.lit(1)).alias("n_messages"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.array_sort(F.array_distinct(F.collect_list("method"))).alias("methods"),
        F.max("status_code").alias("max_status"),
    )
