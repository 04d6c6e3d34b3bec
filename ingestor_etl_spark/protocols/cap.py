"""CAMEL (CAP): tshark-JSON source → native projections.

SURVEY §2.1 S5 (tshark ``-T json`` export as input,
cap_ingestor.py:273-277), §2.2 P33 (field-array projection,
cap_ingestor.py:96-146) and the 45-entry CAP opcode → operation
name map (cap_ingestor.py:7-54).

This is the one reference pipeline that is *already* relational:
every packet is a JSON object of single-element field arrays. The
whole decode is therefore ``spark.read.json`` + ``element_at`` /
``coalesce`` / ``conv`` projections and one map-literal lookup —
zero Python in the data path, fully codegen'd, and Catalyst prunes
the (wide) tshark field space down to the 15 consumed fields at the
scan."""

from __future__ import annotations

from itertools import chain

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

CAP_OPERATIONS = {
    0: "initialDP", 16: "assistRequestInstructions",
    17: "establishTemporaryConnection", 18: "disconnectForwardConnection",
    19: "connectToResource", 20: "connect", 22: "releaseCall",
    23: "requestReportBCSMEvent", 24: "eventReportBCSM", 31: "continue",
    33: "resetTimer", 34: "furnishChargingInformation", 35: "applyCharging",
    36: "applyChargingReport", 41: "callGap", 44: "callInformationReport",
    45: "callInformationRequest", 46: "sendChargingInformation",
    47: "playAnnouncement", 48: "promptAndCollectUserInformation",
    49: "specializedResourceReport", 53: "cancel", 55: "activityTest",
    56: "continueWithArgument", 60: "initialDPSMS",
    61: "furnishChargingInformationSMS", 62: "connectSMS",
    63: "requestReportSMSEvent", 64: "eventReportSMS", 65: "continueSMS",
    66: "releaseSMS", 67: "resetTimerSMS", 70: "activityTestGPRS",
    71: "applyChargingGPRS", 72: "applyChargingReportGPRS", 73: "cancelGPRS",
    74: "connectGPRS", 75: "continueGPRS", 76: "entityReleasedGPRS",
    77: "furnishChargingInformationGPRS", 78: "initialDPGPRS",
    79: "releaseGPRS", 80: "eventReportGPRS", 81: "requestReportGPRSEvent",
    82: "resetTimerGPRS", 83: "sendChargingInformationGPRS",
}


def read_tshark_json(spark: SparkSession, path: str) -> DataFrame:
    """S5: load a tshark ``-T json`` export (a JSON array of packet
    objects). ``multiLine`` because tshark pretty-prints."""
    return spark.read.option("multiLine", "true").json(path)


def _field_factory(tshark_df: DataFrame):
    """tshark emits every field as an array of strings; the
    reference always takes element 0 and treats absent keys as NULL
    (cap_ingestor.py:96-146). JSON schema inference only carries
    keys present in the export, so absent fields become literals."""
    layers = tshark_df.schema["_source"].dataType["layers"].dataType
    present = set(layers.fieldNames())

    def _field(name: str):
        if name not in present:
            return F.lit(None).cast("string")
        return F.element_at(F.col("_source.layers").getField(name), 1)

    return _field


def decode_cap(tshark_df: DataFrame, with_file: bool = False) -> DataFrame:
    """P33 projection. Notables mirrored from the reference:
    - OPC/DPC: mtp3.* with m3ua.protocol_data_* fallback (coalesce)
    - otid/dtid are hex strings → int (conv base 16)
    - msisdn/imsi: first element, trimmed
    - operation name from CAP opcode map; tid = otid for initialDP
      else dtid (cap_ingestor.py:139-143)

    ``with_file`` appends the export's path as ``file`` (read from the
    file source's ``_metadata``), the per-file grain the ingestion
    ledger groups by; the table itself has no such column.
    """
    _field = _field_factory(tshark_df)
    op_map = F.create_map(
        *chain.from_iterable((F.lit(k), F.lit(v)) for k, v in CAP_OPERATIONS.items())
    )
    epoch = _field("frame.time_epoch")
    camel_local = _field("camel.local").cast("int")
    mess_type = F.element_at(op_map, camel_local)
    otid = F.conv(_field("tcap.otid"), 16, 10).cast("long")
    dtid = F.conv(_field("tcap.dtid"), 16, 10).cast("long")
    return tshark_df.select(
        _field("frame.number").cast("long").alias("frame_no"),
        F.timestamp_micros(
            (F.split(epoch, r"\.").getItem(0).cast("long") * 1_000_000)
            + F.substring(F.split(epoch, r"\.").getItem(1), 1, 6).cast("long")
        ).alias("ts"),
        _field("ip.src").alias("src_ip"),
        _field("ip.dst").alias("dst_ip"),
        F.coalesce(
            _field("mtp3.opc").cast("long"),
            _field("m3ua.protocol_data_opc").cast("long"),
        ).alias("mtp3_opc"),
        F.coalesce(
            _field("mtp3.dpc").cast("long"),
            _field("m3ua.protocol_data_dpc").cast("long"),
        ).alias("mtp3_dpc"),
        otid.alias("tcap_otid"),
        dtid.alias("tcap_dtid"),
        _field("gsm_a.dtap.cld_party_bcd_num").alias("gsm_cld_party_bcd_num"),
        _field("e164.called_party_number.digits").alias("called_party_number_digits"),
        _field("e164.calling_party_number.digits").alias("calling_party_number_digits"),
        F.trim(_field("e164.msisdn")).alias("msisdn"),
        F.trim(_field("e212.imsi")).alias("imsi"),
        camel_local.alias("camel_local"),
        mess_type.alias("tcap_mess_type"),
        F.when(F.lower(mess_type) == "initialdp", otid).otherwise(dtid).alias("tcap_tid"),
        *([F.col("_metadata.file_path").alias("file")] if with_file else []),
    ).where(F.col("camel_local").isNotNull())
