"""Command-line ingest driver — the reference's per-protocol entry
points as one CLI.

The reference runs one OS process per pcap per protocol
(``python diameter.py <pcap> <queue_id>``, diameter.py:616-629;
``python gsm_map.py <pcap> <queue_id>``, gsm_map.py:517-544; etc.),
each bulk-loading one Postgres table and updating the
``ingestion_queue``. Here one command ingests a *glob* of capture
files in a single Spark job (files are the parallelism unit), writes
the protocol table as parquet (or any ``--format``), and appends
processed / not_processed counters per file to the ingestion ledger
(S10/S11 semantics):

    python -m ingestor_etl_spark --protocol diameter \
        --input '/data/caps/*.pcap' --out /data/tables/diameter \
        --ledger /data/ledger

``--streaming`` switches the same pipeline to a file-source
readStream with checkpointing (new files picked up as they land —
the queue-table polling loop of diameter.sh replaced by the source's
own file tracking).
"""

from __future__ import annotations

import argparse
import sys
from functools import partial

PROTOCOLS = [
    "diameter", "gsm_map", "gtp", "sip", "smpp", "cap",
    "http_ocs", "http_ss7", "http_smpp", "http_camel", "http_diameter",
]


def build_pipeline(spark, protocol: str, input_glob: str):
    """Compose source → decode → correlate for one protocol.
    Returns ``(output_df, decoded_df)`` — the table to write and the
    per-message decode stage the ledger counts are taken from
    (correlated outputs merge req/ans rows and lose the per-file
    grain the A1 counters need). Mirrors §3's lifecycles.

    ``decoded_df`` is persisted and the table is built on it, so one
    ingest decodes once: writing the table fills the cache and the
    ledger counts group it (``release_caches()`` drops it)."""
    from ingestor_etl_spark.plans.layout import materialize
    from ingestor_etl_spark.protocols.net import expand_l4
    from ingestor_etl_spark.sources.pcap import read_pcap

    def same(decoded):
        return decoded

    if protocol == "cap":
        from ingestor_etl_spark.protocols.cap import decode_cap, read_tshark_json

        decoded = materialize(decode_cap(read_tshark_json(spark, input_glob), with_file=True))
        return decoded.drop("file"), decoded

    raw = read_pcap(spark, input_glob)
    frames = expand_l4(raw)
    if protocol == "diameter":
        from ingestor_etl_spark.protocols.diameter import (
            correlate_diameter,
            decode_diameter,
        )

        decoded, table = decode_diameter(frames), correlate_diameter
    elif protocol == "gsm_map":
        from ingestor_etl_spark.protocols.gsm_map import decode_gsm_map

        # raw frames too: a raw-MTP3 (DLT 141) capture has no L4 rows
        decoded, table = decode_gsm_map(frames, raw), same
    elif protocol == "gtp":
        from ingestor_etl_spark.protocols.gtp import decode_gtp, enrich_gtp_transactions

        decoded, table = decode_gtp(frames), enrich_gtp_transactions
    elif protocol == "sip":
        from ingestor_etl_spark.protocols.sip import decode_sip

        decoded, table = decode_sip(frames), same
    elif protocol == "smpp":
        from ingestor_etl_spark.protocols.smpp import decode_smpp, group_smpp_transactions

        decoded, table = decode_smpp(frames), group_smpp_transactions
    elif protocol in ("http_ocs", "http_ss7", "http_smpp", "http_camel", "http_diameter"):
        from ingestor_etl_spark.protocols.http_sig import (
            extract_generic,
            extract_ocs,
            extract_ss7sms,
            http_messages,
            link_http,
        )

        decoded = http_messages(frames)
        if protocol == "http_ocs":
            extract, enrich = extract_ocs, ["msisdn", "calling", "called"]
        elif protocol == "http_ss7":
            extract, enrich = extract_ss7sms, ["msisdn_orig", "msisdn_dest", "imsi"]
        else:
            dialect = protocol.split("_", 1)[1].upper()
            extract, enrich = partial(extract_generic, dialect=dialect), ["msisdn", "imsi"]

        def table(msgs):
            return link_http(extract(msgs), enrich_cols=enrich)
    else:
        raise SystemExit(f"unknown protocol: {protocol}")
    # correlate_diameter materializes its input too; materialize()
    # returns an already-persisted frame as it is
    decoded = materialize(decoded)
    return table(decoded), decoded


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="python -m ingestor_etl_spark")
    ap.add_argument(
        "--query",
        default=None,
        metavar="NAME",
        help="run a registered engine query by name over --sf-dir "
        "(see --list-queries) instead of a protocol ingest",
    )
    ap.add_argument(
        "--list-queries",
        action="store_true",
        help="print every registered query name and exit",
    )
    ap.add_argument(
        "--sf-dir",
        default=None,
        help="table directory for --query (default $SPARK_GRAFT_SF_DIR "
        "or /root/testdata/sf0.01)",
    )
    ap.add_argument(
        "--protocol",
        required=False,
        choices=PROTOCOLS,
    )
    ap.add_argument("--input", required=False, help="capture-file glob (pcap/pcapng; tshark JSON for cap)")
    ap.add_argument("--out", required=False, help="output table directory (query mode: omit to print)")
    ap.add_argument("--format", default="parquet", help="output format (parquet/jdbc/...)")
    ap.add_argument("--ledger", default=None, help="ingestion-ledger directory (S10/S11)")
    ap.add_argument("--streaming", action="store_true", help="readStream + checkpoint instead of batch")
    ap.add_argument("--checkpoint", default=None, help="checkpoint dir (streaming)")
    args = ap.parse_args(argv)

    if args.list_queries:
        from ingestor_etl_spark.queries import load_all

        for name, q in sorted(load_all().items()):
            doc = (q.doc or "").strip().split("\n")[0]
            print(f"{name}\t{doc}")
        return 0

    from ingestor_etl_spark.session import get_spark

    if args.query:
        import os

        from ingestor_etl_spark.queries import load_all

        registry = load_all()
        if args.query not in registry:
            raise SystemExit(
                f"unknown query: {args.query} (see --list-queries)"
            )
        sf_dir = args.sf_dir or os.environ.get(
            "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"
        )
        spark = get_spark(f"query-{args.query}")
        df = registry[args.query].fn(spark, sf_dir)
        if args.out:
            df.write.format(args.format).mode("overwrite").save(args.out)
        else:
            df.show(50, truncate=False)
        return 0

    if not (args.protocol and args.input and args.out):
        ap.error("--protocol/--input/--out are required for ingest mode "
                 "(or use --query / --list-queries)")

    spark = get_spark(f"ingest-{args.protocol}")

    if args.streaming:
        if args.protocol != "diameter":
            raise SystemExit("--streaming currently supports the diameter pipeline")
        from ingestor_etl_spark.protocols.net import expand_l4
        from ingestor_etl_spark.streaming.pipeline import (
            stream_decode_diameter,
            stream_frames,
            write_stream_with_ledger,
        )

        msgs = stream_decode_diameter(expand_l4(stream_frames(spark, args.input)))
        # a continuous trigger: availableNow would fix its offsets at
        # start, and under the decode's processing-time state timeout
        # it never terminates
        q = write_stream_with_ledger(
            msgs.drop("ts"),
            args.out,
            args.checkpoint or args.out + "_ckpt",
            args.ledger,
            trigger_available_now=False,
        )
        q.awaitTermination()
        return 0

    from ingestor_etl_spark.plans.layout import release_caches

    df, decoded = build_pipeline(spark, args.protocol, args.input)
    try:
        ledger = None
        if args.ledger:
            from ingestor_etl_spark.sinks.ledger import append_ledger, file_counters, ledger_rows

            # built (and so analyzed) before the table write: a ledger that
            # cannot be built fails the run before any output is appended
            ledger = ledger_rows(file_counters(decoded))
        df.write.format(args.format).mode("append").save(args.out)
        if ledger is not None:
            append_ledger(ledger, args.ledger)
    finally:
        release_caches()
    return 0


if __name__ == "__main__":
    sys.exit(main())
