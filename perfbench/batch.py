"""ingest_batch: the batch CLI path in a closed loop with one client.

One operation is one ``python -m ingestor_etl_spark`` ingest of a
family's capture glob, done through the CLI's own functions:
``build_pipeline`` -> parquet append ->
``append_ledger(ledger_rows(file_counters(decoded)))``. A pass runs
the families in a fixed order; after the first (cold) pass, a run
makes one steady pass per ``SECONDS_PER_PASS`` of its seconds.

The families are one per transport and pairing operator: Diameter
(SCTP, stream stitching, request/answer join), GTP-C (UDP, window
enrichment) and HTTP-tunnelled OCS (TCP segment reassembly, XML
extraction, window linking). Each ingest job costs seconds of fixed
overhead whatever its size, so all six decoded families would not
fit the time a run may take.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback

from capgen import Counts, write_family
from common import Session, median, metric

FAMILIES = ("diameter", "gtp", "http_ocs")
FILES_PER_CORE = 2
TXN_PER_FILE = 150
SECONDS_PER_PASS = 10  # one steady pass per this many seconds of the run
MIN_PASSES = 2
LATENCY_FAMILY = "diameter"  # one family, so the job walls have one peak


def make_inputs(work: str, seed: int, n_files: int) -> dict[str, tuple[str, Counts]]:
    out = {}
    for fam in FAMILIES:
        d = os.path.join(work, "caps", fam)
        out[fam] = (os.path.join(d, "*.pcap"), write_family(d, fam, seed, n_files, TXN_PER_FILE))
    return out


def ingest(spark, fam: str, glob: str, out_dir: str, ledger_dir: str | None) -> tuple[float, float]:
    """One CLI ingest; returns (build + table write, ledger) seconds.
    Without ``ledger_dir`` it stops after the table write. The stages
    the pipeline persisted are released afterwards, as the end of a
    CLI process releases them, so no later job reads them."""
    from ingestor_etl_spark.__main__ import build_pipeline
    from ingestor_etl_spark.plans.layout import release_caches
    from ingestor_etl_spark.sinks.ledger import append_ledger, file_counters, ledger_rows

    try:
        t0 = time.perf_counter()
        df, decoded = build_pipeline(spark, fam, glob)
        df.write.format("parquet").mode("append").save(out_dir)
        t1 = time.perf_counter()
        if ledger_dir is not None:
            append_ledger(ledger_rows(file_counters(decoded)), ledger_dir)
        return t1 - t0, time.perf_counter() - t1
    finally:
        release_caches()


class Loop:
    """Runs passes over the families and keeps the failure ledger."""

    def __init__(self, sess: Session, work: str, inputs):
        self.sess, self.inputs = sess, inputs
        self.out = {f: os.path.join(work, "out", f) for f in FAMILIES}
        self.ledger = {f: os.path.join(work, "ledger", f) for f in FAMILIES}
        self.done = dict.fromkeys(FAMILIES, 0)  # successful ingests
        self.attempted = self.failed = 0
        self.errors: list[str] = []

    def one(self, fam: str, group: str | None = None) -> tuple[float, float] | None:
        self.attempted += 1
        if group:
            self.sess.job_group(f"{group}:{fam}")
        try:
            took = ingest(self.sess.spark, fam, self.inputs[fam][0], self.out[fam], self.ledger[fam])
        except Exception:
            self.failed += 1
            self.errors.append(f"{fam}: {traceback.format_exc(limit=3)}")
            print(self.errors[-1], file=sys.stderr)
            return None
        self.done[fam] += 1
        return took

    def run_pass(self, group: str | None = None) -> tuple[float, dict[str, tuple[float, float]]]:
        t0 = time.perf_counter()
        jobs = {f: self.one(f, group) for f in FAMILIES}
        return time.perf_counter() - t0, {f: t for f, t in jobs.items() if t is not None}


def check_outputs(spark, loop: Loop) -> dict[str, dict]:
    """Compare the written tables and ledgers with the generator's
    counts, scaled by the number of successful ingests."""
    from pyspark.sql import functions as F

    report = {}
    for fam in FAMILIES:
        n = loop.done[fam]
        want = loop.inputs[fam][1]
        if n == 0:
            report[fam] = {"ok": False, "why": "no successful ingest"}
            continue
        t = spark.read.parquet(loop.out[fam])
        got: dict[str, int] = {}
        if fam == "diameter":  # one row per request, answers joined in
            row = t.agg(F.count(F.lit(1)), F.sum(F.col("matched").cast("int"))).first()
            got["rows"], got["matched"] = row[0], row[1]
            exp = {"rows": n * want.requests, "matched": n * want.matched}
        else:
            req, matched = _pairing(fam)
            row = t.agg(F.count(F.lit(1)), F.sum(req.cast("int")), F.sum(matched.cast("int"))).first()
            got["rows"], got["requests"], got["matched"] = row
            exp = {"rows": n * want.msgs, "requests": n * want.requests, "matched": n * want.matched}
        led = spark.read.parquet(loop.ledger[fam]).groupBy("filename").agg(
            F.count(F.lit(1)).alias("rows"), F.sum("processed").alias("processed"),
            F.sum("not_processed").alias("not_processed"),
        )
        lrow = led.agg(
            F.count(F.lit(1)), F.min("rows"), F.max("rows"),
            F.sum("processed"), F.sum("not_processed"),
        ).first()
        got["ledger_files"], got["ledger_rows_min"], got["ledger_rows_max"] = lrow[0], lrow[1], lrow[2]
        got["ledger_processed"] = lrow[3]
        exp.update({
            "ledger_files": want.files, "ledger_rows_min": n, "ledger_rows_max": n,
            "ledger_processed": n * want.msgs,
        })
        # the decoders drop the malformed messages that reach them
        # without flagging them (they have no error column), so the
        # ledger counts them nowhere; reported, not checked, so that a
        # fix does not read as a failure
        report[fam] = {"ok": got == exp, "got": got, "want": exp, "not_processed": {
            "ledger": lrow[4], "generator": n * want.not_processed}}
    return report


def run(sess: Session, work: str, seed: int, seconds: float, nproc: int):
    inputs = make_inputs(work, seed, FILES_PER_CORE * nproc)
    msgs_per_pass = sum(c.msgs for _, c in inputs.values())
    launch_s = sess.start()
    loop = Loop(sess, work, inputs)

    cold_wall, cold_jobs = loop.run_pass()
    walls: list[float] = []
    per_fam: dict[str, list[float]] = {f: [] for f in FAMILIES}
    # a fixed pass count, so every run's medians rest on as many samples
    for _ in range(max(MIN_PASSES, round(seconds / SECONDS_PER_PASS))):
        wall, jobs = loop.run_pass()
        walls.append(wall)
        for f, (a, b) in jobs.items():
            per_fam[f].append(a + b)
    steady_passes = len(walls)

    setup_s = sess.setup_median()
    report = check_outputs(sess.spark, loop)
    correct = all(r["ok"] for r in report.values())
    metrics = {
        "setup_s": metric(setup_s, "s"),
        "cold_s": metric(launch_s + cold_wall, "s"),
        "steady_s": metric(sum(median(v) for v in per_fam.values() if v), "s"),
        "rate_per_s": metric(msgs_per_pass * steady_passes / sum(walls), "1/s"),
        # a family whose every job failed reads 0; the run is then not correct
        "latency_mean_s": metric(statistics.fmean(per_fam[LATENCY_FAMILY] or [0.0]), "s"),
    }
    detail = {
        "meaning": {
            "cold_s": "fresh JVM and session set-up plus the first pass over the families",
            "steady_s": "sum over families of the median ingest job wall",
            "rate_per_s": "captured messages ingested per second, steady passes",
            "latency_mean_s": "mean Diameter ingest job wall, glob submitted to table and ledger committed",
        },
        "launch_s": launch_s,
        "cold_pass_s": cold_wall,
        "cold_jobs_s": {f: [round(x, 4) for x in v] for f, v in cold_jobs.items()},
        "msgs_per_pass": msgs_per_pass,
        "steady_passes": steady_passes,
        "pass_walls_s": [round(w, 4) for w in walls],
        "family_job_s": {f: [round(x, 4) for x in v] for f, v in per_fam.items()},
        "inputs": {f: vars(c) for f, (_, c) in inputs.items()},
        "checks": report,
        "errors": loop.errors,
    }
    return metrics, detail, loop.attempted, loop.failed, correct


def _layer_prefixes(fam: str, net):
    """(decoded, pairing-operator output), composed exactly as
    ``build_pipeline`` composes them."""
    from ingestor_etl_spark.protocols import diameter, gtp, http_sig

    if fam == "diameter":
        d = diameter.decode_diameter(net)
        return d, diameter.correlate_diameter(d)
    if fam == "gtp":
        d = gtp.decode_gtp(net)
        return d, gtp.enrich_gtp_transactions(d)
    d = http_sig.extract_ocs(http_sig.http_messages(net))
    return d, http_sig.link_http(d, enrich_cols=["msisdn", "calling", "called"])


def _pairing(fam: str):
    """(requests, matched) expressions over a paired family's output."""
    from pyspark.sql import functions as F

    if fam == "diameter":
        return F.lit(True), F.col("matched")
    if fam == "gtp":
        return F.col("msg_type") == 32, F.col("msg_type") == 33
    return F.col("http_is_request"), F.col("http_is_request") & F.col("http_response_in").isNotNull()


def _timed(df, *aggs) -> tuple[float, object]:
    """Noop-write ``df`` with observed counts, then release the stages
    it persisted so no later prefix reads them."""
    from pyspark.sql import Observation

    from ingestor_etl_spark.plans.layout import release_caches

    obs = Observation()
    t0 = time.perf_counter()
    df.observe(obs, *aggs).write.format("noop").mode("overwrite").save()
    took = time.perf_counter() - t0
    release_caches()
    return took, obs.get


def _error_count(decoded):
    """Rows the decode stage flags in its error column, the column the
    ledger's ``not_processed`` is computed from (0 without one)."""
    from pyspark.sql import functions as F

    if "error" not in decoded.columns:
        return F.lit(0).alias("errors")
    return F.sum(F.col("error").isNotNull().cast("int")).alias("errors")


def run_traced(sess: Session, work: str, seed: int, seconds: float, nproc: int):
    """Per-layer self times from cumulative prefixes of the batch path,
    each built afresh and timed in one sequence: read, +L4, +decode,
    +pairing operator (each to the noop sink), +parquet table write,
    +ledger (the whole CLI job). A layer's self time is the difference
    between consecutive prefixes, so the self times of a family sum to
    its whole-job prefix; that sum is compared with the walls of an
    ingest pass timed on its own after the prefixes."""
    import layers
    from pyspark.sql import functions as F

    from ingestor_etl_spark.protocols.net import expand_l4
    from ingestor_etl_spark.sources.pcap import read_pcap

    inputs = make_inputs(work, seed, FILES_PER_CORE * nproc)
    sess.event_log = True
    setup_s = sess.start()  # one set-up, JVM launch included
    loop = Loop(sess, work, inputs)
    loop.run_pass(group="cold")
    vals = layers.zeros()
    want = Counts()
    count = F.count(F.lit(1)).alias("n")
    spark = sess.spark
    prefix_s = {}
    ledger_not_processed = 0
    for fam in FAMILIES:
        glob, c = inputs[fam]
        want.add(c)
        sess.job_group(f"layer:{fam}")

        def prefix(level: str):
            """The pipeline up to ``level``, built afresh."""
            net = read_pcap(spark, glob)
            if level == "read":
                return net
            net = expand_l4(net)
            if level == "net":
                return net
            decoded, op = _layer_prefixes(fam, net)
            return decoded if level == "decode" else op

        t_read, o_read = _timed(prefix("read"), count)
        t_net, o_net = _timed(prefix("net"), count)
        decoded = prefix("decode")
        t_dec, o_dec = _timed(decoded, count, _error_count(decoded))
        req, matched = _pairing(fam)
        t_op, o_op = _timed(prefix("op"), F.sum(req.cast("int")).alias("req"),
                            F.sum(matched.cast("int")).alias("matched"))
        base = os.path.join(work, "trace", fam)
        t_write, _ = ingest(spark, fam, glob, os.path.join(base, "table_only"), None)
        a, b = ingest(spark, fam, glob, os.path.join(base, "table"), os.path.join(base, "ledger"))
        t_job = a + b
        ledger_not_processed += spark.read.parquet(os.path.join(base, "ledger")).agg(
            F.sum("not_processed")).first()[0]

        vals["sources.frames"] += o_read["n"]
        vals["net.segments"] += o_net["n"]
        vals["decode.msgs"] += o_dec["n"]
        vals["decode.errors"] += o_dec["errors"]
        vals["operators.matched"] += o_op["matched"]
        vals["operators.unmatched"] += o_op["req"] - o_op["matched"]
        vals["sources.self_s"] += t_read
        vals["net.self_s"] += t_net - t_read
        vals[f"decode.{fam}.self_s"] = t_dec - t_net
        vals[f"operators.{fam}.self_s"] = t_op - t_dec
        vals["sinks.parquet.self_s"] += t_write - t_op
        vals["sinks.ledger.self_s"] += t_job - t_write
        vals["trace.self_sum_s"] += t_job
        prefix_s[fam] = {"read": t_read, "net": t_net, "decode": t_dec, "op": t_op,
                         "write": t_write, "ledger": t_job}
    _, jobs = loop.run_pass(group="ingest")
    vals["decode.dropped"] = vals["net.segments"] - vals["decode.msgs"] - vals["decode.errors"]
    vals["trace.wall_s"] = sum(a + b for a, b in jobs.values())
    reconcile = {
        "sources.frames": (vals["sources.frames"], want.frames),
        "net.segments": (vals["net.segments"], want.msgs + want.not_processed),
        "decode.msgs": (vals["decode.msgs"], want.msgs),
        "decode.errors + decode.dropped": (
            vals["decode.errors"] + vals["decode.dropped"], want.not_processed),
        "ledger not_processed = decode.errors": (ledger_not_processed, vals["decode.errors"]),
        "operators.matched": (vals["operators.matched"], want.matched),
        "operators.unmatched": (vals["operators.unmatched"], want.unmatched),
    }
    counts_ok = all(a == b for a, b in reconcile.values())
    ratio = vals["trace.self_sum_s"] / vals["trace.wall_s"] if jobs else 0.0
    correct = counts_ok and len(jobs) == len(FAMILIES)
    sess.spark.stop()
    sess.spark = None
    vals.update(layers.event_log_totals(work, prefix="ingest:"))
    vals.update(layers.overhead(work, "ingest_batch", vals["trace.wall_s"]))
    detail = {
        "setup_s": setup_s,
        "reconcile": reconcile,
        "not_processed": {"decode.errors": vals["decode.errors"], "generator": want.not_processed},
        "prefix_s": prefix_s,
        "traced_jobs_s": jobs,
        "self_sum_over_wall": ratio,
        "self_sum_within_10pct": abs(ratio - 1.0) <= 0.10,
        "errors": loop.errors,
    }
    return layers.as_metrics(vals), detail, loop.attempted, loop.failed, correct
