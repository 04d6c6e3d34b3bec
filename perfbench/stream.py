"""Streaming phase: the CLI ``--streaming`` composition.

The composition is ``stream_frames`` -> ``expand_l4`` ->
``stream_decode_diameter`` -> ``write_stream_with_ledger`` with the
default trigger, exactly as ``python -m ingestor_etl_spark
--streaming`` builds it. A generator thread lands Diameter captures
by atomic rename:

- one warm-up file, whose batch pays the first-batch cost;
- a paced phase: one file at a time, each landed once the previous
  one is committed, so each file gets its own micro-batch and
  freshness has a single peak;
- a burst phase, ``BURST_FILES`` files landed at once; its rate is
  the burst's messages over the durations of the batches that read it.

The stateful decode uses a processing-time timeout, so the engine
runs no-data micro-batches back to back, and a landed file waits for
the one in flight to end before a batch reads it. That wait is part
of freshness, spread evenly between zero and a no-data batch's length
for files landing at random times. Left to chance, six such waits
make a mean whose standard deviation is an eighth of a no-data batch.
So the paced files land at evenly spread points of the batch in
flight instead: file ``i`` of ``n`` lands ``PACED_MARGIN_S`` plus the
fraction ``(i + 0.5) / n`` of a no-data batch's median length less
two margins after the latest batch ended (and the batch in flight
started). The margins keep each landing after the batch in flight
has listed its files and before it ends, so a file never races the
listing of either batch and its wait has one peak. When no no-data
batches run, no batch is in flight, and paced files land at once.

Freshness runs from a file's scheduled landing time to the end of
the micro-batch that committed it; the file-to-batch map is read from
the file source's offset log in the checkpoint. Because of the no-data
batches ``processAllAvailable()`` never returns, so the drain waits
until every landed file is committed.
"""

from __future__ import annotations

import datetime
import json
import os
import statistics
import threading
import time

from capgen import capture
from common import median, tail

PACED_FILE_PER_S = 3.0  # one paced file per this many seconds of the run
MIN_PACED_FILES = 6
PACED_MARGIN_S = 0.25  # landings keep this far from the ends of the batch in flight
NODATA_SAMPLES = 1  # no-data batches seen before pacing, for their median length
NODATA_WAIT_S = 10.0  # no no-data batch by then: the engine runs none
BURST_FILES = 32  # two micro-batches at the source's 16 files per trigger
TXN_PACED = 100
TXN_BURST = 250
COMMIT_TIMEOUT_S = 30.0


def _epoch(iso: str) -> float:
    return datetime.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class Progress:
    """Collects every micro-batch's progress from a query listener."""

    def __init__(self):
        self.lock = threading.Lock()
        self.batches: list[dict] = []
        self.files_committed = 0

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                d = dict(p.durationMs)
                start = _epoch(p.timestamp)
                src = p.sources[0] if p.sources else None
                end = json.loads(src.endOffset) if src is not None and src.endOffset else {}
                rec = {
                    "batch": p.batchId, "files": p.numInputRows, "start": start,
                    "log_offset": end.get("logOffset"),
                    "end": start + d.get("triggerExecution", 0) / 1000.0, "ms": d,
                    "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                }
                with outer.lock:
                    outer.batches.append(rec)
                    outer.files_committed += p.numInputRows

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        return _L()

    def wait_files(self, n: int, timeout: float) -> bool:
        return self._wait(lambda: self.files_committed >= n, timeout)

    def wait_batches(self, n: int, timeout: float) -> bool:
        return self._wait(lambda: len(self.batches) >= n, timeout)

    def wait_nodata(self, n: int, timeout: float) -> bool:
        return self._wait(lambda: sum(b["files"] == 0 for b in self.batches) >= n, timeout)

    def _wait(self, done, timeout: float) -> bool:
        deadline = time.time() + timeout
        while time.time() < deadline:
            with self.lock:
                if done():
                    return True
            time.sleep(0.01)
        return False

    def latest(self) -> tuple[int, float]:
        """(number of batches seen, end of the latest one)."""
        with self.lock:
            return len(self.batches), self.batches[-1]["end"] if self.batches else time.time()

    def nodata_s(self) -> float:
        """Median length of the no-data batches seen so far."""
        with self.lock:
            ds = [b["end"] - b["start"] for b in self.batches if b["files"] == 0]
        return median(ds) if ds else 0.0


def _file_offsets(checkpoint: str) -> dict[str, int]:
    """Landed file name -> the file source's log offset that admitted
    it, from the source's metadata log (plain and compacted entries).
    The offset advances only on batches that read files."""
    log = os.path.join(checkpoint, "sources", "0")
    out: dict[str, int] = {}
    for name in os.listdir(log) if os.path.isdir(log) else ():
        if name.startswith("."):
            continue
        with open(os.path.join(log, name)) as fh:
            for line in fh:
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def run_phase(sess, work: str, seed: int, seconds: float) -> dict:
    from ingestor_etl_spark.protocols.net import expand_l4
    from ingestor_etl_spark.streaming.pipeline import (
        stream_decode_diameter,
        stream_frames,
        write_stream_with_ledger,
    )

    base = os.path.join(work, "stream")
    stage, land = os.path.join(base, "stage"), os.path.join(base, "land")
    out, ckpt, ledger = (os.path.join(base, d) for d in ("out", "ckpt", "ledger"))
    os.makedirs(stage)
    os.makedirs(land)
    n_paced = max(MIN_PACED_FILES, int(seconds // PACED_FILE_PER_S))
    names: list[str] = []
    counts = {}
    for k in range(1 + n_paced + BURST_FILES):
        data, c = capture("diameter", seed, 100 + k, TXN_PACED if k <= n_paced else TXN_BURST)
        name = f"cap-{k:04d}.pcap"
        with open(os.path.join(stage, name), "wb") as fh:
            fh.write(data)
        names.append(name)
        counts[name] = c
    warm, paced, burst = names[0], names[1 : 1 + n_paced], names[1 + n_paced :]

    spark = sess.spark
    progress = Progress()
    listener = progress.listener()
    spark.streams.addListener(listener)
    msgs = stream_decode_diameter(expand_l4(stream_frames(spark, land)))
    query = write_stream_with_ledger(msgs.drop("ts"), out, ckpt, ledger, trigger_available_now=False)

    due: dict[str, float] = {}
    late: list[float] = []

    def land_file(name: str, when: float) -> None:
        while (wait := when - time.time()) > 0:
            time.sleep(min(wait, 0.01))
        os.rename(os.path.join(stage, name), os.path.join(land, name))
        due[name] = when
        late.append(time.time() - when)

    t_start = time.time()
    land_file(warm, t_start)
    warm_ok = progress.wait_files(1, COMMIT_TIMEOUT_S)
    nodata = warm_ok and progress.wait_nodata(NODATA_SAMPLES, NODATA_WAIT_S)
    anchor_hops: list[int] = []
    burst_at: list[float] = []

    def generator() -> None:
        stalled = not warm_ok
        for i, name in enumerate(paced):
            if stalled:  # the stream stopped committing: land the rest unpaced
                land_file(name, time.time())
                continue
            if not nodata:  # no batch in flight to wait for
                land_file(name, time.time())
                stalled = not progress.wait_files(2 + i, COMMIT_TIMEOUT_S)
                continue
            frac = (i + 0.5) / len(paced)
            seen, end = progress.latest()
            hops = 0
            # a batch started when the latest one ended; land at the
            # file's point of it, or of a later one if that has passed
            while (when := end + PACED_MARGIN_S + frac * max(
                    progress.nodata_s() - 2 * PACED_MARGIN_S, 0.0)) < time.time() + 0.01:
                if not progress.wait_batches(seen + 1, NODATA_WAIT_S):
                    when = time.time()
                    break
                seen, end = progress.latest()
                hops += 1
            anchor_hops.append(hops)
            land_file(name, when)
            stalled = not progress.wait_files(2 + i, COMMIT_TIMEOUT_S)
        burst_at.append(time.time())
        for name in burst:
            os.rename(os.path.join(stage, name), os.path.join(land, name))
            due[name] = burst_at[0]
        late.append(time.time() - burst_at[0])

    gen = threading.Thread(target=generator, name="perfbench-generator")
    gen.start()
    gen.join()
    t_burst = burst_at[0]
    drained = progress.wait_files(len(due), COMMIT_TIMEOUT_S)
    t_end = time.time()
    t_stop = time.perf_counter()
    query.stop()
    stop_s = time.perf_counter() - t_stop
    exc = query.exception()
    spark.streams.removeListener(listener)

    offset_of = _file_offsets(ckpt)
    with progress.lock:
        batches = {b["batch"]: b for b in progress.batches}
    batch_at = {b["log_offset"]: b["batch"] for b in batches.values() if b["files"] > 0}
    batch_of = {n: batch_at[o] for n, o in offset_of.items() if o in batch_at}
    end_of = {n: batches[b]["end"] for n, b in batch_of.items() if b in batches}
    committed = [n for n in due if n in end_of]
    # a file not committed when the run ends counts as fresh at the
    # end: a lower bound, so a run that loses files still reports
    fresh = {n: end_of.get(n, t_end) - due[n] for n in due}
    paced_fresh = [fresh[n] for n in paced]
    burst_msgs = sum(counts[n].msgs for n in burst if n in end_of)
    burst_batches = {batch_of[n] for n in burst if n in batch_of}
    # the burst's processing time: its batches' durations, without the
    # wait for the no-data batch in flight when the files landed; the
    # time from landing to the end of the run if any burst file is lost
    drain_s = sum(batches[b]["end"] - batches[b]["start"] for b in burst_batches)
    if any(n not in end_of for n in burst):
        drain_s = t_end - t_burst

    paced_batches = sorted({batch_of[n] for n in paced if n in batch_of})
    data_batches = [b for b in batches.values() if b["files"] > 0]
    backlog = [
        sum(1 for n in due if due[n] < b["start"] and batch_of.get(n, 1 << 60) >= b["batch"])
        for b in data_batches
    ]
    pb = [batches[b] for b in paced_batches if b in batches]

    def ms(rec, *keys):
        return sum(rec["ms"].get(k, 0) for k in keys) / 1000.0

    tail_pct, tail_s, n_fresh = tail(paced_fresh)
    return {
        "landed": len(due),
        "stop_s": stop_s,
        "committed": len(committed),
        "uncommitted": [n for n in due if n not in end_of],
        "warm_committed": warm_ok,
        "warm_file_s": fresh.get(warm),
        "paced_files": len(paced),
        "nodata_batches": nodata,
        "paced_anchor_hops": anchor_hops,
        "nodata_s_median": progress.nodata_s(),
        "freshness_s": {n: round(v, 4) for n, v in fresh.items()},
        "freshness_p50_s": median(paced_fresh),
        "freshness_mean_s": statistics.fmean(paced_fresh),
        "freshness_tail": {"percentile": tail_pct, "value_s": tail_s, "n": n_fresh},
        "burst_msgs": burst_msgs,
        "drain_s": drain_s,
        "drain_msgs_per_s": burst_msgs / drain_s,
        "expected_msgs": sum(counts[n].msgs for n in due),
        "expected_files": len(due),
        "drained": drained,
        "exception": None if exc is None else str(exc),
        "layers": {
            "streaming.batch_s_p50": median([ms(b, "triggerExecution") for b in pb]) if pb else 0.0,
            "streaming.plan_s": median([ms(b, "queryPlanning") for b in pb]) if pb else 0.0,
            "streaming.offsets_s": median([ms(b, "latestOffset", "walCommit", "commitOffsets") for b in pb]) if pb else 0.0,
            "streaming.sink_s": median([ms(b, "addBatch") for b in pb]) if pb else 0.0,
            "streaming.nodata_batch_s_p50": median(
                [ms(b, "triggerExecution") for b in batches.values() if b["files"] == 0]
            ) if len(batches) > len(data_batches) else 0.0,
            "streaming.state_rows": max((b["state_rows"] for b in batches.values()), default=0),
            "streaming.files_per_batch_max": max((b["files"] for b in data_batches), default=0),
            "streaming.backlog_files_max": max(backlog, default=0),
            "streaming.generator_late_s_max": max(late, default=0.0),
            "streaming.freshness_tail_s": tail_s,
        },
        "out_dir": out,
        "ledger_dir": ledger,
        "ledger_expected": {n: counts[n].msgs for n in due},
    }


def check_outputs(spark, res: dict) -> dict:
    """Every committed message reached the table exactly once, and the
    ledger holds one row per landed file with its decoded count."""
    from pyspark.sql import functions as F

    got_rows = spark.read.parquet(res["out_dir"]).count() if res["committed"] else 0
    led = spark.read.parquet(res["ledger_dir"]).groupBy("filename").agg(
        F.count(F.lit(1)).alias("rows"), F.sum("processed").alias("processed")
    ).collect() if res["committed"] else []
    ledger = {os.path.basename(r.filename): (r.rows, r.processed) for r in led}
    want_ledger = {n: (1, m) for n, m in res["ledger_expected"].items()}
    return {
        "ok": got_rows == res["expected_msgs"] and ledger == want_ledger,
        "rows": got_rows,
        "expected_rows": res["expected_msgs"],
        "ledger_files": len(ledger),
        "ledger_mismatch": sorted(n for n in want_ledger if ledger.get(n) != want_ledger[n])[:10],
    }
