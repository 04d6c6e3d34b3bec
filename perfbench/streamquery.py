"""stream_query: the query phase, then streaming ingest (paced, then
burst), in one session.

The two phases share a workload so that a run fits the time a run
may take; each is measured on its own and neither touches the batch
CLI path that ``ingest_batch`` measures. The queries run first, so
their cold figure is the first work in a fresh JVM, as the batch
workload's is, and it counts that JVM's set-up as the batch
workload's does.
"""

from __future__ import annotations

import time

import querymix
import stream
from common import Session, median, metric


def _run(sess: Session, work: str, seed: int, seconds: float, traced: bool):
    clock = [time.perf_counter()]
    launch_s = sess.start()
    clock.append(time.perf_counter())
    qm = querymix.run_phase(sess, group="query" if traced else None)
    clock.append(time.perf_counter())
    st = stream.run_phase(sess, work, seed, seconds)
    clock.append(time.perf_counter())
    setup_s = sess.setup_median()
    clock.append(time.perf_counter())
    st["checks"] = stream.check_outputs(sess.spark, st)
    clock.append(time.perf_counter())
    attempted = st["landed"] + qm["attempted"]
    failed = (st["landed"] - st["committed"]) + qm["failed"]
    if st["exception"]:
        failed += 1
    correct = st["checks"]["ok"] and qm["correct"] and st["drained"]
    e2e = {
        "setup_s": setup_s,
        "cold_s": launch_s + qm["cold_s"],
        "steady_s": qm["steady_s"],
        "rate_per_s": st["drain_msgs_per_s"],
        "latency_mean_s": st["freshness_mean_s"],
    }
    detail = {
        "meaning": {
            "cold_s": "fresh JVM and session set-up plus the queries' build + first execution",
            "steady_s": "query phase: sum of per-query median steady execution",
            "rate_per_s": "burst messages per second of the batches that read them",
            "latency_mean_s": "mean freshness of paced files (landing to commit)",
        },
        "stream": {k: v for k, v in st.items() if k not in ("ledger_expected",)},
        "queries": qm["queries"],
        "e2e": e2e,
        "phase_wall_s": dict(zip(("setup", "queries", "stream", "more_setups", "check"),
                                 (round(b - a, 3) for a, b in zip(clock, clock[1:])))),
    }
    return e2e, detail, attempted, failed, correct, st, qm


def run(sess: Session, work: str, seed: int, seconds: float, nproc: int):
    e2e, detail, attempted, failed, correct, _, _ = _run(sess, work, seed, seconds, False)
    units = {"rate_per_s": "1/s"}
    metrics = {k: metric(v, units.get(k, "s")) for k, v in e2e.items()}
    return metrics, detail, attempted, failed, correct


def run_traced(sess: Session, work: str, seed: int, seconds: float, nproc: int):
    import layers

    sess.event_log = True
    e2e, detail, attempted, failed, correct, st, qm = _run(sess, work, seed, seconds, True)
    vals = layers.zeros()
    vals.update(st["layers"])
    for name, rec in qm["queries"].items():
        if "error" not in rec:
            vals[f"queries.{name}.build_s"] = rec["build_s"]
            vals[f"queries.{name}.first_s"] = rec["first_s"]
            vals[f"queries.{name}.steady_s"] = median(rec["steady_s"])
    sess.spark.stop()
    sess.spark = None
    vals.update(layers.event_log_totals(work, prefix="query:"))
    vals.update(layers.overhead(work, "stream_query", e2e["steady_s"]))
    return layers.as_metrics(vals), detail, attempted, failed, correct
