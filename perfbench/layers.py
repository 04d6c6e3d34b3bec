"""Per-layer metric names and the helpers that fill them.

Every traced run prints every name; a layer the workload bypasses
reads 0, which is the time and work that workload spends in it.
"""

from __future__ import annotations

import glob
import json
import os

from batch import FAMILIES
from querymix import QUERIES

NAMES = (
    ["sources.frames", "sources.self_s", "net.segments", "net.self_s"]
    + [f"decode.{f}.self_s" for f in FAMILIES]
    + ["decode.msgs", "decode.errors", "decode.dropped"]
    + [f"operators.{f}.self_s" for f in FAMILIES]
    + ["operators.matched", "operators.unmatched", "shuffle_bytes", "gc_s",
       "sinks.parquet.self_s", "sinks.ledger.self_s",
       "trace.wall_s", "trace.self_sum_s", "trace.overhead_s"]
    + ["streaming.batch_s_p50", "streaming.plan_s", "streaming.offsets_s", "streaming.sink_s",
       "streaming.nodata_batch_s_p50", "streaming.state_rows", "streaming.files_per_batch_max",
       "streaming.backlog_files_max", "streaming.generator_late_s_max",
       "streaming.freshness_tail_s"]
    + [f"queries.{q}.{part}" for q in QUERIES for part in ("build_s", "first_s", "steady_s")]
)


def unit(name: str) -> str:
    if name == "shuffle_bytes":
        return "bytes"
    if name.endswith("_s") or "_s_" in name:
        return "s"
    return "count"


def zeros() -> dict[str, float]:
    return dict.fromkeys(NAMES, 0.0)


def as_metrics(vals: dict[str, float]) -> dict[str, dict]:
    missing = set(NAMES) - set(vals)
    extra = set(vals) - set(NAMES)
    if missing or extra:
        raise ValueError(f"per-layer names out of sync: missing {missing}, extra {extra}")
    return {n: {"value": float(vals[n]), "unit": unit(n)} for n in NAMES}


def _app_event_files(work: str) -> list[list[str]]:
    """Event files per application (one per session), in write order.
    Spark writes either one file per application or, with rolling
    logs, a directory of ``events_<n>_*`` files."""
    apps = []
    root = os.path.join(work, "eventlog")
    for entry in sorted(os.listdir(root)) if os.path.isdir(root) else ():
        path = os.path.join(root, entry)
        if os.path.isdir(path):
            parts = glob.glob(os.path.join(path, "events_*"))
            apps.append(sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1])))
        else:
            apps.append([path])
    return apps


def event_log_totals(work: str, prefix: str) -> dict[str, float]:
    """Shuffle bytes written and JVM GC seconds over the tasks of
    jobs whose job group starts with ``prefix``. Read after the
    session stopped, when the log is complete."""
    shuffle = gc_ms = 0
    for files in _app_event_files(work):
        stage_group: dict[int, str] = {}  # stage ids restart per application
        for path in files:
            with open(path) as fh:
                for line in fh:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = group
                    elif kind == "SparkListenerTaskEnd":
                        if not stage_group.get(ev.get("Stage ID"), "").startswith(prefix):
                            continue
                        m = ev.get("Task Metrics") or {}
                        gc_ms += m.get("JVM GC Time", 0)
                        shuffle += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    return {"shuffle_bytes": float(shuffle), "gc_s": gc_ms / 1000.0}


def _last_path(work: str, workload: str) -> str:
    return os.path.join(os.path.dirname(work), f"{workload}.last.json")


def remember_untraced(work: str, workload: str, steady_s: float) -> None:
    with open(_last_path(work, workload), "w") as fh:
        json.dump({"steady_s": steady_s}, fh)


def overhead(work: str, workload: str, traced_steady_s: float) -> dict[str, float]:
    """Tracing overhead: this traced run's ``steady_s`` minus the last
    untraced run's in the same checkout (0 when there is none)."""
    try:
        with open(_last_path(work, workload)) as fh:
            base = json.load(fh)["steady_s"]
    except (OSError, ValueError, KeyError):
        return {"trace.overhead_s": 0.0}
    return {"trace.overhead_s": traced_steady_s - base}
