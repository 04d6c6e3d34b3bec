"""Query phase: registry queries over the engine's sf0.1 test tables,
read-only.

Each query is timed as build (DataFrame construction, which runs the
driver-side coordinator jobs: censuses, codebook training) plus its
first execution (which fills every cache the plan materializes), and
then, after one untimed re-execution, as steady re-executions of the
same DataFrame. Executions write to the ``noop`` sink, so the figures
cover reading parquet and computing, not writing.

The set is one query from the cold frontier, the queries whose cold
cost dominates their steady cost: ``exact_substring_dedup``, which
joins documents on shared character windows and whose first
execution fills the caches its plan materializes. A second query does
not fit the time a run may take at sf0.1 on a slow host
(``j6_sessionize`` adds about 10 s there). The table it reads is a
copy of the engine's sf0.1 test table ``documents``, kept under
``data/sf0.1`` so a run reads nothing outside its checkout.
Every result is checked against a pinned row count and an
order-insensitive hash (floats rounded), made from the query's
DuckDB oracle on the full sf0.1 table set:

    python3 perfbench/querymix.py --pin <directory of the sf0.1 tables>
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import json
import os
import sys
import time
import traceback

from common import HERE, median

QUERIES = ("exact_substring_dedup",)
STEADY_REPS = 2
TABLES_DIR = os.path.join(HERE, "data", "sf0.1")
PINNED = os.path.join(HERE, "pinned_hashes.json")


def _canon(v) -> str:
    if v is None:
        return "~"
    if hasattr(v, "item") and not isinstance(v, (bytes, str)):
        try:
            v = v.item()
        except (ValueError, AttributeError):
            v = list(v)
    if isinstance(v, float) and v != v:
        return "~"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        return str(int(v)) if v.is_integer() and abs(v) < 2**53 else repr(round(v, 6))
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)) or hasattr(v, "__iter__") and not isinstance(v, (str, bytes, dict)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(v[k])}" for k in sorted(v)) + "}"
    return str(v)


def result_hash(pdf) -> tuple[int, str]:
    """(rows, order-insensitive hash) of a pandas result; columns are
    taken in name order so both engines hash the same layout."""
    cols = sorted(pdf.columns)
    rows = sorted("|".join(_canon(r[c]) for c in cols) for r in pdf[cols].to_dict("records"))
    h = hashlib.sha1(("\n".join([",".join(cols)] + rows)).encode()).hexdigest()[:16]
    return len(rows), h


def oracle_result(sql: str, tables_dir: str):
    import duckdb

    from ingestor_etl_spark.catalog import TABLES, table_path

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(tables_dir, t)}')")
        return con.execute(sql).fetchdf()
    finally:
        con.close()


def run_phase(sess, group: str | None = None) -> dict:
    """Run every query cold, then steady; check each against its pin.
    The tables are fixed: no seed changes them."""
    from ingestor_etl_spark.plans.layout import release_caches
    from ingestor_etl_spark.queries import load_all

    tables_dir = TABLES_DIR
    registry = load_all()
    with open(PINNED) as fh:
        pinned = json.load(fh)["queries"]
    spark = sess.spark
    per_q: dict[str, dict] = {}
    attempted = failed = 0
    for name in QUERIES:
        q = registry[name]
        rec: dict = {}
        per_q[name] = rec
        release_caches()
        if group:
            sess.job_group(f"{group}:{name}")
        attempted += 1
        try:
            t0 = time.perf_counter()
            df = q.fn(spark, tables_dir)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            # one untimed execution: the first re-execution still warms
            # the steady path; it ran slowest of three reps in every run
            # measured
            df.write.format("noop").mode("overwrite").save()
            steady = []
            for _ in range(STEADY_REPS):
                s = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                steady.append(time.perf_counter() - s)
            rec.update(build_s=t1 - t0, first_s=t2 - t1, steady_s=steady)
            t3 = time.perf_counter()
            rec["rows"], rec["hash"] = result_hash(df.toPandas())
            rec["check_s"] = time.perf_counter() - t3
        except Exception:
            failed += 1
            rec["error"] = traceback.format_exc(limit=3)
            print(f"{name}: {rec['error']}", file=sys.stderr)
            continue
        rec["pinned_ok"] = pinned.get(name) == [rec["rows"], rec["hash"]]
        if not rec["pinned_ok"]:
            failed += 1  # a query that mismatches its pinned output
    release_caches()
    ok = [r for r in per_q.values() if "error" not in r]
    return {
        "queries": per_q,
        "attempted": attempted,
        "failed": failed,
        "correct": failed == 0,
        "cold_s": sum(r["build_s"] + r["first_s"] for r in ok),
        "steady_s": sum(median(r["steady_s"]) for r in ok),
    }


def pin(tables_dir: str) -> dict:
    """Each query's ``[rows, hash]`` from its DuckDB oracle on
    ``tables_dir``; every query in QUERIES has an oracle."""
    from ingestor_etl_spark.queries import load_all

    registry = load_all()
    return {name: list(result_hash(oracle_result(registry[name].oracle, tables_dir)))
            for name in QUERIES}


if __name__ == "__main__":
    import argparse

    ap = argparse.ArgumentParser(prog="perfbench/querymix.py")
    ap.add_argument("--pin", metavar="TABLES_DIR", required=True,
                    help="directory of the full sf0.1 table set")
    tables = os.path.abspath(ap.parse_args().pin)
    sys.path.insert(0, os.path.dirname(HERE))
    with open(PINNED, "w") as fh:
        json.dump({"tables": "sf0.1", "source": "DuckDB oracle (Query.oracle)",
                   "queries": pin(tables)}, fh, indent=1, sort_keys=True)
        fh.write("\n")
