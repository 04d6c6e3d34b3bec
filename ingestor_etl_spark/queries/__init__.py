"""Declared-query registry — the engine's public query surface.

Every operator from SURVEY.md §2 that is expressible over the driver
tables gets a named entry here: a Spark callable ``(spark, sf_dir)
-> DataFrame`` plus (when SQL-expressible) a DuckDB oracle string.
``__spark_entry__.py`` re-exports this registry to the driver.

Parity conventions (see tests/test_oracle_parity.py):
- money/quantity aggregates go through explicit decimal casts so
  sums are exact and engine-independent, then cast to DOUBLE;
- every computed column is aliased identically on both sides;
- timestamps stay naive-UTC (session timezone pinned in session.py).
"""

from __future__ import annotations

import os
import tempfile
import uuid
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class Query:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str | None = None, doc: str = "", tags: tuple[str, ...] = ()):
    def wrap(fn: Callable[[SparkSession, str], DataFrame]):
        # A duplicate name would silently SHADOW an oracle-verified
        # query (registration order = import order), which is exactly
        # how a round-5 cohort query briefly hid retention_cohorts.
        # Same-function re-registration (module reload) stays legal.
        prev = REGISTRY.get(name)
        if prev is not None and prev.fn.__qualname__ != fn.__qualname__:
            raise ValueError(
                f"query name {name!r} already registered by "
                f"{prev.fn.__module__}.{prev.fn.__qualname__}"
            )
        REGISTRY[name] = Query(name=name, fn=fn, oracle=oracle, doc=doc or (fn.__doc__ or ""), tags=tags)
        return fn

    return wrap


def fixture_dir(name: str, files: dict[str, bytes]) -> str:
    """The directory ``<tempdir>/ingestor_etl_spark_<name>`` holding
    ``files`` (file name -> bytes) for a query that builds its own
    input. A missing file, or one whose bytes differ, is written under
    a unique hidden name in the same directory and renamed into place,
    so a reader (or a concurrent writer) only ever sees a whole file,
    and Spark's listing skips the hidden name. A file that already
    holds its bytes is left as it is."""
    d = os.path.join(tempfile.gettempdir(), f"ingestor_etl_spark_{name}")
    os.makedirs(d, exist_ok=True)
    for fname, data in files.items():
        path = os.path.join(d, fname)
        try:
            with open(path, "rb") as fh:
                if fh.read() == data:
                    continue
        except FileNotFoundError:
            pass
        tmp = os.path.join(d, f".{fname}.{uuid.uuid4().hex}")
        try:
            with open(tmp, "xb") as fh:
                fh.write(data)
            os.replace(tmp, path)
        finally:
            if os.path.exists(tmp):
                os.unlink(tmp)
    return d


def load_all() -> dict[str, Query]:
    """Import every query module (side-effect: fills REGISTRY)."""
    from ingestor_etl_spark.queries import (  # noqa: F401
        analytic_ops,
        corpus_ops,
        curation_ops,
        dedup_ops,
        events_ops,
        multimodal_ops,
        pipeline_ops,
        profile_ops,
        protocol_ops,
        rank_ops,
        relational,
        relational_sub,
        relational_wide,
        similarity_ops,
        streaming_parity,
        text_ops,
        training_ops,
        vector_ops,
        warehouse_ops,
    )

    return REGISTRY
