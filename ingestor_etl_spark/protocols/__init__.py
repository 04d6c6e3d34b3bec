"""Protocol decoders: frames → typed per-message DataFrames.

Each module covers one protocol family from SURVEY §2.2-§2.4. The
byte-level walks live in plain-Python parser functions (unit-testable
without Spark) invoked from Arrow-batched ``mapInPandas`` passes; all
relational work downstream (filters, correlation joins, group
enrichment, sessionization) is native DataFrame API so Catalyst
prunes and pushes as usual.

Batch and streaming share one implementation per decode layer:
``sources.pcap.frames_from_files`` (capture files), ``map_rows``
below (every per-row decoder) and ``diameter.stitch`` (Diameter
reassembly).
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType


def map_rows(df: DataFrame, schema: StructType, fn: Callable[..., Iterable[tuple]]) -> DataFrame:
    """One ``mapInPandas`` pass: ``fn(*row)`` over ``df``'s columns
    yields ``schema`` rows; a row whose ``fn`` raises keeps what it
    yielded before the error (§2.8: never fail the task)."""
    cols = df.columns
    names = schema.fieldNames()

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[tuple] = []
            for row in zip(*(pdf[c] for c in cols)):
                try:
                    rows.extend(fn(*row))
                except Exception:
                    continue
            yield pd.DataFrame(rows, columns=names)

    return df.mapInPandas(gen, schema)
