"""Protocol decoders: frames → typed per-message DataFrames.

Each module covers one protocol family from SURVEY §2.2-§2.4. The
byte-level walks live in plain-Python functions over tuples
(unit-testable without Spark); all relational work downstream
(filters, correlation joins, group enrichment, sessionization) is
native DataFrame API so Catalyst prunes and pushes as usual.

The two runners below are the only way a batch decode walk reaches
Spark. Both move rows as Arrow batches (``mapInArrow`` /
``applyInArrow``) and hand the walk plain Python values, ``None`` for
NULL (never pandas' NaN); the walk yields tuples in the output
schema's column order:

- ``map_rows``: ``fn(*row)`` per input row (every per-row decoder,
  and the capture parser ``sources.pcap.frames_from_files``);
- ``map_files``: ``walk(rows)`` over one capture file's rows
  (Diameter and HTTP reassembly), as the reference walks one capture.

Streaming shares the walks: ``frames_from_files``, ``map_rows`` and
``diameter.stitch`` (resumed from keyed state).
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def to_arrow(values: Iterable, arrow_type: pa.DataType) -> pa.Array:
    """Python values → an Arrow array of ``arrow_type``. An integer
    outside the type's range wraps (unsafe cast), as Spark's pandas
    conversion does, so a malformed field never fails the task."""
    return pa.array(values).cast(arrow_type, safe=False)


def _to_batch(rows: list[tuple], schema: pa.Schema) -> pa.RecordBatch:
    cols = list(zip(*rows)) if rows else [()] * len(schema)
    return pa.RecordBatch.from_arrays([to_arrow(c, f.type) for c, f in zip(cols, schema)], schema=schema)


def map_rows(df: DataFrame, schema: StructType, fn: Callable[..., Iterable[tuple]]) -> DataFrame:
    """One ``mapInArrow`` pass: ``fn(*row)`` over ``df``'s columns
    yields ``schema`` rows, one output batch per input batch; a row
    whose ``fn`` raises keeps what it yielded before the error (§2.8:
    never fail the task)."""
    cols = df.columns
    out = to_arrow_schema(schema)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            rows: list[tuple] = []
            for row in zip(*(batch.column(c).to_pylist() for c in cols)):
                try:
                    rows.extend(fn(*row))
                except Exception:
                    continue
            yield _to_batch(rows, out)

    return df.mapInArrow(run, schema)


def map_files(df: DataFrame, schema: StructType, walk: Callable[[Iterator[tuple]], Iterable[tuple]]) -> DataFrame:
    """One ``groupBy("file").applyInArrow`` pass: ``walk`` gets one
    capture file's rows as tuples of ``df``'s other columns and yields
    ``schema`` rows less the leading ``file``, which is prefixed."""
    cols = [c for c in df.columns if c != "file"]
    out = to_arrow_schema(schema)

    def run(key: tuple, table: pa.Table) -> pa.Table:
        file = key[0].as_py()
        rows = [(file, *r) for r in walk(zip(*(table.column(c).to_pylist() for c in cols)))]
        return pa.Table.from_batches([_to_batch(rows, out)])

    return df.groupBy("file").applyInArrow(run, schema)
