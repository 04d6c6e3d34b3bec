"""Relational sinks (SURVEY §2.1 S8/S9) + output-parity helpers.

The reference bulk-inserts ORM rows 1,000 at a time per commit
(diameter.py:458-467). Spark's JDBC writer batches natively —
``batchsize`` keeps the reference's chunk size, and writes run from
every executor in parallel instead of a single process.

S9 (response-id readback via ``return_defaults``) does not exist
here by design: ids are engine-generated *before* the write
(protocols/http_sig.link_http), so the sink is stateless and
idempotent per partition.

Output-parity helpers reshape engine-native columns into the
reference's storage schema (models.py): ``frames_list`` array →
space-joined string (models.py frames_list String(64), built at
diameter.py:281), single TIMESTAMP → (time_epoch, useconds_epoch)
pair (models.py:11-12)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def frames_list_as_string(df: DataFrame, col: str = "frames_list") -> DataFrame:
    """ARRAY<BIGINT> frame numbers → the reference's space-joined
    string form."""
    return df.withColumn(col, F.concat_ws(" ", F.col(col)))


def with_epoch_columns(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Decomposed epoch columns for storage parity: seconds +
    microseconds (diameter.py:444-447 truncation semantics are
    already guaranteed upstream by microsecond timestamps)."""
    us = F.unix_micros(F.col(ts_col))
    return df.withColumn("time_epoch", (us / 1_000_000).cast("long")).withColumn(
        "useconds_epoch", (us % 1_000_000).cast("int")
    )


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    batchsize: int = 1000,
    num_partitions: int | None = None,
    **properties: str,
) -> None:
    """S8: chunked bulk insert. ``numPartitions`` caps concurrent DB
    connections — at cluster scale the write parallelism should
    match what the database can absorb, not the executor count."""
    writer = df.write.mode(mode).format("jdbc")
    opts = {"url": url, "dbtable": table, "batchsize": str(batchsize), **properties}
    if num_partitions:
        opts["numPartitions"] = str(num_partitions)
    writer.options(**opts).save()
