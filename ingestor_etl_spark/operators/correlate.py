"""Request/response correlation (SURVEY §2.4 J1, J4).

The reference correlates requests with answers via an in-memory dict
keyed by the transaction id and enriches both sides bidirectionally,
emitting unmatched leftovers at EOF (diameter.py:302-339, 580-589;
http_ocs_ingestor.py:503-595). In Spark this is a full-outer
equi-join + ``coalesce`` — the unmatched census falls out of the
join for free, and the shuffle partitions by the transaction key
exactly like the dict hashing did, but with spill and 1000-executor
scale.

Scale notes: the join shuffles both sides on ``on``; at 100 TB with
a skewed key AQE's skew-join splitting applies. If one side is a
small control stream, pass it broadcast=True.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def correlate_full_outer(
    requests: DataFrame,
    responses: DataFrame,
    on: Sequence[str],
    enrich: Mapping[str, tuple[str, str]] | None = None,
    how: str = "full_outer",
) -> DataFrame:
    """Join requests to responses on the transaction key.

    ``enrich`` maps output column → (request_col, response_col);
    the output is ``coalesce(request_col, response_col)`` — the
    bidirectional copy-whichever-side-has-it enrichment
    (diameter.py:317-332). Key columns are coalesced across sides;
    a boolean ``matched`` column marks full pairs.

    Marker columns: the first non-key column of each input is used
    to detect row presence, so inputs must carry at least one
    non-null non-key column (e.g. their event/frame id).
    """
    on = list(on)
    req_marker = next(c for c in requests.columns if c not in on)
    res_marker = next(c for c in responses.columns if c not in on)
    joined = requests.join(responses, on=on, how=how)
    out = joined.withColumn(
        "matched",
        F.col(req_marker).isNotNull() & F.col(res_marker).isNotNull(),
    )
    for out_col, (req_col, res_col) in (enrich or {}).items():
        out = out.withColumn(out_col, F.coalesce(F.col(req_col), F.col(res_col)))
    return out
