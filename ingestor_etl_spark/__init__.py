"""ingestor_etl_spark — a PySpark-native analytics/ETL engine.

A brand-new, idiomatic PySpark implementation of the query and
data-processing capabilities of the reference telecom-signaling ETL
(paicbd/ingestor-etl, surveyed in /root/repo/SURVEY.md), plus the
large-scale training-data-pipeline operators (dedup, similarity
search, multimodal plumbing, text analysis).

Layout:
  session    — tuned SparkSession builder (AQE, shuffle sizing, Arrow)
  functions/ — scalar column kit (BCD, NAI, hex, text, vector math)
  sources/   — pcap/pcapng frame source, parquet/jdbc readers
  protocols/ — pure-Python packet decoders (Diameter, GTP, SIP, ...)
  operators/ — relational operators (correlate, sessionize, enrich,
               dedup, minhash/simhash/jaccard, ANN, reassembly)
  streaming/ — Structured Streaming variants (keyed state, ledger)
  sinks/     — JDBC/parquet writers with pre-generated ids
"""

from ingestor_etl_spark._zipcache import install_in_worker
from ingestor_etl_spark.session import get_spark  # noqa: F401

# a no-op on the driver; see _zipcache for the per-task cost it removes
install_in_worker()

__version__ = "0.1.0"
