"""divolte_collector_spark — a PySpark-native analytics engine with the
query and data-processing capabilities of divolte/divolte-collector.

The reference (studied at /root/reference/) is a clickstream event
collector: two streaming sources with a precise wire protocol, a
per-event mapping DSL (~120 operators), client-driven sessionization,
probabilistic dedup, and four sinks.  This package re-expresses that
surface Spark-first:

- ``sources``   — wire-protocol parsers (browser GET params, JSON POST)
                  as DataFrame → DataFrame transforms.
- ``mapping``   — the mapping-DSL compiler: declarative mapping spec →
                  a single guarded ``select`` expression tree that
                  Catalyst optimizes.
- ``functions`` — the scalar function library (base36, identifiers,
                  query-string multimap, mincode, checksums, digests,
                  user-agent, geo-IP).
- ``operators`` — engine extensions: sessionization, dedup families
                  (exact / minhash-LSH / simhash / n-gram Jaccard),
                  similarity search, text analysis, multimodal plumbing.
- ``streaming`` — Structured Streaming ingest, watermarked dedup,
                  session windows, Avro/Kafka sink framing.
- ``queries``   — the registered analytic query surface (driver-gated
                  against a DuckDB oracle).
"""

__version__ = "0.1.0"

# Every Python-worker task imports this package (functions unpickle by
# reference), so this is where the workers get the cheap zip re-check.
from divolte_collector_spark import zipcache

zipcache.install()

from divolte_collector_spark.session import get_spark  # noqa: E402,F401
