"""cis455crawler_spark — a PySpark-native rebuild of the query/data-processing
capabilities of ssn2013/cis455Crawler (reference at /root/reference, read-only).

NOT a port: the reference is a Java servlet + BerkeleyDB + hand-rolled MapReduce
search-engine stack; this package re-expresses its semantics as declarative
pyspark.sql DataFrame plans (Catalyst/Tungsten pick the physical strategy),
with Arrow-batched pandas UDFs only where built-ins cannot express the
semantics (HTML link/text extraction).

Subpackages:
  functions/  — scalar column functions (URL quirks, hashing, text, robots)
  sources/    — synthetic Common-Crawl-style corpus, seeds, snapshot table store
  operators/  — dedup (exact + cuckoo + fuzzy), scheduler, pagerank, indexer,
                search, similarity, multimodal plumbing
  plans/      — the crawl round loop (frontier scheduler) with checkpoint/resume
  streaming/  — event-feed windows (batch or Structured Streaming), batch
                sessionization, incremental index upkeep over a page stream
"""

__version__ = "0.1.0"
