"""warps_nutch_spark — a PySpark-native crawl frontier + fetch scheduler.

A from-scratch re-expression of the generate → fetch → parse → updatedb
crawl cycle of galaxyeye/warps-nutch (Apache Nutch 2.3 fork) on idiomatic
Spark DataFrames:

- frontier = a big keyed table (url_hash) stored as parquet snapshots
  (Iceberg MERGE INTO on a real cluster; see ``store.frontier``),
- generate = window-rank top-N per host (Nutch Generator semantics),
- fetch = politeness-sequenced simulated protocol inside one
  ``mapInPandas`` call per partition of the queue plan (a repartition
  by host puts each host queue in one task), decoding the payloads it
  renders,
- parse = signature + outlink processing projected on the fetch
  result, and the fetched-row gate over it,
- updatedb = posexplode(outlinks) + OPIC cash distribution +
  groupBy(url) merge back into the frontier (the URL-seen dedup),
- URL-seen = partitioned Bloom filter pre-screen with an exact frontier
  semi-join as ground truth.

All semantics derive from public knowledge: the Apache Nutch 2.3 sources
in the read-only reference checkout, and the PySpark API. No code is
ported; reference files are cited by path:line in docstrings for parity
checking only.
"""

__version__ = "0.1.0"
