"""colcrush — a brand-new PySpark-native per-column lightweight-compression
analytics engine with the capability surface of parquet4s
(mjakubowski84/parquet4s, studied read-only at /root/reference), built
Spark-first from scratch (not a port).

Layers:
- ``colcrush.codecs``   pure numpy/pyarrow codec kernels (dict, RLE,
  FOR+bitpack, delta, FSST-style symbol compression, auto-selection)
- ``colcrush.engine``   distributed encode/decode over ``mapInArrow``,
  (repo, lang) partitioning with skew salting, chunk manifests with
  lineage + metrics, resumable restarts, chunk-skipping scans
- ``colcrush.sources``  parquet4s-style scan API parity (typed /
  projected / filtered / partitioned reads) on Spark sources
- ``colcrush.operators`` joins / concat / dedup (exact, MinHash-LSH,
  SimHash, n-gram Jaccard) / similarity search
- ``colcrush.functions`` text analysis (lang-id, quality, tokens,
  fingerprints) and multimodal column plumbing
- ``colcrush.streaming`` rotating partitioned sink semantics
"""

__version__ = "0.1.0"

from colcrush import _pyworker

_pyworker.install()
