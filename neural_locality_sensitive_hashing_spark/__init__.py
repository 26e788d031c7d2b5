"""PySpark-native near-duplicate detection + clustering engine.

A from-scratch re-imagination of the semantics of
``stegben/neural-locality-sensitive-hashing`` (reference at /root/reference,
read-only) as a Spark-first LSH dedup stack:

    pages -> extract text -> shingle -> MinHash signature -> LSH banding
          -> bucket self-join (candidate pairs) -> exact-Jaccard verify
          -> union-find -> near-duplicate clusters

Union-find runs on the driver while the edges fit its 256 MiB ceiling,
and as distributed label propagation above it
(operators/connected_components.py).

The reference trains a neural encoder mapping vectors to h-bit codes and
probes an in-memory inverted index (``nlsh/indexer.py:6-96``); here the
"index" is never materialized — ``groupBy``/self-``join`` on the bucket
column *is* the index, and all kernels are vectorized pandas/Arrow UDFs or
native Catalyst expressions (no per-row Python).
"""

__version__ = "0.1.0"

from neural_locality_sensitive_hashing_spark import zipcache
from neural_locality_sensitive_hashing_spark.config import DedupConfig
from neural_locality_sensitive_hashing_spark.session import spark_session

# every Python worker that unpickles an engine function imports this
# package, so each pays the per-task zip re-read at most until here
zipcache.install()

__all__ = ["DedupConfig", "spark_session", "__version__"]
