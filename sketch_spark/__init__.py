"""sketch_spark — a PySpark-native near-duplicate detection & clustering engine.

Re-expresses the query capabilities of dnbaker/sketch (MinHash bottom-k/KMV,
one-permutation b-bit MinHash, weighted/ProbMinHash signatures, HyperLogLog
with the Ertl MLE + joint-MLE estimator tier, SetSketch, HyperMinHash,
Count-Min and count sketches, Bloom filters, HeavyKeeper top-k, LSH
candidate retrieval, pairwise Jaccard/containment/intersection estimation)
as idiomatic Spark DataFrame plans, plus the surrounding training-data
pipeline operators (exact/near dedup, SimHash, suffix-based exact-substring
dedup, connected-components clustering, text quality analysis).

Design rules (see SURVEY.md):
  * DataFrame/SQL first; the hot path stays inside whole-stage codegen
    (builtin hash functions, higher-order array functions, conditional-min
    aggregates). Pandas/Arrow UDFs only where built-ins cannot express the
    semantics (register densification, suffix fingerprints); never
    row-at-a-time Python.
  * Every sketch is a commutative monoid -> partial+final aggregation.
  * LSH hash tables are realized by shuffle on (band, key), never driver-side.
"""

from sketch_spark.session import get_spark

__version__ = "0.1.0"

__all__ = ["get_spark", "__version__"]
