"""ShrivastavaHash signatures for sparse fixed-dimension feature vectors.

Reference ShrivastavaHash (mh.h:1009-1177): signature j = the first
coordinate in hash-j's sampling order that is nonzero in the vector, so
P[sig_a[j] == sig_b[j]] = Jaccard of the supports.  q35 runs the one
builder here and checks it against its DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def shrivastava_registers_portable(nz, m: int, dim: int, time_fn) -> Column:
    """ShrivastavaHash registers over `nz`, an array of the vector's
    nonzero coordinate indices: register j = the support coordinate with
    the minimum sampling time `time_fn(d, j)`.  The reference probes
    wyhash(seed_j + t) mod ndim; an engine-portable integer time gives the
    same per-register random order without uint64 wraparound, which has no
    portable SQL form (same split as q25's cyclic densify).

    Ties are made unambiguous by minimizing key = time*dim + d (injective
    in d), so Spark and the SQL oracle agree bit-exactly.  Returns an
    array<long> of m winner coordinates."""
    # NB: bind j through a real closure — a two-parameter lambda (even with
    # a default) makes F.transform use its (element, index) form and the
    # second name silently becomes the array index column.
    def keys_for(j: int):
        return F.transform(nz, lambda d: time_fn(d, F.lit(j)) * dim + d)

    return F.array(*[F.array_min(keys_for(j)) % dim for j in range(m)])
