"""Bloom-filter prefilters: approximate key membership that is cheap
to build, tiny to ship, and reusable across jobs.

Where Spark's own runtime row-level bloom filtering
(``spark.sql.optimizer.runtime.bloomFilter.enabled``) injects filters
WITHIN one query, this operator covers what the optimizer cannot:

- **cross-job reuse** — build the filter over today's corpus once,
  persist the (m-bit) bitmap next to the data, and prefilter every
  future ingest batch ("seen this content hash before?") without
  touching the corpus again. The approximate twin of
  ``functions/dedup.py::lsh_index`` for EXACT-duplicate screening.
- **pre-shuffle reduction** — when the filter side is too big to
  broadcast as rows but its key set fits a few MB of bits, prefilter
  the probe side BEFORE its shuffle: only possible-matches (+ the
  bounded false-positive sliver) pay the exchange; an exact join
  afterwards removes the false positives.

Hashing runs entirely JVM-side (``xxhash64`` with k seeds, the same
function both at build and probe time — no Python/JVM hash-parity
hazard); Python's only job is the vectorized bitmap probe of
precomputed positions via a broadcast numpy array.

No false negatives, ever: a key present at build time always passes
the prefilter. False-positive rate follows the standard
``(1 - e^(-k·n/m))^k``.
"""

from __future__ import annotations

import threading
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Hard cap on filter size: 64 MiB of bits. A bloom that wants more
#: belongs partitioned (one filter per key range), not on one driver.
MAX_M_BITS = 1 << 29

#: Guards every BloomFilter's broadcast-cache check-then-set (and the
#: matching release pop) — see bloom_might_contain.
_BC_CACHE_LOCK = threading.Lock()


@dataclass(frozen=True)
class BloomFilter:
    """Immutable built filter: the bitmap plus its parameters. The
    bitmap is plain bytes — persist it anywhere (a parquet binary
    cell, an object-store blob) and reconstruct with ``BloomFilter(
    bits=..., m_bits=..., k=...)``."""

    bits: bytes
    m_bits: int
    k: int

    def __getstate__(self):
        # the per-application broadcast cache is session-local runtime
        # state — never serialize it (persistence contract is the bits)
        d = dict(self.__dict__)
        d.pop("_bc", None)
        return d

    def release(self, spark) -> None:
        """Unpersist this filter's cached bitmap broadcast (if any) in
        ``spark``'s context — call after a per-batch reuse loop ends to
        free executor/driver memory before the filter itself goes
        away."""
        with _BC_CACHE_LOCK:
            cache = getattr(self, "_bc", None)
            bc = cache.pop(spark.sparkContext.applicationId, None) if cache else None
        if bc is not None:
            bc.unpersist()

    @staticmethod
    def size_for(n_keys: int, fpp: float = 0.01) -> tuple[int, int]:
        """Textbook (m, k) for a target false-positive rate:
        m = -n·ln(p)/ln(2)², k = (m/n)·ln(2)."""
        import math

        m = min(int(-n_keys * math.log(fpp) / (math.log(2) ** 2)) + 1, MAX_M_BITS)
        # k from the ACTUAL (possibly capped) m: an fpp-optimal k for a
        # bitmap we refused to allocate would overfill the smaller one
        # and blow the realized false-positive rate even further.
        k = max(1, round(m / max(n_keys, 1) * math.log(2)))
        return m, k


def _positions(key: Column, m_bits: int, k: int) -> Column:
    """The k bit positions of a key: pmod(xxhash64(seed, key), m) per
    seed — all JVM expressions, identical at build and probe. NULL
    keys yield a NULL array EXPLICITLY: xxhash64 *ignores* NULL
    arguments (it returns the seed's hash, not NULL), so without this
    guard every NULL key would silently collapse onto one shared
    pseudo-key at both build and probe."""
    arr = F.array(
        *[F.pmod(F.xxhash64(F.lit(s), key), F.lit(m_bits)) for s in range(k)]
    )
    return F.when(key.isNotNull(), arr)


def bloom_build(
    df: DataFrame,
    key_col: str,
    *,
    n_keys: int | None = None,
    fpp: float = 0.01,
    m_bits: int | None = None,
    k: int | None = None,
) -> BloomFilter:
    """Build a bloom filter over ``df[key_col]`` in one distributed
    pass: bit positions fold into 64-bit WORDS on the cluster
    (``groupBy(word) agg(bit_or)`` — map-side partial aggregation does
    most of the OR-ing before the one shuffle), so the driver receives
    at most ``min(k·n, m/64)`` (word, bits) rows — 64× fewer than
    collecting raw positions, bounded by the bitmap itself.

    Size either explicitly (``m_bits``/``k``) or by target ``fpp``
    with ``n_keys`` (defaults to a ``count()`` pass when omitted).
    """
    if m_bits is None or k is None:
        n = n_keys if n_keys is not None else df.select(key_col).count()
        m_bits, k = BloomFilter.size_for(n, fpp)
    if m_bits > MAX_M_BITS:
        raise ValueError(f"m_bits {m_bits} exceeds cap {MAX_M_BITS}")
    # explode() of the NULL-key arrays emits nothing, so only real
    # keys' positions reach the word fold.
    word_rows = (
        df.select(
            F.explode(_positions(F.col(key_col), m_bits, k)).alias("p")
        )
        .select(
            F.shiftright(F.col("p"), 6).alias("w"),
            F.expr("shiftleft(1L, CAST(pmod(p, 64) AS INT))").alias("b"),
        )
        .groupBy("w")
        .agg(F.bit_or("b").alias("bits"))
        .collect()
    )
    n_words = (m_bits + 63) // 64
    words = np.zeros(n_words, dtype=np.uint64)
    for r in word_rows:
        words[r["w"]] = np.uint64(r["bits"] & 0xFFFFFFFFFFFFFFFF)
    # little-endian uint64 view: byte (p>>3) of the byte array is byte
    # ((p>>3) & 7) of word (p>>6) — matching the probe's bit math.
    bits = words.view(np.uint8)[: (m_bits + 7) // 8]
    return BloomFilter(bits=bits.tobytes(), m_bits=m_bits, k=k)


def bloom_might_contain(
    df: DataFrame, bloom: BloomFilter, key_col: str
) -> Column:
    """Boolean probe column: True when every one of the key's k bits is
    set. Positions come from the same JVM xxhash64 expressions as the
    build; the broadcast numpy bitmap answers them in one vectorized
    pandas batch. NULL keys probe False (a NULL never matched a key).

    The bitmap broadcast is CACHED on the filter per Spark application
    (the advertised reuse loop probes one filter across many ingest
    batches — a fresh broadcast per call would accumulate bitmap
    copies on the driver and executors for the session lifetime); call
    :meth:`BloomFilter.release` when done with a filter."""
    from pyspark.sql.functions import pandas_udf

    sc = df.sparkSession.sparkContext
    # One lock for every filter's check-then-set: without it, two
    # threads first-probing the same filter concurrently each create a
    # bitmap broadcast and the loser leaks until application end.
    # Broadcasting inside the lock is fine — it's a bounded local op,
    # and first-probe contention is rare by construction.
    with _BC_CACHE_LOCK:
        cache = getattr(bloom, "_bc", None)
        if cache is None:
            cache = {}
            object.__setattr__(bloom, "_bc", cache)  # non-field slot on the frozen dataclass
        bc = cache.get(sc.applicationId)
        if bc is None:
            bc = sc.broadcast(np.frombuffer(bloom.bits, dtype=np.uint8))
            cache[sc.applicationId] = bc

    @pandas_udf("boolean")
    def _probe(positions: pd.Series) -> pd.Series:
        # Fully vectorized across the Arrow batch: stack the k-position
        # rows into one (n, k) int matrix and answer every probe with
        # two numpy indexing ops — a per-row Python loop here was the
        # whole cost of the operator (measured 9.1s → 0.9s for a 600k-row
        # probe at sf0.1).
        bits = bc.value
        out = np.zeros(len(positions), dtype=bool)
        valid = positions.notna()
        if valid.any():
            arr = np.asarray(positions[valid].tolist(), dtype=np.int64)
            hit = bits[arr >> 3] & (1 << (arr & 7)).astype(np.uint8)
            out[valid.to_numpy()] = np.all(hit != 0, axis=1)
        return pd.Series(out)

    return _probe(_positions(F.col(key_col), bloom.m_bits, bloom.k))


def bloom_prefilter(
    df: DataFrame, bloom: BloomFilter, key_col: str
) -> DataFrame:
    """Keep only rows whose key MIGHT be in the filter (exact matches
    always survive; a bounded false-positive sliver rides along)."""
    return df.where(bloom_might_contain(df, bloom, key_col))


def bloom_semi_join(
    big: DataFrame,
    small: DataFrame,
    key_col: str,
    *,
    fpp: float = 0.01,
) -> DataFrame:
    """Exact semi-join with a bloom prefilter on the probe side: the
    big side sheds non-matches BEFORE its shuffle, then the exact join
    removes the false positives. Same result as
    ``big.join(small, key, 'left_semi')`` — cheaper exchange when the
    match fraction is small and ``small`` is too big to broadcast."""
    bloom = bloom_build(small, key_col, fpp=fpp)
    return bloom_prefilter(big, bloom, key_col).join(
        small.select(key_col), key_col, "left_semi"
    )
