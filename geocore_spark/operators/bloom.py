"""Distributed Bloom filter + Bloom-prefiltered decontamination.

``operators/decontam.decontaminate`` broadcasts the benchmark's distinct
n-gram table to every executor. Eval suites are small, but a union of
many of them reaches 10^7-10^8 grams — an 80-800 MB broadcast (strings)
that every executor must hold while scanning 100 TB of corpus. A Bloom
filter carries the same membership answer in ``-n*ln(p)/ln(2)^2`` bits:
~12 MB for 10^7 grams at 1% false-positive rate, a 10-100x smaller
broadcast with zero false negatives.

Scale shape:
- **Build** is one pass over the (small) benchmark gram stream:
  ``mapInPandas`` folds each partition into a local m-bit bitmap, the
  driver ORs the per-partition bitmaps (P x m/8 bytes through the
  driver — bounded by the benchmark side's partition count, not the
  corpus). No gram ever leaves its partition.
- **Probe** is an Arrow-batched pandas UDF over the corpus gram stream:
  pure numpy bit tests against the broadcast bitmap, no join, no
  shuffle. Only Bloom *survivors* (true matches + fpr of the stream)
  continue.
- **Verify** joins the tiny survivor stream against the exact gram set,
  removing false positives, so ``decontaminate_bloom`` returns results
  identical to the exact operator. Because the survivor side is small,
  this join needs no broadcast of the full gram table — AQE picks the
  strategy for two small inputs.

The reference has no analogue (its labels are curated tables); this is
part of the beyond-reference LLM-pipeline surface, same family as
operators/decontam.py.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from geocore_spark.operators.decontam import _gram_rows
from geocore_spark.sources.stats import _bloom_set, _bloom_test

_MIN_BITS = 1024


def _params(capacity: int, fpr: float) -> tuple[int, int]:
    """(m_bits, k) for a target capacity and false-positive rate; m is
    rounded up to a whole byte, k clamped to [1, 16]."""
    if not 0.0 < fpr < 1.0:
        raise ValueError(f"fpr must be in (0, 1), got {fpr}")
    cap = max(1, capacity)
    m = max(_MIN_BITS, math.ceil(-cap * math.log(fpr) / math.log(2) ** 2))
    m = ((m + 7) // 8) * 8
    k = min(16, max(1, round(m / cap * math.log(2))))
    return m, k


def _split(h: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(h1, h2) of a 64-bit input hash for the shared double-hashing
    kernel (sources/stats._bloom_set/_bloom_test): h1 = low 32 bits,
    h2 = high 32 bits forced odd."""
    u = h.astype(np.int64).view(np.uint64)
    return u & np.uint64(0xFFFFFFFF), (u >> np.uint64(32)) | np.uint64(1)


@dataclass(frozen=True)
class BloomFilter:
    """Immutable bitmap + parameters; built once, broadcast to probes."""

    m_bits: int
    k: int
    bits: bytes

    def contains_np(self, h: np.ndarray) -> np.ndarray:
        """Vectorized membership test over an int64 hash array."""
        arr = np.frombuffer(self.bits, dtype=np.uint8)
        return _bloom_test(arr, *_split(h), self.k)


def build_bloom(
    hashes: DataFrame, capacity: int, fpr: float = 1e-2, hash_col: str = "gram"
) -> BloomFilter:
    """Fold a DataFrame of int64 hashes into a BloomFilter.

    One ``mapInPandas`` pass emits a partial bitmap per partition; the
    driver ORs them. Driver traffic is P x m/8 bytes — use this only on
    the SMALL side of a membership problem (the whole point of a Bloom
    filter is that the big side never materializes a set).
    """
    m_bits, k = _params(capacity, fpr)
    nbytes = m_bits // 8

    def fold(batches):
        local = np.zeros(nbytes, dtype=np.uint8)
        seen = False
        for pdf in batches:
            h = pdf[hash_col].to_numpy(dtype=np.int64, na_value=0)
            if h.size == 0:
                continue
            seen = True
            _bloom_set(local, *_split(h), k)
        if seen:
            yield pd.DataFrame({"bits": [local.tobytes()]})

    parts = hashes.select(F.col(hash_col)).mapInPandas(fold, "bits binary")
    acc = np.zeros(nbytes, dtype=np.uint8)
    for row in parts.collect():
        acc |= np.frombuffer(row.bits, dtype=np.uint8)
    return BloomFilter(m_bits=m_bits, k=k, bits=acc.tobytes())


def bloom_contains_udf(spark: SparkSession, bf: BloomFilter):
    """boolean Column fn testing an int64 hash column against ``bf``.

    The bitmap ships once per executor via a Spark broadcast; the probe
    is numpy-vectorized per Arrow batch (no join, no shuffle).
    """
    bc = spark.sparkContext.broadcast(bf)

    @pandas_udf("boolean")
    def probe(h: pd.Series) -> pd.Series:
        f = bc.value
        mask = f.contains_np(h.to_numpy(dtype=np.int64, na_value=0))
        return pd.Series(mask)

    def col_fn(c: Column) -> Column:
        return probe(c)

    return col_fn


def decontaminate_bloom(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str | None = None,
    fpr: float = 1e-2,
    verify: bool = True,
) -> DataFrame:
    """``decontaminate`` semantics behind a Bloom prefilter.

    Identical output to ``operators.decontam.decontaminate`` (pinned in
    tests): the Bloom test has no false negatives, and ``verify=True``
    (default) re-joins survivors against the exact gram set to strip
    false positives. ``verify=False`` keeps the pure-prefilter plan
    (no gram join at all) and over-reports by ~``fpr`` of the corpus
    gram stream — the audit-then-drop setting where a small
    over-flagging is acceptable.
    """
    spark = docs.sparkSession
    bcol = bench_text_col or text_col
    bench_grams = (
        _gram_rows(benchmark, None, bcol, n, hashed=False)
        .distinct()
        .withColumn("ghash", F.xxhash64("gram"))
        .persist()
    )
    try:
        cap = bench_grams.count()  # O(1) scalar; also materializes the persist
        if cap == 0:
            return (
                docs.select(F.col(id_col))
                .limit(0)
                .withColumn("overlap_ngrams", F.lit(0).cast("long"))
            )
        bf = build_bloom(bench_grams, capacity=cap, fpr=fpr, hash_col="ghash")
        contains = bloom_contains_udf(spark, bf)
        doc_grams = _gram_rows(docs, id_col, text_col, n, hashed=False)
        survivors = doc_grams.filter(contains(F.xxhash64("gram")))
        if verify:
            survivors = survivors.join(
                bench_grams.select("gram"), "gram"
            )
        return survivors.groupBy(id_col).agg(
            F.count_distinct("gram").cast("long").alias("overlap_ngrams")
        )
    finally:
        # The persist only amortizes the two EAGER passes (count + bitmap
        # build). The returned lazy plan's verify join recomputes the
        # benchmark gram stream at action time — small side, one scan —
        # which beats leaking a cached frame the caller never sees.
        bench_grams.unpersist()
