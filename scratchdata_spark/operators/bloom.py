"""Bloom-filter pre-screen for incremental dedup: a compact corpus
fingerprint that lets MOST of a new crawl increment skip the
corpus semi-join entirely.

At 100 TB the exact tier of :func:`dedup.dedup_against_corpus`
shuffles the increment's digests against the corpus digest set every
run.  A Bloom filter over the corpus digests is built ONCE per corpus
version (kilobytes–gigabytes depending on n and fpp — same
lifecycle as the MinHash band index), and each increment then
pre-screens map-side: a digest the filter rejects is DEFINITELY new
(Bloom filters have no false negatives), so only the ~fpp false-
positive slice plus the true duplicates ever reach the exact join.
For the common crawl-increment case (most documents are new) that
removes almost the whole join input.

Spark-first construction — no RDDs, no driver-side row loops:

* bit positions compute as COLUMN EXPRESSIONS (double hashing,
  Kirsch–Mitzenmacher: ``pos_i = (h1 + i·h2) mod m`` with two
  xxhash64 seeds — the standard construction, preserving the Bloom
  bound with only 2 base hashes);
* positions fold into bytes via one ``groupBy(byte_index)`` +
  ``bit_or`` aggregation — the ONLY shuffle, carrying at most
  ``m/8`` skinny rows regardless of corpus size;
* the driver collects ≤ ``m/8`` (byte_index, byte) rows into a numpy
  bitmap (a bounded, documented collect — the same contract as the
  PQ codebook sample);
* membership tests run as a vectorized numpy gather inside an Arrow
  batch, the bitmap riding the task closure like the PQ LUTs.

The screen is a PRUNE, never a verdict: callers confirm survivors
with the exact semi-join, so false positives cost a join row, not a
wrong answer.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from scratchdata_spark.operators.dedup import normalize_text

_SEED1 = 0x51ED
_SEED2 = 0x2B10AF


def bloom_params(expected_items: int, fpp: float = 0.01) -> tuple[int, int]:
    """(m bits, k hashes) for the target false-positive rate —
    the textbook optimum m = -n·ln(p)/ln(2)², k = (m/n)·ln(2)."""
    if expected_items <= 0 or not (0.0 < fpp < 1.0):
        raise ValueError("bloom_params: need items > 0 and 0 < fpp < 1")
    m = max(64, int(-expected_items * math.log(fpp) / (math.log(2) ** 2)))
    m = (m + 63) // 64 * 64  # whole words
    k = max(1, round(m / expected_items * math.log(2)))
    return m, k


def _positions(col: Column, m: int, k: int) -> Column:
    """Array of the k bit positions for a value — pure column algebra
    (two xxhash64 evaluations, k affine combinations).  pmod keeps
    positions non-negative; h2 is forced odd, which avoids the
    degenerate h2≡0 stride.  (m is only a multiple of 64, so an odd
    h2 can still share an odd factor with m and probe a coset — the
    Kirsch–Mitzenmacher bound needs only the two independent base
    hashes, not full-cycle strides, so the fpp target stands; see
    the soak's measured 0.95–1.3% vs the 1% target.)"""
    # reduce mod m BEFORE the affine combination: raw xxhash64 values
    # span the full long range, so h2*2 or i*h2 would overflow under
    # Spark 4 ANSI arithmetic; reduced operands bound every
    # intermediate at k·m (fine for any realistic bitmap)
    h1 = F.pmod(F.xxhash64(col, F.lit(_SEED1)), F.lit(m))
    h2 = F.pmod(
        F.pmod(F.xxhash64(col, F.lit(_SEED2)), F.lit(m)) * 2 + 1, F.lit(m)
    )
    return F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda i: F.pmod(h1 + i.cast("long") * h2, F.lit(m)),
    )


def build_bloom(
    df: DataFrame,
    col: str = "text",
    expected_items: int | None = None,
    fpp: float = 0.01,
    normalized: bool = True,
) -> dict:
    """Corpus fingerprint: {bits: numpy uint8 bitmap, m, k, fpp}.

    ``expected_items=None`` counts the corpus first (one aggregate).
    ``normalized=True`` keys on the canonical hashing form
    (lowercased, whitespace-collapsed) so the screen agrees with
    exact_dedup/dedup_against_corpus fingerprints."""
    import numpy as np

    if expected_items is None:
        expected_items = df.count()
    m, k = bloom_params(max(1, expected_items), fpp)
    bytes_df = _bloom_bytes_df(df, col, m, k, normalized)
    bits = np.zeros(m // 8, dtype=np.uint8)
    # bounded fetch: ≤ m/8 rows by construction (the byte index
    # space), independent of corpus size — and VECTORIZED through
    # Arrow: a per-row python loop over collect() Rows would cost
    # ~100× the bitmap in driver memory at gigabyte-bitmap scale
    pdf = bytes_df.toPandas()
    bits[pdf["__byte"].to_numpy()] = pdf["__or"].to_numpy().astype(np.uint8)
    return {
        "bits": bits, "m": m, "k": k, "fpp": fpp, "normalized": normalized,
    }


def _bloom_bytes_df(
    df: DataFrame, col: str, m: int, k: int, normalized: bool
) -> DataFrame:
    """The build's whole distributed plan (exposed so the plan gate
    can assert its single byte-fold exchange)."""
    key = normalize_text(F.col(col)) if normalized else F.col(col)
    return (
        df.select(F.explode(_positions(key, m, k)).alias("__pos"))
        .select(
            (F.col("__pos") / 8).cast("long").alias("__byte"),
            # SQL shiftleft accepts column operands (the pyspark
            # helper wants a literal int for numBits)
            F.expr(
                "CAST(shiftleft(1L, CAST(pmod(__pos, 8) AS INT)) AS LONG)"
            ).alias("__bit"),
        )
        .groupBy("__byte")
        .agg(F.bit_or("__bit").alias("__or"))
    )


def screen_new_against_bloom(
    new_df: DataFrame,
    bloom: dict,
    col: str = "text",
    out_col: str = "maybe_dup",
) -> DataFrame:
    """new_df + ``out_col`` boolean: False ⇒ DEFINITELY not in the
    corpus (no false negatives), True ⇒ confirm with the exact join.
    The k positions compute JVM-side; the bitmap gather is one
    vectorized numpy pass per Arrow batch (the bitmap rides the task
    closure — broadcast once per executor, like the PQ LUTs).

    The normalization choice comes FROM THE BLOOM DICT, never a
    parameter: screening raw text against a normalized-build bitmap
    (or vice versa) yields silent false negatives — wrong
    dup_exact=False verdicts — which is exactly the error class this
    module promises away (reviewer catch)."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import BooleanType, StructField, StructType

    bits, m, k = bloom["bits"], bloom["m"], bloom["k"]
    key = (
        normalize_text(F.col(col))
        if bloom.get("normalized", True)
        else F.col(col)
    )
    staged = new_df.withColumn("__bloom_pos", _positions(key, m, k))
    schema = StructType(
        [f for f in staged.schema.fields if f.name != "__bloom_pos"]
        + [StructField(out_col, BooleanType())]
    )
    cols = [f.name for f in staged.schema.fields if f.name != "__bloom_pos"]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pos = pdf["__bloom_pos"]
            if len(pos) == 0:
                yield pdf[cols].assign(**{out_col: pd.Series(dtype=bool)})
                continue
            mat = np.stack([np.asarray(p, dtype=np.int64) for p in pos])
            hit = (bits[mat >> 3] >> (mat & 7).astype(np.uint8)) & 1
            out = pdf[cols].copy()
            out[out_col] = hit.all(axis=1)
            yield out

    return staged.mapInPandas(run, schema)

