"""Bloom-filter dedup pre-screen (operators/bloom.py): parameter
math, no-false-negatives guarantee, fpp ballpark, and the plan shape
(one byte-fold shuffle on build; screen is map-only)."""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from scratchdata_spark.operators import bloom as B


def test_bloom_params_textbook():
    m, k = B.bloom_params(1000, 0.01)
    assert m % 64 == 0
    assert 9000 <= m <= 10100  # -n ln(p)/ln2² ≈ 9585
    assert k in (6, 7)
    with pytest.raises(ValueError):
        B.bloom_params(0, 0.01)
    with pytest.raises(ValueError):
        B.bloom_params(10, 1.5)


def _corpus(spark, n=300, prefix="doc"):
    return spark.createDataFrame(
        [(i, f"{prefix} text number {i} with some words") for i in range(n)],
        "doc_id long, text string",
    )


def test_bloom_no_false_negatives_and_fpp_ballpark(spark):
    corpus = _corpus(spark, 300)
    bloom = B.build_bloom(corpus, "text", fpp=0.01)
    # every corpus member must screen as maybe (no false negatives)
    members = B.screen_new_against_bloom(corpus, bloom, "text")
    assert members.filter(~F.col("maybe_dup")).count() == 0
    # fresh strings: false-positive fraction in the fpp ballpark
    fresh = spark.createDataFrame(
        [(i, f"totally different content {i}") for i in range(2000)],
        "doc_id long, text string",
    )
    fps = (
        B.screen_new_against_bloom(fresh, bloom, "text")
        .filter(F.col("maybe_dup"))
        .count()
    )
    assert fps / 2000 < 0.05  # target 0.01; generous margin


def test_bloom_normalization_agrees_with_exact_tier(spark):
    """The screen keys on the same canonical form exact dedup hashes,
    so case/whitespace variants of corpus text still screen as
    maybe."""
    corpus = _corpus(spark, 50)
    bloom = B.build_bloom(corpus, "text")
    variant = spark.createDataFrame(
        [(999, "DOC   text Number 7 with  some words")],
        "doc_id long, text string",
    )
    got = B.screen_new_against_bloom(variant, bloom, "text").collect()[0]
    assert got.maybe_dup


def test_bloom_build_plan_single_shuffle(spark):
    """The build's only exchange is the byte-index fold (≤ m/8 rows,
    asserted on the build's OWN plan — reviewer catch: gating only
    the screen left the build's shuffle claim untested); the screen
    itself adds no exchange over the input."""
    corpus = _corpus(spark, 100)
    m, k = B.bloom_params(100, 0.01)
    build_plan_df = B._bloom_bytes_df(corpus, "text", m, k, True)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        # simple mode prints each node once (formatted lists every
        # node twice: tree + detail section)
        build_plan_df.explain(mode="simple")
    bp = buf.getvalue()
    assert bp.count("Exchange") == 1, bp  # the byte fold, nothing else
    bloom = B.build_bloom(corpus, "text", expected_items=100)
    screened = B.screen_new_against_bloom(corpus, bloom, "text")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        screened.explain(mode="formatted")
    p = buf.getvalue()
    assert "Exchange" not in p, p
    assert "MapInPandas" in p


def test_bloom_dict_carries_normalization(spark):
    """The screen takes its normalization from the bloom dict — a
    raw-built filter screened as-if-normalized (or vice versa) would
    silently yield false negatives (wrong dup_exact=False)."""
    corpus = spark.createDataFrame(
        [(1, "MiXeD Case   Text")], "doc_id long, text string"
    )
    raw = B.build_bloom(corpus, "text", normalized=False)
    assert raw["normalized"] is False
    got = B.screen_new_against_bloom(corpus, raw, "text").collect()[0]
    assert got.maybe_dup  # raw build + raw screen agree

