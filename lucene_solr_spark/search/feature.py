"""FeatureField / FeatureQuery — static, query-independent ranking
signals (pagerank, url length, recency...) stored IN the inverted
index so they ride the postings skip machinery.

Reference: lucene/core/src/java/org/apache/lucene/document/
FeatureField.java — feature values are encoded into the term
FREQUENCY of a pseudo-term (the feature name) inside a dedicated
features field: ``tf = floatToIntBits(value) >>> 15`` keeps the top 9
significant bits (relative precision 2^-8, FeatureField.java:60-64).
Query-side (FeatureQuery.java) the tf decodes back to the value and
one of three monotone functions turns it into a score:

  log:  w * ln(a + S)                 (FeatureField.java LogFunction)
  satu: w * S / (S + k)  computed as  w * (1 - k / (S + k))
  sigm: w * S^a / (S^a + k^a)  as  w * (1 - k^a / (S^a + k^a))

With the saturation pivot omitted, it is derived from index stats at
rewrite time: ``pivot = decodeFeatureValue((float)(ttf / df))``
(FeatureField.java:508-520 computePivotFeatureValue).

Spark rendering: feature postings are ordinary rows of the postings
table (field = the features field, term = feature name, tf = encoded
value) appended by :func:`lucene_solr_spark.index.features.add_features`,
so a FeatureQuery leaf is the same bucket-pruned postings scan as a
TermQuery — no separate storage. Scoring is one Arrow-batched pandas
UDF with the reference's float disciplines: satu is all-float32
arithmetic, log/sigm compute in float64 and cast once
(FeatureField.java:246-249, 318-321, 371-380).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

from .queries import Query

# Float.MAX_VALUE bits >>> 15 (FeatureField.java:198 MAX_FREQ)
MAX_FREQ = 0x7F7FFFFF >> 15
# Float.MIN_NORMAL (smallest positive normal float32)
MIN_NORMAL = np.float32(2.0) ** -126
# weights above this would drown query-dependent scores
# (FeatureField.java:404 MAX_WEIGHT = Long.SIZE)
MAX_WEIGHT = 64.0


def encode_feature_value(value: float) -> int:
    """float feature value -> posting tf (FeatureField.java:153-156
    ``freqBits = floatToIntBits(v) >>> 15``). Raises on non-finite or
    subnormal/zero/negative values exactly like setFeatureValue."""
    v = np.float32(value)
    if not np.isfinite(v):
        raise ValueError(f"featureValue must be finite, got: {value}")
    if v < MIN_NORMAL:
        raise ValueError(
            f"featureValue must be a positive normal float, got: {value}")
    return int(v.view(np.int32)) >> 15


def decode_feature_value(freq) -> np.ndarray:
    """posting tf (int array) -> float32 feature value array
    (FeatureField.java:200-210): tf <= MAX_FREQ always holds for
    encoded values; larger inputs clamp to Float.MAX_VALUE."""
    tf = np.asarray(freq, dtype=np.int64)
    bits = (np.minimum(tf, MAX_FREQ).astype(np.int32) << np.int32(15))
    out = bits.view(np.float32).copy()
    out[tf > MAX_FREQ] = np.float32(np.finfo(np.float32).max)
    return out


def encode_feature_values_np(values: np.ndarray) -> np.ndarray:
    """Vectorized encoder for the build path (same validation)."""
    v = np.asarray(values, dtype=np.float32)
    if not np.all(np.isfinite(v)):
        raise ValueError("featureValue must be finite")
    if np.any(v < MIN_NORMAL):
        raise ValueError("featureValue must be a positive normal float")
    return (v.view(np.int32) >> np.int32(15)).astype(np.int64)


def compute_pivot(df: int, ttf: int) -> float:
    """Default saturation pivot from index stats
    (FeatureField.java:508-520): decode((float)((double)ttf / df));
    df == 0 -> 1 (legal placeholder, the term never matches)."""
    if df == 0:
        return 1.0
    avg_freq = np.float32(np.float64(ttf) / np.float64(df))
    return float(decode_feature_value(np.array([int(avg_freq)]))[0])


def feature_scores(function: str, tf: np.ndarray, weight: float,
                   scaling_factor: float = 1.0, pivot: float | None = None,
                   exponent: float = 1.0) -> np.ndarray:
    """Exact-float-discipline scores for a batch of posting tfs.

    log  (FeatureField.java:246-249): (float)(w * Math.log(a + S)) —
          double math, one cast.
    satu (FeatureField.java:318-321): w * (1 - k / (S + k)) — float32
          arithmetic throughout (all operands are Java floats).
    sigm (FeatureField.java:371-380): (float)(w * (1 - k^a / (S^a +
          k^a))) — pivotPa = Math.pow(pivot, a) double, one cast.
    """
    s = decode_feature_value(tf)
    if function == "log":
        return np.float32(
            np.float64(np.float32(weight))
            * np.log(np.float64(np.float32(scaling_factor))
                     + s.astype(np.float64)))
    if function == "satu":
        w = np.float32(weight)
        k = np.float32(pivot)
        return (w * (np.float32(1) - k / (s + k))).astype(np.float32)
    if function == "sigm":
        w = np.float64(np.float32(weight))
        a = np.float64(np.float32(exponent))
        pivot_pa = math.pow(np.float64(np.float32(pivot)), a)
        sa = np.power(s.astype(np.float64), a)
        return np.float32(w * (1.0 - pivot_pa / (sa + pivot_pa)))
    raise ValueError(f"unknown feature function {function!r}")


@dataclass(frozen=True)
class FeatureQuery(Query):
    """One feature clause (FeatureQuery.java). ``weight`` is the
    BoostQuery wrapper the newXxxQuery factories apply
    (FeatureField.java:419-424); enclosing-query boosts multiply in."""
    field: str
    feature: str
    function: str  # "log" | "satu" | "sigm"
    weight: float = 1.0
    scaling_factor: float = 1.0  # log: a >= 1
    pivot: float | None = None   # satu/sigm: k > 0 (None -> from stats)
    exponent: float = 1.0        # sigm: a in (0, 1]


def _check_weight(weight: float) -> None:
    if not (0 < weight <= MAX_WEIGHT):
        raise ValueError(f"weight must be in (0, {MAX_WEIGHT}], got: {weight}")


def new_log_query(field: str, feature: str, weight: float = 1.0,
                  scaling_factor: float = 1.0) -> FeatureQuery:
    """w * ln(a + S) (FeatureField.java:415-428 newLogQuery)."""
    _check_weight(weight)
    if not (scaling_factor >= 1 and math.isfinite(scaling_factor)):
        raise ValueError(f"scalingFactor must be >= 1, got: {scaling_factor}")
    return FeatureQuery(field, feature, "log", weight,
                        scaling_factor=scaling_factor)


def new_saturation_query(field: str, feature: str, weight: float = 1.0,
                         pivot: float | None = None) -> FeatureQuery:
    """w * S / (S + k); pivot=None derives k from index stats at
    rewrite (FeatureField.java newSaturationQuery both overloads)."""
    _check_weight(weight)
    if pivot is not None and not (pivot > 0 and math.isfinite(pivot)):
        raise ValueError(f"pivot must be > 0, got: {pivot}")
    return FeatureQuery(field, feature, "satu", weight, pivot=pivot)


def new_sigmoid_query(field: str, feature: str, weight: float,
                      pivot: float, exponent: float) -> FeatureQuery:
    """w * S^a / (S^a + k^a) (FeatureField.java newSigmoidQuery)."""
    _check_weight(weight)
    if not (pivot > 0 and math.isfinite(pivot)):
        raise ValueError(f"pivot must be > 0, got: {pivot}")
    if not (exponent > 0 and math.isfinite(exponent)):
        raise ValueError(f"exp must be > 0, got: {exponent}")
    return FeatureQuery(field, feature, "sigm", weight, pivot=pivot,
                        exponent=exponent)
