"""Exact integer dot product behind every similarity cosine.

pipeline_similarity quantizes each embedding to int64 (``_QEMB``) and
computes every dot product with one fold, ``_dot``; ``_QNORM`` is the same
fold of a vector with itself.  Each product (< 2^46) and each 64-dim sum
(< 2^53) is exactly representable, so through Spark:

  * ``_dot`` and ``_QNORM`` must equal Python integer arithmetic exactly;
  * the cosine ``dot / (sqrt(na) * sqrt(nb))`` is a chain of single
    correctly-rounded IEEE operations, so it must be BIT-identical to
    ``d / (math.sqrt(na) * math.sqrt(nb))`` — the property the DuckDB
    oracle's hash compare relies on.

The vectors sit at the quantization bound (|q| <= 5.3e6), with negatives,
near-orthogonal pairs and rows of different widths.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from phoenix_spark.queries.pipeline_similarity import _QEMB, _QNORM, _SCALE, _dot

# magnitude bound of the quantized values (|x| <= ~0.53 * 1e7)
_M = 5_300_000

# NOTE: an all-zero vector is excluded — under ANSI mode (Spark 4 default)
# the cosine's 0/0 division errors, so no zero-norm row can produce one.
VEC_PAIRS = [
    ([_M] * 64, [_M] * 64),  # maximal dot: 64 * M² ≈ 1.8e15 (< 2^53)
    ([_M] * 64, [-_M] * 64),  # maximal negative
    ([_M, -_M] * 32, [-_M, _M] * 32),
    ([1] * 64, [1] * 64),
    ([(-1) ** i * (i * 77777 + 13) for i in range(64)],
     [(-1) ** (i + 1) * (i * 91919 + 7) for i in range(64)]),
    ([i + 1 for i in range(64)], [64 - i for i in range(64)]),
    ([_M, 1] * 32, [-1, _M] * 32),  # near-orthogonal: dot 0 against |q|² ~ 9e14
    ([_M, 2] * 32, [-1, _M] * 32),  # near-orthogonal: dot 32 * M
    # rows of different widths
    ([3, 4, 5], [6, 7, 8]),
    ([_M] * 8, [-_M] * 8),
    ([10], [20]),
]


def test_dot_norms_and_cosine_exact_through_spark(spark):
    rows = [
        (i, a, b, [x / _SCALE for x in a], [x / _SCALE for x in b])
        for i, (a, b) in enumerate(VEC_PAIRS)
    ]
    df = spark.createDataFrame(
        rows,
        "id bigint, q_a array<bigint>, q_b array<bigint>,"
        " emb_a array<double>, emb_b array<double>",
    )
    na = F.expr(_QNORM.replace("embedding", "emb_a"))
    nb = F.expr(_QNORM.replace("embedding", "emb_b"))
    dot = F.expr(_dot("q_a", "q_b"))
    got = {
        r["id"]: r
        for r in df.select(
            "id",
            F.expr(_QEMB.replace("embedding", "emb_a")).alias("qa"),
            F.expr(_dot("q_a", "q_a")).alias("self_dot"),
            na.alias("na"),
            nb.alias("nb"),
            dot.alias("dot"),
            (dot / (F.sqrt(na) * F.sqrt(nb))).alias("cosine"),
        ).collect()
    }
    assert sorted(got) == list(range(len(VEC_PAIRS)))
    for i, (a, b) in enumerate(VEC_PAIRS):
        r = got[i]
        d = sum(x * y for x, y in zip(a, b))
        n_a = sum(x * x for x in a)
        n_b = sum(x * x for x in b)
        assert r["qa"] == a, i  # quantization round-trips at the bound
        assert (r["dot"], r["self_dot"], r["na"], r["nb"]) == (d, n_a, n_a, n_b), i
        expect = d / (math.sqrt(n_a) * math.sqrt(n_b))
        assert r["cosine"] == expect, (i, r["cosine"], expect)  # EXACT
