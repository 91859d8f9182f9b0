"""Similarity search over embeddings (SURVEY.md §7 M8).

Beyond-reference surface for LLM pipelines: cosine top-k over the
`embeddings` fixture (embedding: array<float>, 64 dims).

Determinism design: cosine is computed over *quantized integer* vectors —
each float is scaled by 1e7 and rounded to int64.  With |x| ≤ ~0.53 and 64
dims, every product (< 2^46) and partial sum (< 2^53) is exactly
representable, so the integer dot product and norms are EXACT on both
engines and the final double (dot / (sqrt(na)*sqrt(nb))) is bit-identical —
a true value-hash oracle for a vector-similarity operator.

Scale shapes:
  * brute-force top-k: broadcast the query vector, one pass over N rows, a
    TakeOrderedAndProject cut — the exact-baseline any ANN variant is
    measured against.  O(N·d) per query, embarrassingly parallel.
  * LSH-bucketed near-dup pairs: banded sign-projection (8 bands x 8
    deterministic hyperplanes), candidate pairs from an equi-join on
    (band, 8-bit sign key) — never all-pairs; candidates verified with
    exact cosine.  The hyperplanes are integer-parity mixes, so the DuckDB
    oracle reproduces the exact band buckets and the hash compare pins
    bucketing + banding + verification end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from phoenix_spark.queries._util import Registry, spread, t

REG = Registry()

_SCALE = 10_000_000

# Quantized embedding: array<long>, exact in both engines.
_QEMB = f"transform(embedding, x -> cast(round(x * {_SCALE}, 0) as bigint))"
# Exact integer self-dot (squared norm) of the quantized embedding.
_QNORM = f"aggregate({_QEMB}, cast(0 as bigint), (acc, v) -> acc + v * v)"


def _dot(a: str, b: str) -> str:
    """Exact integer dot product of two quantized vector columns: the one
    fold every cosine and distance here uses.  Arrow kernels for it were
    measured slower at 1x, 10x and 8 cores (OPTIMIZATION_r09.md)."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), cast(0 as bigint),"
        " (acc, v) -> acc + v)"
    )


def _quantized(spark, sf) -> DataFrame:
    # spread BEFORE the 64-dim quantize/projection maps (see _util.spread)
    return spread(spark, t(spark, sf, "embeddings")).select(
        "vec_id",
        "label",
        F.expr(_QEMB).alias("q"),
        F.expr(_QNORM).alias("qn"),
    )


# --- brute-force cosine top-k vs a query vector (vec_id = 1) -----------------
def _topk(spark, sf):
    emb = _quantized(spark, sf)
    query = emb.filter(F.col("vec_id") == 1).select(
        F.col("q").alias("qq"), F.col("qn").alias("qqn")
    )
    dot = F.expr(_dot("q", "qq"))
    return (
        emb.crossJoin(F.broadcast(query))
        .filter(F.col("vec_id") != 1)
        .select(
            "vec_id",
            (dot / (F.sqrt(F.col("qn")) * F.sqrt(F.col("qqn")))).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(10)
    )


# DuckDB notes: the lambda must CAST to DOUBLE before scaling (FLOAT * INT
# stays f32 and rounds to different integers), and dots use an exact
# list_sum comprehension (list_dot_product converts through FLOAT).
_DUCK_Q = (
    f"list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {_SCALE})"
    " AS BIGINT))"
)
_DUCK_DOT = (
    "CAST(list_sum([{a}[i] * {b}[i] FOR i IN range(1, len({a}) + 1)]) AS BIGINT)"
)

REG.add(
    "similarity_topk",
    _topk,
    f"""
    WITH qe AS (
      SELECT vec_id, label, {_DUCK_Q} AS q FROM embeddings
    ),
    q1 AS (SELECT q AS qq FROM qe WHERE vec_id = 1)
    SELECT vec_id,
           {_DUCK_DOT.format(a='qe.q', b='q1.qq')}
             / (sqrt({_DUCK_DOT.format(a='qe.q', b='qe.q')})
                * sqrt({_DUCK_DOT.format(a='q1.qq', b='q1.qq')}))
             AS cosine
    FROM qe, q1
    WHERE vec_id != 1
    ORDER BY cosine DESC, vec_id
    LIMIT 10
    """,
)

# --- average cosine to the query per label (partitioned similarity agg) ------
# Exercises the same exact-arithmetic kernel under a groupBy: the numerator
# is an exact integer sum; the ratio of doubles stays bit-deterministic.
def _label_affinity(spark, sf):
    emb = _quantized(spark, sf)
    query = emb.filter(F.col("vec_id") == 1).select(
        F.col("q").alias("qq"), F.col("qn").alias("qqn")
    )
    dot = F.expr(_dot("q", "qq"))
    per_vec = (
        emb.crossJoin(F.broadcast(query))
        .filter(F.col("vec_id") != 1)
        .select(
            "label",
            dot.alias("dot_int"),
            (dot / (F.sqrt(F.col("qn")) * F.sqrt(F.col("qqn")))).alias("cosine"),
        )
    )
    # All aggregates stay exact: MIN/MAX over bit-identical doubles, and the
    # numerator SUM over int64 dots (a SUM of cosine doubles — or even their
    # decimal casts — would drift at the last ulp between engines).
    return per_vec.groupBy("label").agg(
        F.min("cosine").alias("min_cos"),
        F.max("cosine").alias("max_cos"),
        F.sum("dot_int").cast("long").alias("sum_dot"),
        F.count(F.lit(1)).alias("n"),
    )


REG.add(
    "similarity_label_affinity",
    _label_affinity,
    f"""
    WITH qe AS (
      SELECT vec_id, label, {_DUCK_Q} AS q FROM embeddings
    ),
    q1 AS (SELECT q AS qq FROM qe WHERE vec_id = 1),
    per_vec AS (
      SELECT label,
             {_DUCK_DOT.format(a='qe.q', b='q1.qq')} AS dot_int,
             {_DUCK_DOT.format(a='qe.q', b='q1.qq')}
               / (sqrt({_DUCK_DOT.format(a='qe.q', b='qe.q')})
                  * sqrt({_DUCK_DOT.format(a='q1.qq', b='q1.qq')}))
               AS cosine
      FROM qe, q1
      WHERE vec_id != 1
    )
    SELECT label,
           MIN(cosine) AS min_cos,
           MAX(cosine) AS max_cos,
           CAST(SUM(dot_int) AS BIGINT) AS sum_dot,
           COUNT(*) AS n
    FROM per_vec GROUP BY label
    """,
)

# --- batch KNN: top-k per query over a query BATCH ----------------------------
# The production retrieval shape (embed a batch, fetch k nearest corpus
# vectors per query) as a two-stage exact plan:
#   1. the query batch (tiny) BROADCASTS into the corpus scan — cosines are
#      computed where the corpus lives, the corpus never shuffles;
#   2. top-k per query runs in two windows: a partial top-k per
#      (query, salt-bucket) — parallelism = queries × buckets, so a single
#      hot query never funnels the corpus into one partition — then the
#      exact final top-k over the ≤ queries × buckets × k survivors.
# Exact int64 dot products (same _QEMB quantization), deterministic
# tie-break on vec_id.  The salt is a deterministic hash of the corpus key,
# so results are reproducible and oracle-paired (a plain per-query window
# rank in DuckDB — two-stage partial top-k is exact, the plan differs, the
# answer cannot).
_KNN_K = 5
_KNN_BUCKETS = 64


def _knn_batch(spark, sf):
    from pyspark.sql.window import Window

    emb = _quantized(spark, sf)
    queries = emb.filter(F.col("vec_id") <= 8).select(
        F.col("vec_id").alias("qid"),
        F.col("q").alias("qq"),
        F.col("qn").alias("qqn"),
    )
    corpus = emb.filter(F.col("vec_id") > 8)
    dot = F.expr(_dot("q", "qq"))
    scored = corpus.crossJoin(F.broadcast(queries)).select(
        "qid",
        "vec_id",
        (dot / (F.sqrt(F.col("qn")) * F.sqrt(F.col("qqn")))).alias("cosine"),
        F.pmod(F.hash("vec_id"), F.lit(_KNN_BUCKETS)).alias("bkt"),
    )
    w1 = Window.partitionBy("qid", "bkt").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    w2 = Window.partitionBy("qid").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("pr", F.row_number().over(w1))
        .filter(F.col("pr") <= _KNN_K)
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= _KNN_K)
        .select("qid", F.col("rank").cast("int").alias("rank"), "vec_id", "cosine")
    )


REG.add(
    "similarity_knn_batch",
    _knn_batch,
    f"""
    WITH qe AS (
      SELECT vec_id, {_DUCK_Q} AS q FROM embeddings
    ),
    qs AS (SELECT vec_id AS qid, q AS qq FROM qe WHERE vec_id <= 8),
    scored AS (
      SELECT qs.qid, qe.vec_id,
             {_DUCK_DOT.format(a='qe.q', b='qs.qq')}
               / (sqrt({_DUCK_DOT.format(a='qe.q', b='qe.q')})
                  * sqrt({_DUCK_DOT.format(a='qs.qq', b='qs.qq')}))
               AS cosine
      FROM qe, qs
      WHERE qe.vec_id > 8
    )
    SELECT qid, CAST(r AS INT) AS rank, vec_id, cosine
    FROM (SELECT qid, vec_id, cosine,
                 row_number() OVER (PARTITION BY qid
                                    ORDER BY cosine DESC, vec_id) AS r
          FROM scored) ranked
    WHERE r <= {_KNN_K}
    """,
)

# --- LSH-bucketed near-duplicate pairs (banded sign projection; the scale
# path — fully oracle-paired: the hyperplanes are deterministic integer
# mixes, so DuckDB computes the SAME band buckets and the hash compare pins
# bucketing + banding + exact-cosine verify end to end) ------------------------
# The banded recall curve: P(candidate) = 1-(1-p^R)^B, p = 1-θ/π.  The
# band-key space is 2^R (R = planes/band), so R must grow like log2(N) to
# keep random-collision candidate volume (B * N^2 / 2^R) near-linear.
# ``sign_lsh_params`` picks (planes, bands) by corpus size; the REGISTERED
# entry uses its prescription for the bench corpus (2000 vectors at sf0.1 →
# 11 planes/band x 8 bands) — measured on that corpus, the fixture-era 8x8
# config admitted 243k candidate pairs (12% of ALL pairs: clustered vectors
# over-collide in 8-bit buckets) vs 143k at 11 bits, and the narrower keys
# cut the verify stage proportionally.  scale_smoke.py measures the
# candidate-volume curve for both configs at 1x and 10x data.
_BENCH_CORPUS_ROWS = 2000  # embeddings rows at the bench SF (sf0.1)
_SIM_THRESHOLD = 0.4  # the fixture's similarity range tops out at ~0.6


def sign_lsh_params(n_rows: int) -> tuple[int, int]:
    """(n_planes, n_bands) for a corpus of ``n_rows`` vectors.

    planes/band = max(8, ceil(log2(n_rows))) keeps the band-key space
    >= N, so expected random candidates per band stay O(N); 8 bands holds
    the recall curve's shape (P(candidate) = 1-(1-p^R)^8).  At 10^8 rows
    this yields 27 planes/band (216 projections/vector — still one
    codegen'd map, no extra shuffle)."""
    import math

    rows_per_band = max(8, math.ceil(math.log2(max(n_rows, 2))))
    n_bands = 8
    return (n_bands * rows_per_band, n_bands)


_NPLANES, _SIM_BANDS = sign_lsh_params(_BENCH_CORPUS_ROWS)  # (88, 8)


# Hyperplane weights w[p][d] ∈ {+1,-1}: parity of a Knuth-style integer mix
# of (plane, 1-based dim) — no RNG, identical in both engines.
_PARITY = "pmod(d * 2654435761 + {p} * 40503, 65536) < 32768"


def _sim_bands(spark, sf, n_planes: int = _NPLANES, n_bands: int = _SIM_BANDS) -> DataFrame:
    """(vec_id, band, bkey): (planes/band)-bit sign-pattern key per band,
    via n_planes codegen'd SUM(CASE) projections (same shape as the text
    SimHash fingerprint — no interpreted array lambdas in the hot path)."""
    rows = n_planes // n_bands
    # Single-F.expr strings per column: building these as nested F.when
    # Column objects costs hundreds of py4j round-trips (~1 s of driver time
    # per run at 64 planes — measured half this query's wall time).
    dims = _quantized(spark, sf).select(
        "vec_id", F.posexplode("q").alias("pos", "x")
    ).select("vec_id", (F.col("pos") + 1).alias("d"), "x")
    projs = dims.groupBy("vec_id").agg(
        *[
            F.expr(
                f"sum(CASE WHEN {_PARITY.format(p=p)} THEN x ELSE -x END)"
            ).alias(f"p{p}")
            for p in range(n_planes)
        ]
    )

    def bkey(b: int) -> str:
        return " + ".join(
            f"(CASE WHEN p{b * rows + r} >= 0 THEN cast({1 << r} as bigint) ELSE 0 END)"
            for r in range(rows)
        )

    # All band keys ride along (n_bands ints/row): the candidate join's
    # first-matching-band predicate needs them — see _lsh_pairs.
    keyed = projs.select(
        "vec_id", *[F.expr(f"{bkey(b)}").alias(f"k{b}") for b in range(n_bands)]
    )
    structs = ", ".join(
        f"struct({b} AS band, k{b} AS bkey)" for b in range(n_bands)
    )
    return keyed.select(
        "vec_id",
        *[f"k{b}" for b in range(n_bands)],
        F.expr(f"explode(array({structs}))").alias("bb"),
    ).select(
        "vec_id", *[f"k{b}" for b in range(n_bands)], "bb.band", "bb.bkey"
    )


def _lsh_pairs(
    spark,
    sf,
    n_planes: int = _NPLANES,
    n_bands: int = _SIM_BANDS,
    candidates_only: bool = False,
    persist_bands: bool = True,
):
    """``candidates_only``: return the pre-verify candidate pair set — the
    quantity whose growth rate IS the LSH scale contract (measured at 1x and
    10x, for both fixture and sign_lsh_params configs, by
    scripts/scale_smoke.py).

    ``persist_bands``: cache the banded keys (MEMORY_AND_DISK) before the
    self-join so the quantized scan + 64 sign projections + their shuffle
    run ONCE instead of once per join side.  Measured at sf0.1 (3 rounds,
    round 6): recompute ~4.0 s, localCheckpoint ~3.3-3.9 s, persist ~2.9 s
    — persist wins and is the scale-safe variant (lineage kept, so executor
    loss recomputes instead of failing the job; blocks spill to disk).
    NOTE the lifecycle: a DataFrame-level persist lives in the session's
    CacheManager until explicitly unpersisted or the session ends — the
    ContextCleaner does NOT collect SQL-level caches when the plan is
    GC'd, and identical plan subtrees are shared across queries.  Callers
    measuring queries independently must clear the cache between them
    (bench.py does).  Lazy, so schema/plan-only calls stay job-free."""
    bands = _sim_bands(spark, sf, n_planes, n_bands)
    if persist_bands:
        from pyspark import StorageLevel  # noqa: PLC0415

        bands = bands.persist(StorageLevel.MEMORY_AND_DISK)
    a, b = bands.alias("a"), bands.alias("b")
    # First-matching-band dedup (no earlier band key equal) replaces the
    # candidate distinct() — one full shuffle removed; both sides' band
    # keys are already in the joined row.
    first_match = F.lit(True)
    for c in range(1, n_bands):
        first_match = F.when(
            F.col("a.band") == c,
            sum(
                (F.col(f"a.k{j}") == F.col(f"b.k{j}")).cast("int")
                for j in range(c)
            )
            == 0,
        ).otherwise(first_match)
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )  # equi-join on the band bucket — never all-pairs
        .filter(first_match)
        .select(F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b"))
    )
    if candidates_only:
        return cand
    if persist_bands:
        # Materialize the candidate pairs before the verify join-back.
        # Fused, the band self-join + first-matching-band filter + two
        # verify joins + interpreted cosine lambda compile into one
        # WholeStageCodegen stage whose generated method is too large for
        # the JIT (measured 12 s of executor CPU for 143k candidates at
        # sf0.1); with the 2-ints/row candidate set cached, the verify
        # stage JITs and the same work costs 1.5 s — and at 100 TB a
        # materialized candidate set is what the verify join would shuffle
        # anyway (narrow ids, guide §8: move decisions, not payloads).
        from pyspark import StorageLevel  # noqa: PLC0415

        cand = cand.persist(StorageLevel.MEMORY_AND_DISK)
    emb = _quantized(spark, sf)
    ea = emb.select(F.col("vec_id").alias("id_a"), F.col("q").alias("q_a"), F.col("qn").alias("qn_a"))
    eb = emb.select(F.col("vec_id").alias("id_b"), F.col("q").alias("q_b"), F.col("qn").alias("qn_b"))
    joined = cand.join(ea, "id_a").join(eb, "id_b")
    dot = F.expr(_dot("q_a", "q_b"))
    return (
        joined.select(
            "id_a",
            "id_b",
            (dot / (F.sqrt(F.col("qn_a")) * F.sqrt(F.col("qn_b")))).alias("cosine"),
        )
        .filter(F.col("cosine") >= _SIM_THRESHOLD)
    )


def _lsh_pairs_oracle(n_planes: int, n_bands: int) -> str:
    """DuckDB oracle generated from the SAME (n_planes, n_bands) as the
    Spark builder — the constants cannot drift between the two sides."""
    rows = n_planes // n_bands
    dot_ab = _DUCK_DOT.format(a="qa.q", b="qb.q")
    dot_aa = _DUCK_DOT.format(a="qa.q", b="qa.q")
    dot_bb = _DUCK_DOT.format(a="qb.q", b="qb.q")
    return f"""
    WITH qe AS (
      SELECT vec_id, {_DUCK_Q} AS q FROM embeddings
    ),
    projs AS (
      SELECT vec_id, p,
             CAST(list_sum([CASE WHEN (d * 2654435761 + p * 40503) % 65536 < 32768
                                 THEN q[d] ELSE -q[d] END
                            FOR d IN range(1, len(q) + 1)]) AS BIGINT) AS proj
      FROM qe, range({n_planes}) r(p)
    ),
    bands AS (
      SELECT vec_id, p // {rows} AS band,
             SUM(CASE WHEN proj >= 0 THEN (1::BIGINT << (p % {rows})) ELSE 0 END) AS bkey
      FROM projs GROUP BY vec_id, p // {rows}
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bkey = b.bkey AND a.vec_id < b.vec_id
    )
    SELECT id_a, id_b,
           {dot_ab} / (sqrt({dot_aa}) * sqrt({dot_bb})) AS cosine
    FROM cand
    JOIN qe qa ON qa.vec_id = cand.id_a
    JOIN qe qb ON qb.vec_id = cand.id_b
    WHERE {dot_ab} / (sqrt({dot_aa}) * sqrt({dot_bb})) >= {_SIM_THRESHOLD}
    """


REG.add("similarity_lsh_pairs", _lsh_pairs, _lsh_pairs_oracle(_NPLANES, _SIM_BANDS))


# --- embedding-cosine near-duplicate clusters --------------------------------
# The "semantic dedup" pipeline step: vectors whose cosine >= threshold are
# near-dups; keep one canonical representative per connected component.
# Pairs come from the banded sign-LSH join above (never all-pairs); cluster
# assignment is the same min-label-propagation kernel as dedup_clusters.
# Oracle: recursive CTE over the SAME pair SQL — exact reachability.
def _dedup_embedding(spark, sf):
    from phoenix_spark.queries.pipeline_dedup import min_label_propagate

    edges = _lsh_pairs(spark, sf).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    nodes = t(spark, sf, "embeddings").select("vec_id")
    return min_label_propagate(nodes, edges, "vec_id")


REG.add(
    "dedup_embedding",
    _dedup_embedding,
    f"""
    WITH RECURSIVE pairs AS ({_lsh_pairs_oracle(_NPLANES, _SIM_BANDS)}),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    reach(v, r) AS (
      SELECT vec_id, vec_id FROM embeddings
      UNION
      SELECT e.dst, r.r FROM reach r JOIN edges e ON e.src = r.v
    )
    SELECT v AS vec_id, MIN(r) AS cluster_id,
           (v = MIN(r)) AS is_canonical
    FROM reach GROUP BY v
    """,
)

# --- IVF-style probe: coarse cells + probe-P search (oracle-paired) ----------
# The inverted-file ANN shape at 100 TB: vectors are assigned once to a
# coarse cell (one narrow shuffle, result would be written bucketed-by-cell),
# and a query probes only the P nearest cells — candidate set ~P/C of the
# corpus instead of a full scan.  Cell "centroids" here are fixture vectors
# (vec_id 0..7) picked deterministically; production would train k-means via
# Spark ML — the assignment/probe plumbing pinned here is identical.  All
# distances are exact integer arithmetic (see module docstring), so cell
# assignment and the final ranking are fully deterministic.
_N_CELLS = 8
_N_PROBE = 2


def _ivf_probe(spark, sf):
    emb = _quantized(spark, sf)
    cents = (
        emb.filter(F.col("vec_id") < _N_CELLS)
        .select(
            F.col("vec_id").alias("cell"),
            F.col("q").alias("cq"),
            F.col("qn").alias("cqn"),
        )
    )
    dot_c = F.expr(_dot("q", "cq"))
    # squared L2 in integer space: |v|^2 + |c|^2 - 2 v·c
    dist = F.col("qn") + F.col("cqn") - 2 * dot_c
    assign = (
        emb.crossJoin(F.broadcast(cents))
        .groupBy("vec_id")
        .agg(
            F.min(F.struct(dist.alias("d"), F.col("cell").alias("cell"))).alias("m")
        )
        .select("vec_id", F.col("m.cell").alias("cell"))
    )
    # probe cells: the P nearest centroids to the query vector (vec_id = 1)
    qrow = emb.filter(F.col("vec_id") == 1).select(
        F.col("q").alias("qq"), F.col("qn").alias("qqn")
    )
    qdist = F.col("qqn") + F.col("cqn") - F.expr(f"2 * {_dot('qq', 'cq')}")
    probe = (
        cents.crossJoin(F.broadcast(qrow))
        .select("cell", qdist.alias("qd"))
        .orderBy("qd", "cell")
        .limit(_N_PROBE)
        .select("cell")
    )
    # candidates = vectors assigned to a probed cell; exact cosine top-k
    cand = (
        emb.join(assign, "vec_id")
        .join(F.broadcast(probe), "cell", "left_semi")
        .filter(F.col("vec_id") != 1)
    )
    dot_q = F.expr(_dot("q", "qq"))
    return (
        cand.crossJoin(F.broadcast(qrow))
        .select(
            "vec_id",
            "cell",
            (dot_q / (F.sqrt(F.col("qn")) * F.sqrt(F.col("qqn")))).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(10)
    )


# Oracle: the SAME deterministic IVF — centroids are the first _N_CELLS
# vectors, assignment minimizes exact integer squared-L2 with (dist, cell)
# tie-break (row_number mirrors Spark's min(struct(d, cell))), probe = the
# _N_PROBE nearest cells to the query, verify = exact integer cosine.
_IVF_ORACLE = f"""
    WITH qe AS (
      SELECT vec_id, {_DUCK_Q} AS q FROM embeddings
    ), qn AS (
      SELECT vec_id, q, {_DUCK_DOT.format(a='q', b='q')} AS qn FROM qe
    ), cents AS (
      SELECT vec_id AS cell, q AS cq, qn AS cqn FROM qn
      WHERE vec_id < {_N_CELLS}
    ), assign AS (
      SELECT vec_id, cell FROM (
        SELECT v.vec_id, c.cell,
               row_number() OVER (PARTITION BY v.vec_id ORDER BY
                 v.qn + c.cqn - 2 * {_DUCK_DOT.format(a='v.q', b='c.cq')},
                 c.cell) AS rn
        FROM qn v, cents c
      ) WHERE rn = 1
    ), q1 AS (
      SELECT q AS qq, qn AS qqn FROM qn WHERE vec_id = 1
    ), probe AS (
      SELECT cell FROM cents, q1
      ORDER BY q1.qqn + cents.cqn
                 - 2 * {_DUCK_DOT.format(a='cents.cq', b='q1.qq')},
               cell
      LIMIT {_N_PROBE}
    )
    SELECT v.vec_id, a.cell,
           {_DUCK_DOT.format(a='v.q', b='q1.qq')}
             / (sqrt(v.qn) * sqrt(q1.qqn)) AS cosine
    FROM qn v
    JOIN assign a ON a.vec_id = v.vec_id
    JOIN probe p ON p.cell = a.cell
    CROSS JOIN q1
    WHERE v.vec_id != 1
    ORDER BY cosine DESC, v.vec_id
    LIMIT 10
    """

REG.add("similarity_ivf_probe", _ivf_probe, _IVF_ORACLE)

# --- IVF with a PERSISTED bucketed cell index --------------------------------
# The build-once / probe-many production shape _ivf_probe only sketches: the
# cell assignment is WRITTEN as a table bucketed by cell, and a probe reads
# ONLY the probed buckets — Spark's bucket pruning turns the probe into a
# 2-of-8-buckets scan with zero shuffles (pinned by the SelectedBucketsCount
# plan assertion in tests/test_plans.py).  At 100 TB the index build is one
# assignment pass; every later query is a pruned scan + broadcast of one
# query vector.  Result set is identical to similarity_ivf_probe, so it
# shares that entry's oracle.
def _ivf_persisted(spark, sf):
    import hashlib

    emb = _quantized(spark, sf)
    cents = emb.filter(F.col("vec_id") < _N_CELLS).select(
        F.col("vec_id").alias("cell"),
        F.col("q").alias("cq"),
        F.col("qn").alias("cqn"),
    )
    dot_c = F.expr(_dot("q", "cq"))
    dist = F.col("qn") + F.col("cqn") - 2 * dot_c
    assign = (
        emb.crossJoin(F.broadcast(cents))
        .groupBy("vec_id")
        .agg(F.min(F.struct(dist.alias("d"), F.col("cell").alias("cell"))).alias("m"))
        .select("vec_id", F.col("m.cell").alias("cell"))
    )
    tbl = f"ivf_cells_{hashlib.md5(sf.encode()).hexdigest()[:8]}"
    # deterministic name per sf dir → rebuild replaces the index; a STALE
    # warehouse dir from another session isn't in this session's catalog,
    # so clear both the catalog entry and the location before the write
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    import os
    import shutil

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(os.path.join(wh, tbl), ignore_errors=True)
    (
        emb.join(assign, "vec_id")
        .select("vec_id", "cell", "q", "qn")
        .write.mode("overwrite")
        .format("parquet")
        .bucketBy(_N_CELLS, "cell")
        .sortBy("cell")
        .saveAsTable(tbl)
    )
    # autoBucketedScan only credits joins/aggregates when deciding whether
    # to keep a bucketed scan — it would drop the bucketed read here and
    # with it the FILTER-based bucket pruning this index exists for.  The
    # flag is scoped to this builder (r04 advice: leaving it set silently
    # re-plans every later query on the shared session): physical planning
    # of the returned frame is forced INSIDE the window — QueryExecution
    # caches the executed plan, so the pruned bucketed scan survives the
    # conf restore while the session sees its previous value again.
    _ABS = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    prev = spark.conf.get(_ABS, "true")
    spark.conf.set(_ABS, "false")
    try:
        stored = spark.table(tbl)
        qrow = emb.filter(F.col("vec_id") == 1).select(
            F.col("q").alias("qq"), F.col("qn").alias("qqn")
        )
        qdist = F.col("qqn") + F.col("cqn") - F.expr(f"2 * {_dot('qq', 'cq')}")
        probe_cells = [
            r.cell
            for r in cents.crossJoin(F.broadcast(qrow))
            .select("cell", qdist.alias("qd"))
            .orderBy("qd", "cell")
            .limit(_N_PROBE)
            .collect()
        ]
        # literal IN-list on the bucket column → static bucket pruning (the
        # probed-cell ids are index metadata, like the reference's guideposts)
        cand = stored.filter(
            F.col("cell").isin(probe_cells) & (F.col("vec_id") != 1)
        )
        dot_q = F.expr(_dot("q", "qq"))
        out = (
            cand.crossJoin(F.broadcast(qrow))
            .select(
                "vec_id",
                "cell",
                (dot_q / (F.sqrt(F.col("qn")) * F.sqrt(F.col("qqn")))).alias(
                    "cosine"
                ),
            )
            .orderBy(F.col("cosine").desc(), F.col("vec_id"))
            .limit(10)
        )
        out._jdf.queryExecution().executedPlan()  # pin the pruned plan
        return out
    finally:
        spark.conf.set(_ABS, prev)


REG.add("similarity_ivf_persisted", _ivf_persisted, _IVF_ORACLE)

# --- per-label centroids of the quantized embeddings -------------------------
# The k-means/centroid-update kernel as a single groupBy: element-wise SUM of
# int64 vectors per label.  Integer sums are exact (|q_i| ≤ 5.3e6, ≤ ~100
# rows/label → < 2^53), so the oracle matches bit-for-bit; a real trainer
# iterates this exact shape.
def _centroids(spark, sf):
    emb = _quantized(spark, sf)
    summed = (
        emb.select("label", F.posexplode("q").alias("dim0", "v"))
        .groupBy("label", "dim0")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
    )
    return summed.select(
        "label",
        (F.col("dim0") + 1).cast("int").alias("dim"),
        F.col("s").cast("long").alias("sum_q"),
        (F.col("s") / F.col("n")).alias("centroid_q"),
    )


REG.add(
    "similarity_centroids",
    _centroids,
    f"""
    WITH qe AS (
      SELECT label, {_DUCK_Q} AS q FROM embeddings
    ),
    ex AS (
      SELECT label, u.dim, u.v FROM qe,
        LATERAL (SELECT unnest(q) AS v, generate_subscripts(q, 1) AS dim) u
    )
    SELECT label, CAST(dim AS INT) AS dim,
           CAST(SUM(v) AS BIGINT) AS sum_q,
           CAST(SUM(v) AS BIGINT) / CAST(COUNT(*) AS DOUBLE) AS centroid_q
    FROM ex GROUP BY label, dim
    """,
)
