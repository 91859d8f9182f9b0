"""Deduplication operators for LLM training-data pipelines (SURVEY.md §7 M8).

Four tiers, all shuffle-bounded (never all-pairs):

  * exact dedup — hash-groupBy on a normalized content fingerprint: one
    shuffle on the 128-bit hash, perfectly scalable.
  * near-dup via n-gram Jaccard with prefix blocking — candidate pairs come
    from an equi-join on a block key (md5 of the leading tokens), so the plan
    is a hash join, not a cartesian product; Jaccard is exact set arithmetic
    (array_intersect/array_union of distinct shingles).  Oracle-paired.
  * SimHash — 64-bit sign-of-weighted-sums fingerprint over the distinct
    token set; candidate pairs come from an equi-join on one of 4 x 16-bit
    fingerprint chunks (pigeonhole: Hamming distance <= 3 over 4 chunks
    forces at least one identical chunk), verified with the exact Hamming
    distance.  The fingerprint derives every bit from md5 (identical hex in
    Spark and DuckDB), so this tier is fully oracle-paired.
  * MinHash + banded LSH — the 100 TB path: K=32 signature minima, 8 bands x
    4 rows; candidate pairs come from an equi-join on (band, band_key), i.e.
    only documents sharing a band bucket ever meet; candidates are verified
    with exact Jaccard.  The base hash is the top 60 bits of md5 and the
    band key a Horner polynomial, both bit-reproducible in SQL — so this
    entry is fully oracle-paired (signatures, banding, and verify).

At scale the LSH join shuffles on band_hash — uniformly distributed by
construction, so no skew.  Since round 9 the per-document fingerprint work
(shingle-md5 + the 32 MinHash signature minima; the SimHash bit sums) runs
in Arrow-batched kernels — zero-shuffle per-row maps whose values are
pinned bit-identical to the JVM expression forms they replaced
(tests/test_shingle_kernel.py; `arrow_kernel=False` keeps the old paths).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from phoenix_spark.queries._util import Registry, ship_package, spread, t
from phoenix_spark.queries.pipeline_text import _JAVA_WS

REG = Registry()

# Whitespace tokens, shared by all tiers.
_TOKENS = "split(trim(text), '\\\\s+')"


def _shingles_col() -> F.Column:
    """Distinct word-3-gram shingles, O(n) per document.

    Built by zipping the token array against its 1- and 2-shifted slices —
    NOT by slicing inside a transform lambda over an index sequence, which
    would re-evaluate the split for every element (O(n²) per doc: measured
    3x slower over the documents fixture).
    """
    toks = F.split(F.trim(F.col("text")), r"\s+")
    m = F.greatest(F.size(toks) - 2, F.lit(1))
    zipped = F.arrays_zip(
        F.slice(toks, F.lit(1), m),
        F.slice(toks, F.lit(2), m),
        F.slice(toks, F.lit(3), m),
    )
    return F.array_distinct(
        F.transform(zipped, lambda s: F.concat_ws(" ", s["0"], s["1"], s["2"]))
    )

# --- exact dedup: hash-groupBy on normalized content fingerprint -------------
REG.add(
    "dedup_exact",
    lambda spark, sf: t(spark, sf, "documents")
    .groupBy(
        F.md5(F.lower(F.regexp_replace("text", r"\s+", " "))).alias("fp")
    )
    .agg(
        F.min("doc_id").alias("keep_id"),
        F.count(F.lit(1)).alias("n_copies"),
    ),
    """
    SELECT md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp,
           MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
    FROM documents GROUP BY 1
    """,
)


def _docs_wide(spark, sf) -> DataFrame:
    """documents, spread across all cores BEFORE the CPU-heavy per-doc maps
    (see _util.spread for the single-split rationale)."""
    return spread(spark, t(spark, sf, "documents"))


def _shingled(spark, sf) -> DataFrame:
    return _docs_wide(spark, sf).select(
        "doc_id",
        _shingles_col().alias("sh"),
        # Block key: md5 of the first 6 tokens.  Near-dup docs share long
        # prefixes; the block join replaces the cartesian candidate space.
        F.md5(F.expr(f"concat_ws(' ', slice({_TOKENS}, 1, 6))")).alias("blk"),
    )


# --- near-dup: prefix blocking + exact n-gram Jaccard (oracle-paired) --------
def _ngram_jaccard(spark, sf):
    a = _shingled(spark, sf).alias("a")
    b = _shingled(spark, sf).alias("b")
    pairs = a.join(
        b,
        (F.col("a.blk") == F.col("b.blk")) & (F.col("a.doc_id") < F.col("b.doc_id")),
    )
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    union = F.size(F.array_union(F.col("a.sh"), F.col("b.sh")))
    return (
        pairs.select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            (inter / union).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.5)
    )


_NGRAM_PAIRS_SQL = """
    WITH sh AS (
      SELECT doc_id,
             list_distinct([array_to_string(toks[i:i+2], ' ')
                            FOR i IN range(1, greatest(len(toks) - 2, 1) + 1)]) AS sh,
             md5(array_to_string(toks[1:6], ' ')) AS blk
      FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
            FROM documents) x
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           len(list_distinct(list_intersect(a.sh, b.sh)))
             / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE) AS jaccard
    FROM sh a JOIN sh b ON a.blk = b.blk AND a.doc_id < b.doc_id
    WHERE len(list_distinct(list_intersect(a.sh, b.sh)))
            / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE) >= 0.5
"""

REG.add("dedup_ngram_jaccard", _ngram_jaccard, _NGRAM_PAIRS_SQL)


# --- duplicate-cluster assignment: connected components over the near-dup
# pair graph (the "keep one canonical doc per cluster" pipeline step) ---------
def min_label_propagate(
    nodes: DataFrame, edges: DataFrame, id_col: str, max_rounds: int = 50
) -> DataFrame:
    """Connected components via min-label propagation (synchronous Pregel
    shape) to a fixpoint: (id_col, cluster_id, is_canonical).

    ``nodes``: one column ``id_col``; ``edges``: two columns (``src``,
    ``dst``), directed — undirected closure is taken here.  Each round every
    node takes the min cluster label among itself and its neighbors;
    convergence in <= graph-diameter rounds (dup clusters are shallow —
    fixtures converge in 2-3).  The per-round ``collect()`` is a SINGLE
    scalar (the decreasing label sum used as the convergence signal) — the
    Pregel driver-side control loop, not a data collect.  ``localCheckpoint``
    truncates the growing lineage each round, exactly what an iterative
    algorithm needs at scale (on a cluster, ``checkpoint()`` to reliable
    storage instead).  Raises rather than silently returning partial labels
    if a pathological component's diameter exceeds ``max_rounds``.
    """
    und = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()
    labels = nodes.select(id_col, F.col(id_col).alias("cluster_id"))
    prev = None
    converged = False
    for _ in range(max_rounds):
        nmin = (
            und.join(labels, und.dst == labels[id_col])
            .groupBy("src")
            .agg(F.min("cluster_id").alias("nmin"))
        )
        labels = (
            labels.join(nmin, labels[id_col] == nmin.src, "left")
            .select(
                labels[id_col],
                F.least(
                    F.col("cluster_id"), F.coalesce("nmin", "cluster_id")
                ).alias("cluster_id"),
            )
            .localCheckpoint()
        )
        s = labels.agg(F.sum("cluster_id")).collect()[0][0]
        if s == prev:
            converged = True
            break
        prev = s
    if not converged:
        raise RuntimeError(
            f"min_label_propagate: did not converge in {max_rounds} rounds "
            f"(near-dup component diameter exceeds the cap); returning "
            f"partial labels would silently break parity"
        )
    return labels.select(
        id_col,
        "cluster_id",
        (F.col(id_col) == F.col("cluster_id")).alias("is_canonical"),
    )


def _dup_clusters(spark, sf):
    edges = _ngram_jaccard(spark, sf).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    nodes = t(spark, sf, "documents").select("doc_id")
    return min_label_propagate(nodes, edges, "doc_id")


REG.add(
    "dedup_clusters",
    _dup_clusters,
    f"""
    WITH RECURSIVE pairs AS ({_NGRAM_PAIRS_SQL}),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach(doc, r) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, r.r FROM reach r JOIN edges e ON e.src = r.doc
    )
    SELECT doc AS doc_id, MIN(r) AS cluster_id,
           (doc = MIN(r)) AS is_canonical
    FROM reach GROUP BY doc
    """,
)

# --- MinHash + banded LSH (the at-scale near-dup path; oracle-paired) --------
_K = 32  # signature length
_BANDS = 8  # 8 bands x 4 rows: P(candidate) = 1-(1-j^4)^8 — steep around j≈0.6
_ROWS = _K // _BANDS
# Linear permutations h_i(x) = (a_i*x + b_i) mod P over the Mersenne prime
# P = 2^31-1: the base hash is first reduced mod P so a_i*x stays < 2^62 —
# no int64 overflow (ANSI mode would reject wrapping).  Constants are fixed,
# so signatures are deterministic across runs and sessions.  The base hash
# is the top 60 bits of md5 (identical hex in Spark and DuckDB), which makes
# the WHOLE pipeline — signatures, band buckets, exact-Jaccard verify —
# reproducible by the SQL oracle.
_P = 2147483647
_A = [(2654435761 * (2 * i + 1)) % _P or 1 for i in range(_K)]
_B = [(0x9E3779B97F4A7C15 * (i + 1)) % _P for i in range(_K)]

# --- Arrow-batched shingle-hash kernels (round 9, guide §4.2) -----------------
# The JVM form of the tokenize + 3-gram + md5 map runs its gram-building
# lambda in Catalyst's expression interpreter: per-element decomposition at
# sf0.1 (OPTIMIZATION_r09.md §1) measured tokenize 0.15 s, +gram-build 0.74 s,
# +array_distinct 0.81 s, +md5 0.93 s, +conv/pmod 1.1 s executor CPU — i.e.
# the HOF-lambda machinery, not md5, dominates (the round-8 deferral asked
# exactly this question).  The 32 affine-permutation signature minima
# (array_min ∘ transform, interpreted) add another ~1.1 s.  These kernels
# compute the identical values with one Python/numpy pass per batch:
#
#   * tokenizer: Java-regex-faithful (trim = SPACE only, \s = ASCII class,
#     split limit -1) — the same contract as pipeline_text._rep_kernel,
#     pinned by tests/test_shingle_kernel.py.
#   * grams: " ".join of 3 consecutive tokens == concat_ws over arrays_zip
#     of the 1/2/3-shifted slices, incl. the n<3 edge cases (arrays_zip pads
#     with NULL, concat_ws skips NULLs → the n=2 gram is "t0 t1", n=1 "t0").
#   * first-occurrence dedup: dict.fromkeys == array_distinct.
#   * hash: hashlib.md5 is bit-identical to Spark's md5(); the 60-bit prefix
#     int(hex[:15], 16) == conv(substring(md5(s),1,15),16,10) exactly; % _P
#     on a non-negative value == pmod.
#   * signatures: s_i = min((a_i*h + b_i) % P) over int64 — a_i,h < P=2^31,
#     so a_i*h + b_i < 2^62 + 2^31: exact in numpy int64, identical to the
#     JVM's checked bigint arithmetic.
#
# Rows with NULL text are dropped: on the JVM path their hs/sigs are NULL,
# so they can never join a band bucket, never explode, and never appear in
# any candidate pair — identical results (pinned by the kernel test).
_HS_SCHEMA = "doc_id bigint, hs array<bigint>"
_HS_SIG_SCHEMA = "doc_id bigint, hs array<bigint>, " + ", ".join(
    f"s{i} bigint" for i in range(_K)
)


def _doc_hashes(txt: str, mod: int | None) -> list[int]:
    """60-bit md5-prefix hashes of the distinct word-3-gram shingles of one
    document — the exact per-row contract of
    transform(_shingles_col(), s -> conv(substring(md5(s),1,15),16,10))."""
    import hashlib  # noqa: PLC0415 — worker-side import

    toks = _JAVA_WS.split(txt.strip(" "))
    n = len(toks)
    if n >= 3:
        grams = dict.fromkeys(
            " ".join(toks[i : i + 3]) for i in range(n - 2)
        )
    elif n == 2:
        grams = {toks[0] + " " + toks[1]: None}
    else:
        grams = {toks[0]: None}
    md5 = hashlib.md5
    if mod is None:
        return [int(md5(g.encode("utf-8")).hexdigest()[:15], 16) for g in grams]
    return [
        int(md5(g.encode("utf-8")).hexdigest()[:15], 16) % mod for g in grams
    ]


def _hs_kernel(batches):
    """(doc_id, text) -> (doc_id, hs): raw 60-bit hashed shingles (the
    text_decontaminate / pipeline_assemble_e2e hash contract)."""
    import pyarrow as pa  # noqa: PLC0415

    for batch in batches:
        ids = batch.column("doc_id").to_pylist()
        texts = batch.column("text").to_pylist()
        o_id, o_hs = [], []
        for did, txt in zip(ids, texts):
            if txt is None:
                continue
            o_id.append(did)
            o_hs.append(_doc_hashes(txt, None))
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(o_id, type=pa.int64()),
                pa.array(o_hs, type=pa.list_(pa.int64())),
            ],
            names=["doc_id", "hs"],
        )


def _hs_sig_kernel(batches):
    """(doc_id, text) -> (doc_id, hs mod P, s0..s31): the MinHash base hashes
    plus all 32 affine-permutation signature minima in one pass."""
    import numpy as np  # noqa: PLC0415
    import pyarrow as pa  # noqa: PLC0415

    a = np.array(_A, dtype=np.int64).reshape(-1, 1)
    b = np.array(_B, dtype=np.int64).reshape(-1, 1)
    for batch in batches:
        ids = batch.column("doc_id").to_pylist()
        texts = batch.column("text").to_pylist()
        o_id, o_hs = [], []
        o_sig = [[] for _ in range(_K)]
        for did, txt in zip(ids, texts):
            if txt is None:
                continue
            hs = _doc_hashes(txt, _P)
            o_id.append(did)
            o_hs.append(hs)
            hv = np.array(hs, dtype=np.int64)
            sigs = ((a * hv + b) % _P).min(axis=1)
            for i in range(_K):
                o_sig[i].append(int(sigs[i]))
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(o_id, type=pa.int64()),
                pa.array(o_hs, type=pa.list_(pa.int64())),
            ]
            + [pa.array(c, type=pa.int64()) for c in o_sig],
            names=["doc_id", "hs"] + [f"s{i}" for i in range(_K)],
        )


def _minhash_lsh(
    spark,
    sf,
    candidates_only: bool = False,
    persist_bands: bool = True,
    persist_hashed: bool = True,
    arrow_kernel: bool = True,
):
    """``candidates_only``: return the pre-verify candidate pair set — the
    quantity whose growth rate IS the LSH scale contract (measured at 1x and
    10x by scripts/scale_smoke.py).

    ``persist_bands``: cache the banded signatures (MEMORY_AND_DISK) before
    the self-join so the shingle md5 + 32 affine-permutation mins run ONCE
    instead of once per join side (the same measured win as
    similarity_lsh_pairs' band cache; lineage kept for executor-loss
    recovery, lazy so plan-only calls stay job-free).

    ``persist_hashed``: cache the md5-hashed shingle arrays.  Before round 8
    the plan scanned ``documents`` THREE times (once under the band cache,
    once per verify side) and re-ran the tokenize+shingle+md5 map — the
    single most expensive map in the query — on each scan; at 100 TB those
    are two extra full corpus passes.  Caching (doc_id, hs) collapses the
    band build and both verify joins onto one scan+map (plan: 3 parquet
    scans of documents -> 1).

    ``arrow_kernel`` (round 9): compute the hashed shingles AND the 32
    signature minima in one Arrow-batched pass (_hs_sig_kernel) instead of
    the interpreted HOF expressions — identical values (see the kernel
    block comment + tests/test_shingle_kernel.py), ~2.2 s of executor CPU
    replaced by ~0.5 s of Python/numpy at sf0.1.  The JVM expression path
    is kept for A/B measurement and the equivalence test."""
    if arrow_kernel:
        ship_package(spark)
        hashed = (
            _docs_wide(spark, sf)
            .select("doc_id", "text")
            .mapInArrow(_hs_sig_kernel, _HS_SIG_SCHEMA)
        )
        if persist_hashed:
            from pyspark import StorageLevel  # noqa: PLC0415

            hashed = hashed.persist(StorageLevel.MEMORY_AND_DISK)
        sigs = hashed.select("doc_id", *[f"s{i}" for i in range(_K)])
    else:
        docs = _shingled(spark, sf).select("doc_id", "sh")
        # Per-row signature: min over the shingle array per permutation — a
        # pure map (array_min ∘ transform), NO explode/groupBy shuffle.  At
        # 100 TB the only shuffle in this plan is the band-bucket join below.
        # Base-hash each shingle ONCE into an int array; the 32 permutations
        # are then cheap affine maps over ints (32x fewer hash evaluations).
        hashed = docs.select(
            "doc_id",
            F.transform(
                "sh",
                lambda s: F.pmod(
                    F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint"),
                    F.lit(_P),
                ),
            ).alias("hs"),
        )
        if persist_hashed:
            from pyspark import StorageLevel  # noqa: PLC0415

            hashed = hashed.persist(StorageLevel.MEMORY_AND_DISK)

        def _perm(i):
            # single-arg lambda factory (a default arg would make F.transform
            # treat the closure as an (element, index) binary lambda)
            return lambda h: F.pmod(h * F.lit(_A[i]) + F.lit(_B[i]), F.lit(_P))

        sigs = hashed.select(
            "doc_id",
            *[
                F.array_min(F.transform("hs", _perm(i))).alias(f"s{i}")
                for i in range(_K)
            ],
        )
    def _band_key(j):
        # Horner polynomial over the band's 4 signature values: each s < P
        # (2^31), so the combined value < P * 31^3 < 2^46 — no overflow, and
        # trivially reproducible in SQL (unlike xxhash64).
        out = F.lit(0).cast("bigint")
        for r in range(_ROWS):
            out = out * 31 + F.col(f"s{j * _ROWS + r}")
        return out

    keyed = sigs.select(
        "doc_id", *[_band_key(j).alias(f"k{j}") for j in range(_BANDS)]
    )
    bands = keyed.select(
        "doc_id",
        *[f"k{j}" for j in range(_BANDS)],
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(j).alias("band"), F.col(f"k{j}").alias("bkey"))
                    for j in range(_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", *[f"k{j}" for j in range(_BANDS)], "bb.band", "bb.bkey")
    if persist_bands:
        from pyspark import StorageLevel  # noqa: PLC0415

        bands = bands.persist(StorageLevel.MEMORY_AND_DISK)
    # Candidate pairs: equi-join on (band, bkey) — never a cartesian product.
    # First-matching-band dedup (no earlier band key equal) replaces the
    # candidate distinct(): one full shuffle removed, every pair emitted
    # exactly once.  The 8 band keys ride through the explode for it.
    a, b = bands.alias("a"), bands.alias("b")
    first_match = F.lit(True)
    for c in range(1, _BANDS):
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
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(first_match)
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
    )
    if candidates_only:
        return cand
    # Exact-Jaccard verification of the candidates only — over the HASHED
    # shingle arrays (8-byte ints), not the raw 3-gram strings: the verify
    # joins shuffle ~4x fewer bytes, and Jaccard over distinct hashes equals
    # Jaccard over shingles up to 2^-31 collision noise (this entry is the
    # approximate scale path; the string-exact variant is
    # dedup_ngram_jaccard above).
    hsets = hashed.select("doc_id", F.array_distinct("hs").alias("hset"))
    da = hsets.select(F.col("doc_id").alias("doc_a"), F.col("hset").alias("sh_a"))
    db = hsets.select(F.col("doc_id").alias("doc_b"), F.col("hset").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        cand.join(da, "doc_a")
        .join(db, "doc_b")
        .select("doc_a", "doc_b", (inter / union).alias("jaccard"))
        .filter(F.col("jaccard") >= 0.5)
    )


# Oracle: the SAME 32 affine-permutation minima, 8 Horner band keys,
# band-bucket candidate join, and exact hashed-shingle Jaccard — generated
# programmatically so the constants can't drift from the Spark side.
_MH_SIG_COLS = ",\n             ".join(
    f"list_min([(h * {_A[i]} + {_B[i]}) % {_P} FOR h IN hs]) AS s{i}"
    for i in range(_K)
)
def _mh_band_arm(j: int) -> str:
    # same Horner fold as the Spark-side _band_key, derived from _ROWS
    expr = f"s{j * _ROWS}"
    for r in range(1, _ROWS):
        expr = f"({expr})*31 + s{j * _ROWS + r}"
    return f"SELECT doc_id, {j} AS band, {expr} AS bkey FROM sigs"


_MH_BAND_ARMS = "\n      UNION ALL ".join(
    _mh_band_arm(j) for j in range(_BANDS)
)
_MH_JACCARD = (
    "len(list_intersect(ha.hset, hb.hset))"
    " / CAST(len(list_distinct(ha.hset || hb.hset)) AS DOUBLE)"
)

REG.add(
    "dedup_minhash_lsh",
    _minhash_lsh,
    f"""
    WITH sh AS (
      SELECT doc_id,
             list_distinct([array_to_string(toks[i:i+2], ' ')
                            FOR i IN range(1, greatest(len(toks) - 2, 1) + 1)]) AS sh
      FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
            FROM documents) x
    ), hs AS (
      SELECT doc_id,
             list_transform(sh, s ->
               ('0x' || substring(md5(s), 1, 15))::BIGINT % {_P}) AS hs
      FROM sh
    ), sigs AS (
      SELECT doc_id,
             {_MH_SIG_COLS}
      FROM hs
    ), bands AS (
      {_MH_BAND_ARMS}
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    ), hset AS (
      SELECT doc_id, list_distinct(hs) AS hset FROM hs
    )
    SELECT doc_a, doc_b, {_MH_JACCARD} AS jaccard
    FROM cand
    JOIN hset ha ON ha.doc_id = cand.doc_a
    JOIN hset hb ON hb.doc_id = cand.doc_b
    WHERE {_MH_JACCARD} >= 0.5
    """,
)

# --- incremental (arriving-batch) dedup ---------------------------------------
# The production ingest flow: a SMALL batch of new documents must be checked
# against the EXISTING corpus before appending — not an all-pairs self-join.
# Asymmetric LSH probe: both sides get the same MinHash band keys, but the
# new batch's band rows BROADCAST into the corpus band join, so the corpus
# (the 100 TB side) is never shuffled — each corpus band row hash-probes the
# tiny new-batch table in its own scan stage.  Candidates verify with exact
# hashed-shingle Jaccard, then one groupBy on the new-batch keys (bounded by
# batch size) reports, per new doc: how many corpus near-dups, the smallest
# matching corpus doc, and the best Jaccard.  The fixture's "arriving batch"
# is the doc_id % 10 = 7 slice; a production run filters by ingest date.
_NEW_PRED = "doc_id % 10 = 7"


def _dedup_incremental(
    spark, sf, persist_hashed: bool = True, arrow_kernel: bool = True
):
    """``persist_hashed``: before round 8 this plan scanned ``documents``
    EIGHT times (new-batch bands, corpus bands, two verify hset sides — each
    a fresh scan + tokenize/shingle/md5 map, some doubled again under AQE
    subtrees) because ``bands`` was built twice (once per filter side) and
    ``hsets`` twice more.  Caching (doc_id, hs) once and deriving bands a
    single time (filtered AFTER the explode) collapses the whole query onto
    ONE scan of the corpus — at 100 TB that is 7 fewer full passes.

    ``arrow_kernel`` (round 9): hashes + signature minima in one Arrow pass
    (_hs_sig_kernel) — same change and evidence as _minhash_lsh."""
    if arrow_kernel:
        ship_package(spark)
        hashed = (
            _docs_wide(spark, sf)
            .select("doc_id", "text")
            .mapInArrow(_hs_sig_kernel, _HS_SIG_SCHEMA)
        )
        if persist_hashed:
            from pyspark import StorageLevel  # noqa: PLC0415

            hashed = hashed.persist(StorageLevel.MEMORY_AND_DISK)
        sigs = hashed.select("doc_id", *[f"s{i}" for i in range(_K)])
    else:
        docs = _shingled(spark, sf).select("doc_id", "sh")
        hashed = docs.select(
            "doc_id",
            F.transform(
                "sh",
                lambda s: F.pmod(
                    F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint"),
                    F.lit(_P),
                ),
            ).alias("hs"),
        )
        if persist_hashed:
            from pyspark import StorageLevel  # noqa: PLC0415

            hashed = hashed.persist(StorageLevel.MEMORY_AND_DISK)

        def _perm(i):
            return lambda h: F.pmod(h * F.lit(_A[i]) + F.lit(_B[i]), F.lit(_P))

        sigs = hashed.select(
            "doc_id",
            *[
                F.array_min(F.transform("hs", _perm(i))).alias(f"s{i}")
                for i in range(_K)
            ],
        )

    def _band_key(j):
        out = F.lit(0).cast("bigint")
        for r in range(_ROWS):
            out = out * 31 + F.col(f"s{j * _ROWS + r}")
        return out

    bands = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band"), _band_key(j).alias("bkey")
                    )
                    for j in range(_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bkey")
    if persist_hashed:
        # narrow (3 ints/row); caching it means the 32 affine permutations
        # run once, not once per filter side below
        from pyspark import StorageLevel  # noqa: PLC0415

        bands = bands.persist(StorageLevel.MEMORY_AND_DISK)
    new_b = bands.filter(F.expr(_NEW_PRED)).withColumnRenamed(
        "doc_id", "new_id"
    )
    corp_b = bands.filter(~F.expr(_NEW_PRED))
    cand = (
        corp_b.join(F.broadcast(new_b), ["band", "bkey"])
        .select(F.col("doc_id").alias("corpus_id"), "new_id")
        .distinct()
    )
    hsets = hashed.select("doc_id", F.array_distinct("hs").alias("hset"))
    ja = hsets.select(F.col("doc_id").alias("corpus_id"), F.col("hset").alias("sh_a"))
    jb = hsets.select(F.col("doc_id").alias("new_id"), F.col("hset").alias("sh_b"))
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(
        F.array_union("sh_a", "sh_b")
    )
    return (
        cand.join(ja, "corpus_id")
        .join(F.broadcast(jb), "new_id")
        .select("new_id", "corpus_id", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.5)
        .groupBy("new_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_dups"),
            F.min("corpus_id").alias("dup_of"),
            F.max("jaccard").alias("best_jaccard"),
        )
    )


REG.add(
    "dedup_incremental",
    _dedup_incremental,
    f"""
    WITH sh AS (
      SELECT doc_id,
             list_distinct([array_to_string(toks[i:i+2], ' ')
                            FOR i IN range(1, greatest(len(toks) - 2, 1) + 1)]) AS sh
      FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
            FROM documents) x
    ), hs AS (
      SELECT doc_id,
             list_transform(sh, s ->
               ('0x' || substring(md5(s), 1, 15))::BIGINT % {_P}) AS hs
      FROM sh
    ), sigs AS (
      SELECT doc_id,
             {_MH_SIG_COLS}
      FROM hs
    ), bands AS (
      {_MH_BAND_ARMS}
    ), cand AS (
      SELECT DISTINCT c.doc_id AS corpus_id, n.doc_id AS new_id
      FROM bands c JOIN bands n ON c.band = n.band AND c.bkey = n.bkey
      WHERE n.doc_id % 10 = 7 AND NOT (c.doc_id % 10 = 7)
    ), hset AS (
      SELECT doc_id, list_distinct(hs) AS hset FROM hs
    ), verified AS (
      SELECT cand.new_id, cand.corpus_id,
             len(list_intersect(ha.hset, hb.hset))
               / CAST(len(list_distinct(ha.hset || hb.hset)) AS DOUBLE) AS jaccard
      FROM cand
      JOIN hset ha ON ha.doc_id = cand.corpus_id
      JOIN hset hb ON hb.doc_id = cand.new_id
    )
    SELECT new_id,
           CAST(COUNT(*) AS BIGINT) AS n_dups,
           MIN(corpus_id)           AS dup_of,
           MAX(jaccard)             AS best_jaccard
    FROM verified
    WHERE jaccard >= 0.5
    GROUP BY new_id
    """,
)

# --- SimHash near-dup (oracle-paired; banded Hamming buckets) -----------------
# n-bit SimHash: bit b of the fingerprint is the sign of
# sum_tokens(bit_b(md5(token)) * 2 - 1).  Both engines read the SAME md5 hex,
# so fingerprints agree exactly (verified bit-for-bit at sf0.001).  The
# fingerprint is kept as n_chunks chunk columns instead of one int64/128 —
# the top chunk would otherwise occupy the sign bit, which DuckDB's checked
# `<<` rejects — and the Hamming distance is the sum of per-chunk
# bit_count(xor(...)).
#
# Scale shape: the only shuffle is the map-side-combined fingerprint groupBy
# plus the candidate equi-join on (chunk_index, chunk_value).  Hamming <=
# n_chunks-1 over n_chunks chunks guarantees a shared chunk (pigeonhole), so
# banding loses no pairs.  The CHUNK WIDTH is the collision knob: random
# docs share a w-bit chunk with probability 2^-w, so expected random
# candidates are n_chunks * N^2 / 2^w.  ``simhash_params`` picks the config
# by corpus size; two configs are registered and oracle-paired:
#   dedup_simhash     64-bit fp,  4 x 16-bit chunks, Hamming <= 3
#   dedup_simhash128  128-bit fp, 8 x 16-bit chunks, Hamming <= 7
# (md5 is exactly 128 bits, so the wide variant consumes the whole digest.)


def simhash_params(n_docs: int) -> tuple[int, int]:
    """(n_bits, n_chunks) for a corpus of ``n_docs`` documents.

    Chosen so expected random-chunk collisions n_chunks*N^2/2^w stay
    near-linear in N (w = chunk width = n_bits/n_chunks):

      N <= ~65k -> (64, 4):  16-bit chunks, Hamming <= 3
      larger    -> (128, 4): 32-bit chunks, Hamming <= 3 — random
                   collisions stay O(N) up to ~4B docs

    The trade-off is explicit: more chunks = higher Hamming tolerance
    (recall), wider chunks = fewer random collisions (scale).  The
    recall-oriented (128, 8) config — Hamming <= 7, but 16-bit buckets,
    so candidate volume is O(8*N^2/2^16) and only affordable to ~10^6-10^7
    docs — is registered separately as ``dedup_simhash128``; it is NOT
    returned here because it fails this function's near-linearity
    criterion at larger N.  All configs run through the same parameterized
    builder below.
    """
    if n_docs <= 1 << 16:
        return (64, 4)
    return (128, 4)


def _simhash_kernel(n_bits: int, n_chunks: int):
    """Arrow-batched SimHash fingerprint kernel (round 9, guide §4.2).

    Computes, per row of (doc_id, lt = lower(trim(text))): the distinct
    whitespace tokens, md5 per distinct token, and the n_bits sign-of-sums
    fingerprint packed into n_chunks chunk ints — the exact values of the
    explode -> n_bits SUM aggregates -> chunk-pack JVM formulation:

      * lower(trim(...)) deliberately stays ON THE JVM (the kernel input
        is the already-normalized string), so there is no Python-vs-Java
        Unicode-lowercasing surface at all;
      * the tokenizer is the pinned Java-faithful split (limit -1, ASCII
        \\s class) and dict.fromkeys == array_distinct;
      * bit b of the md5 prefix: conv(substring(hex, 8p+1, 8),16,10) is
        the big-endian bytes 4p..4p+3 of the digest, and np.unpackbits is
        MSB-first per byte in byte order — the bit columns align exactly;
      * the sign sums are small exact integers (|s_b| <= n_tokens).

    Replaces a full explode(distinct tokens) + groupBy SHUFFLE and the 64
    aggregate evaluations with a zero-shuffle per-row map — measured
    per-triplet executor CPU ~18.6 s -> see OPTIMIZATION_r09.md; at 100 TB
    it removes the fingerprint shuffle outright (§2.4).  Rows with NULL
    text are dropped (the JVM path's explode(NULL) drops them equally).
    Pinned by tests/test_shingle_kernel.py::test_simhash_kernel_*.
    """
    chunk_bits = n_bits // n_chunks
    nb = n_bits // 8
    weights = [1 << j for j in range(chunk_bits)]

    def kernel(batches):
        import hashlib  # noqa: PLC0415
        import numpy as np  # noqa: PLC0415
        import pyarrow as pa  # noqa: PLC0415

        md5 = hashlib.md5
        w = np.array(weights, dtype=np.int64)
        for batch in batches:
            ids = batch.column("doc_id").to_pylist()
            texts = batch.column("lt").to_pylist()
            o_id = []
            o_chunks = [[] for _ in range(n_chunks)]
            for did, s in zip(ids, texts):
                if s is None:
                    continue
                toks = dict.fromkeys(_JAVA_WS.split(s))
                dig = b"".join(
                    md5(t.encode("utf-8")).digest()[:nb] for t in toks
                )
                bits = np.unpackbits(
                    np.frombuffer(dig, dtype=np.uint8)
                ).reshape(len(toks), n_bits)
                s_b = 2 * bits.sum(axis=0, dtype=np.int64) - len(toks)
                pos = (s_b > 0).astype(np.int64)
                o_id.append(did)
                for c in range(n_chunks):
                    o_chunks[c].append(
                        int((pos[chunk_bits * c : chunk_bits * (c + 1)] * w).sum())
                    )
            yield pa.RecordBatch.from_arrays(
                [pa.array(o_id, type=pa.int64())]
                + [pa.array(col, type=pa.int64()) for col in o_chunks],
                names=["doc_id"] + [f"c{c}" for c in range(n_chunks)],
            )

    return kernel


def _simhash_fp(
    spark, sf, n_bits: int = 64, n_chunks: int = 4, arrow_kernel: bool = True
) -> DataFrame:
    """doc_id + n_chunks fingerprint chunk columns (c0..c{n-1}).

    JVM formulation (``arrow_kernel=False``, the r6-r8 shape): explode
    (distinct tokens) -> n_bits codegen'd SUM(shifted bit) aggregates ->
    chunk packing, NOT nested array lambdas over an accumulator (higher-
    order functions evaluate their lambda interpreted per element —
    measured ~15 s/side at sf0.1 vs ~2 s for this shape).  The groupBy
    shuffles only (doc_id, n_bits partial longs) thanks to map-side
    combine.

    Round 9 default: the whole fingerprint crosses to the Arrow kernel
    (_simhash_kernel) as a zero-shuffle per-row map — identical values,
    one shuffle fewer (the explode+groupBy disappears).
    """
    assert n_bits % 32 == 0 and n_bits <= 128 and n_bits % n_chunks == 0
    if arrow_kernel:
        ship_package(spark)
        return (
            _docs_wide(spark, sf)
            .select("doc_id", F.lower(F.trim(F.col("text"))).alias("lt"))
            .mapInArrow(
                _simhash_kernel(n_bits, n_chunks),
                "doc_id bigint, "
                + ", ".join(f"c{c} bigint" for c in range(n_chunks)),
            )
        )
    chunk_bits = n_bits // n_chunks
    n_parts = n_bits // 32
    toks = _docs_wide(spark, sf).select(
        "doc_id",
        F.explode(
            F.array_distinct(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
        ).alias("tok"),
    )
    h = F.md5(F.col("tok"))
    hashed = toks.select(
        "doc_id",
        *[
            F.conv(F.substring(h, 8 * p + 1, 8), 16, 10)
            .cast("bigint")
            .alias(f"h{p}")
            for p in range(n_parts)
        ],
    )

    # Single-F.expr strings per aggregate/chunk: nested Column-object
    # construction for 64+ aggregates costs hundreds of py4j round-trips of
    # driver time per run (same finding as pipeline_similarity._sim_bands).
    def contrib(b: int) -> str:
        # bit b of the n_bits-wide md5 prefix (MSB first), mapped to +/-1
        src, sh = f"h{b // 32}", 31 - (b % 32)
        return f"sum((shiftright({src}, {sh}) & 1) * 2 - 1) AS s{b}"

    sums = hashed.groupBy("doc_id").agg(
        *[F.expr(contrib(b)) for b in range(n_bits)]
    )

    def chunk(c: int) -> str:
        terms = " + ".join(
            f"(CASE WHEN s{chunk_bits * c + j} > 0 THEN {1 << j} ELSE 0 END)"
            for j in range(chunk_bits)
        )
        return f"CAST({terms} AS BIGINT) AS c{c}"

    return sums.select(
        "doc_id", *[F.expr(chunk(c)) for c in range(n_chunks)]
    )


def _simhash(
    spark,
    sf,
    n_bits: int = 64,
    n_chunks: int = 4,
    candidates_only: bool = False,
    persist_bands: bool = True,
    arrow_kernel: bool = True,
):
    fp = _simhash_fp(spark, sf, n_bits, n_chunks, arrow_kernel=arrow_kernel)
    # Carry the n_chunks chunk columns THROUGH the band explode: the candidate
    # self-join then yields both sides' full fingerprints directly — no
    # join-back to fp, which would re-run the expensive fingerprint map two
    # more times (diamond DAG).
    bands = fp.select(
        "doc_id",
        *[f"c{c}" for c in range(n_chunks)],
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(c).alias("band"), F.col(f"c{c}").alias("val"))
                    for c in range(n_chunks)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", *[f"c{c}" for c in range(n_chunks)], "bb.band", "bb.val")
    if persist_bands:
        # Exchange reuse dedupes the self-join's shuffle WRITE, but the
        # post-shuffle fingerprint aggregation still ran per side — caching
        # the banded fingerprints (MEMORY_AND_DISK, lineage kept) measured
        # 2.5 s → 2.0 s cold / 0.8 s warm at sf0.1 (round 6).
        from pyspark import StorageLevel  # noqa: PLC0415

        bands = bands.persist(StorageLevel.MEMORY_AND_DISK)
    a, b = bands.alias("a"), bands.alias("b")
    hamming = sum(
        F.bit_count(F.col(f"a.c{c}").bitwiseXOR(F.col(f"b.c{c}")))
        for c in range(n_chunks)
    ).cast("bigint")
    # First-matching-band dedup: a pair sharing several chunk-buckets is
    # emitted ONLY from its lowest matching band (no earlier chunk equal),
    # so the final distinct() — a full extra shuffle over the candidate
    # stream — disappears.  The predicate is free: both sides' chunks are
    # already carried through the join.
    first_match = F.lit(True)
    for c in range(n_chunks):
        first_match = F.when(
            F.col("a.band") == c,
            sum(
                (F.col(f"a.c{j}") == F.col(f"b.c{j}")).cast("int")
                for j in range(c)
            )
            == 0
            if c
            else F.lit(True),
        ).otherwise(first_match)
    cand = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.val") == F.col("b.val"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).filter(first_match)
    if candidates_only:
        return cand.select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
    return cand.select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        hamming.alias("hamming"),
    ).filter(F.col("hamming") <= n_chunks - 1)


def _simhash_oracle(n_bits: int, n_chunks: int) -> str:
    """DuckDB oracle generated from the SAME (n_bits, n_chunks) parameters as
    the Spark builder, so the constants can't drift between the two sides.
    The oracle computes fingerprints the slow exact way (all-pairs Hamming):
    it verifies the banded candidate join loses no pairs (pigeonhole)."""
    chunk_bits = n_bits // n_chunks
    n_parts = n_bits // 32
    parts = ",\n             ".join(
        f"('0x' || substring(md5(tok), {8 * p + 1}, 8))::BIGINT AS h{p}"
        for p in range(n_parts)
    )
    part_case = " ".join(
        f"WHEN b < {32 * (p + 1)} THEN h{p} >> ({32 * (p + 1) - 1} - b)"
        for p in range(n_parts)
    )
    chunks = ",\n             ".join(
        f"SUM(CASE WHEN b // {chunk_bits} = {c} AND s > 0"
        f" THEN (1::BIGINT << (b % {chunk_bits})) ELSE 0 END) AS c{c}"
        for c in range(n_chunks)
    )
    ham = " + ".join(
        f"bit_count(xor(a.c{c}, b.c{c}))" for c in range(n_chunks)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_distinct(string_split_regex(lower(trim(text)), '\\s+'))) AS tok
      FROM documents
    ), tb AS (
      SELECT doc_id,
             {parts}
      FROM toks
    ), sums AS (
      SELECT doc_id, b,
             SUM(((CASE {part_case} END) & 1) * 2 - 1) AS s
      FROM tb, range({n_bits}) r(b) GROUP BY doc_id, b
    ), fp AS (
      SELECT doc_id,
             {chunks}
      FROM sums GROUP BY doc_id
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           ({ham})::BIGINT AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE {ham} <= {n_chunks - 1}
    """


REG.add("dedup_simhash", _simhash, _simhash_oracle(64, 4))

# The documented wide variant: the full 128-bit md5 digest, 8 x 16-bit
# chunks, Hamming <= 7 — the recall configuration of simhash_params for
# corpora past the 16-bit-bucket regime.
REG.add(
    "dedup_simhash128",
    lambda spark, sf: _simhash(spark, sf, n_bits=128, n_chunks=8),
    _simhash_oracle(128, 8),
)
