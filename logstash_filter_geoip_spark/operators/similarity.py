"""Similarity search over the `embeddings` table (vec_id, embedding
array<float>, label).

  * brute_force_topk — exact cosine top-k for a BOUNDED query set: the
    queries (≤ MAX_QUERIES rows, deterministic choice) are collected once,
    L2-normalized into one numpy matrix, and shipped to executors via
    `SparkContext.broadcast` (one copy per executor, not per task). Each
    candidate batch computes `X @ Q.T` as a single BLAS matmul inside an
    Arrow-batched pandas UDF — measured ~50× faster than per-pair
    HOF (zip_with/aggregate) expressions, which Spark evaluates interpreted.
    The candidate scan is embarrassingly parallel; per query only k rows
    survive each partition into the final window. There is no unbounded
    driver collect anywhere.
  * ivf_topk — the approximate scale path: a FIXED number of centroids
    (independent of N) forms the coarse quantizer; every vector is assigned
    to its nearest centroid by the same broadcast-matmul pattern (argmax —
    no explode, no window); a query only scores vectors in its `nprobe`
    nearest cells, so scan cost drops from O(N) to ~O(N * nprobe / n_cells).
  * embedding_near_dup — cosine ≥ threshold near-duplicate pairs via
    random-hyperplane LSH: sign(X @ H.T) gives an N_PLANES-bit signature;
    signatures are banded (N_BANDS bands × R_BITS bits) and candidates are
    pairs sharing any exact band value — the same banded-join shape as
    dedup.simhash_near_dup, never an all-pairs nested-loop join. Candidates
    are verified with the exact cosine, so false positives are impossible;
    the only approximation is recall, bounded below (see function doc).

Floats: similarity is computed in DOUBLE after casting the float32 inputs
(exactly representable). Comparisons use round(sim, 9) so reassociation
noise (~1e-15) can never flip an ordering, with vec_id as the deterministic
tie-break. The DuckDB oracles mirror the same rounding.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

TOP_K = 5
QUERY_MOD = 10       # vec_id % QUERY_MOD == 0 → query-set candidate
MAX_QUERIES = 64     # hard bound on the query set (driver + broadcast size)
NEAR_DUP_SIM = 0.95
N_CELLS = 32         # FIXED IVF centroid count — independent of table size
NPROBE = 3
TRAIN_CAP = 4096     # IVF centroid-training sample rows (bounded collect)

# random-hyperplane LSH geometry for embedding_near_dup.
# P(bit agrees) for cosine s is 1 - arccos(s)/pi; at s = 0.95 that is
# p ≈ 0.8989, so P(band of 8 bits collides) = p^8 ≈ 0.4266 and
# P(miss all 32 bands) = (1 - 0.4266)^32 ≈ 1.7e-8 — the documented recall
# bound (recall ≥ 1 - 1.7e-8 at the 0.95 threshold, higher above it).
LSH_SEED = 0x5EED
N_PLANES = 256
LSH_BANDS = 32
LSH_BITS = N_PLANES // LSH_BANDS  # 8 bits → 256 buckets per band


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # plain Cast, NOT F.transform(...): the HOF form is CodegenFallback and
    # sat as an interpreted Project on the scan feeding all three ANN queries
    # (VERDICT r2); array<float> -> array<double> casts element-wise with
    # identical semantics and stays inside the whole-stage-codegen span.
    return df.select("vec_id",
                     F.col("embedding").cast("array<double>").alias("emb"),
                     "label")


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def _norm(a):
    return F.sqrt(_dot(a, a))


def _cosine(a, b):
    """Interpreted HOF cosine — kept ONLY for the all-pairs test oracle;
    hot paths use the BLAS `pair_cos` pandas UDF (~50× faster)."""
    return _dot(a, b) / (_norm(a) * _norm(b))


@F.pandas_udf(T.DoubleType())
def pair_cos(a: pd.Series, b: pd.Series) -> pd.Series:
    """Exact cosine for aligned vector pairs, BLAS-vectorized per Arrow batch
    and rounded to 9 decimals (the suite-wide reassociation guard). Shared by
    the IVF probe scoring and the near-dup candidate verify."""
    import numpy as np
    x = np.array(a.tolist(), dtype=np.float64)
    y = np.array(b.tolist(), dtype=np.float64)
    nx = np.maximum(np.linalg.norm(x, axis=1), 1e-300)
    ny = np.maximum(np.linalg.norm(y, axis=1), 1e-300)
    return pd.Series(np.round(np.einsum("ij,ij->i", x, y) / (nx * ny), 9))


def _query_matrix(emb: DataFrame, query_mod: int, max_queries: int):
    """Collect the BOUNDED query set (the `max_queries` smallest qualifying
    vec_ids — deterministic) and return (ids, L2-normalized numpy matrix).
    The collect is capped by LIMIT, so it can never pull a data-sized
    relation to the driver regardless of table size."""
    import numpy as np

    q_rows = (emb.where(F.col("vec_id") % query_mod == 0)
                 .select("vec_id", "emb")
                 .orderBy("vec_id")
                 .limit(max_queries)
                 .collect())
    if not q_rows:
        return [], None
    q_ids = [r["vec_id"] for r in q_rows]
    qm = np.array([r["emb"] for r in q_rows], dtype=np.float64)
    qm /= np.maximum(np.linalg.norm(qm, axis=1, keepdims=True), 1e-300)
    return q_ids, qm


def brute_force_topk(emb: DataFrame, k: int = TOP_K,
                     query_mod: int = QUERY_MOD,
                     max_queries: int = MAX_QUERIES) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Returns (query_id, rank, neighbor_id). The query matrix rides a
    SparkContext.broadcast (decoded once per executor); candidates never
    leave the executors.
    """
    import numpy as np

    q_ids, qm = _query_matrix(emb, query_mod, max_queries)
    if not q_ids:
        return emb.sparkSession.createDataFrame(
            [], "query_id long, rank int, neighbor_id long")
    bq = emb.sparkSession.sparkContext.broadcast(qm)

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def sims(batch: pd.Series) -> pd.Series:
        x = np.array(batch.tolist(), dtype=np.float64)
        x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-300)
        c = np.round(x @ bq.value.T, 9)
        return pd.Series(list(c))

    scored = (emb.select("vec_id", F.posexplode(sims("emb"))
                         .alias("q_idx", "sim_r")))
    id_map = F.array(*[F.lit(i) for i in q_ids])
    scored = scored.select(
        F.get(id_map, F.col("q_idx")).alias("query_id"),
        F.col("vec_id").alias("neighbor_id"),
        "sim_r",
    ).where(F.col("query_id") != F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("sim_r"), F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .where(F.col("rank") <= k)
                  .select("query_id", "rank", "neighbor_id"))


def _train_centroids(sample, n_cells: int, n_iter: int = 10):
    """Spherical k-means over a BOUNDED sample (classic IVF training):
    deterministic init (first n_cells sample rows), Lloyd iterations with
    cosine assignment, empty clusters keep their previous centroid. Pure
    numpy on ≤ train_cap rows — k and the sample size are both independent
    of table size."""
    import numpy as np

    x = np.array(sample, dtype=np.float64)
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-300)
    k = min(n_cells, len(x))
    c = x[:k].copy()
    for _ in range(n_iter):
        assign = np.argmax(x @ c.T, axis=1)
        for j in range(k):
            members = x[assign == j]
            if len(members):
                m = members.sum(axis=0)
                nrm = np.linalg.norm(m)
                if nrm > 0:
                    c[j] = m / nrm
    return c


def ivf_topk(emb: DataFrame, query_mod: int = QUERY_MOD,
             n_cells: int = N_CELLS, nprobe: int = NPROBE,
             max_queries: int = MAX_QUERIES) -> DataFrame:
    """IVF-style approximate top-TOP_K.

    Coarse quantizer: `n_cells` spherical-k-means centroids trained on a
    bounded sample (k FIXED, independent of N — the r1 version grew
    centroids O(N), making assignment O(N²)). Assignment and probing are
    both one broadcast-matmul pandas UDF (argmax / arg-top-nprobe) — no
    per-pair HOF expressions, no explode+window blow-up. The only shuffle is
    the candidates join keyed on cell_id plus the final per-query top-k
    window.

    Recall caveat (fundamental to IVF, not this implementation): on
    unstructured near-orthogonal data, recall ≈ fraction of cells probed;
    on clustered data (the realistic embedding case) recall is high at
    small nprobe — tests assert ≥ 0.9 on a clustered fixture and exact
    brute-force equality when every cell is probed.
    """
    import numpy as np

    spark = emb.sparkSession
    sample = [r["emb"] for r in
              emb.select("emb").orderBy("vec_id").limit(TRAIN_CAP).collect()]
    if not sample:
        return spark.createDataFrame([], "query_id long, rank int, neighbor_id long")
    cm = _train_centroids(sample, n_cells)
    cell_ids = np.arange(len(cm), dtype=np.int64)
    bc = spark.sparkContext.broadcast((cell_ids, cm))

    def _cell_sims(batch: pd.Series):
        ids, c = bc.value
        x = np.array(batch.tolist(), dtype=np.float64)
        x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-300)
        return ids, np.round(x @ c.T, 9)

    @F.pandas_udf(T.LongType())
    def nearest_cell(batch: pd.Series) -> pd.Series:
        ids, sims = _cell_sims(batch)
        # argmax returns the FIRST max; ids are ascending → smallest cell_id
        # wins ties (deterministic)
        return pd.Series(ids[np.argmax(sims, axis=1)])

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def probe_cells(batch: pd.Series) -> pd.Series:
        import numpy as np
        ids, sims = _cell_sims(batch)
        # stable sort on -sim keeps ascending-id order within ties
        order = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe]
        return pd.Series([list(ids[row]) for row in order])

    assigned = emb.select("vec_id", "emb", nearest_cell("emb").alias("cell_id"))
    probes = (
        emb.where(F.col("vec_id") % query_mod == 0)
           .orderBy("vec_id").limit(max_queries)
           .select(F.col("vec_id").alias("query_id"),
                   F.col("emb").alias("q_emb"),
                   F.explode(probe_cells("emb")).alias("cell_id"))
    )
    # explicit broadcast pin (VERDICT r3 #6): the probe side is bounded
    # (max_queries × nprobe rows) so this must NEVER degrade to a
    # SortMergeJoin shuffle of the full assigned table if stats propagation
    # regresses — tests/test_plan_shape.py asserts the join strategy
    cand = F.broadcast(probes).join(assigned, "cell_id").where(
        F.col("query_id") != F.col("vec_id"))

    w = Window.partitionBy("query_id").orderBy(F.desc("sim_r"), F.asc("neighbor_id"))
    return (cand.select("query_id", F.col("vec_id").alias("neighbor_id"),
                        pair_cos("q_emb", "emb").alias("sim_r"))
                .withColumn("rank", F.row_number().over(w))
                .where(F.col("rank") <= TOP_K)
                .select("query_id", "rank", "neighbor_id"))


# hyperplane-matrix broadcast cache, keyed by (session id, seed, n_planes,
# dim): repeated embedding_near_dup calls in a long-lived session previously
# created (and never destroyed) a fresh executor broadcast per call —
# a broadcast-block leak (ADVICE r3). The matrix is deterministic in the
# key, so reuse is exact; entries die with the SparkSession.
_HYPERPLANE_BC: dict = {}


def lsh_band_values(emb: DataFrame):
    """pandas UDF Column: array<long> of band values from a random-hyperplane
    signature. The hyperplane matrix is generated ONCE on the driver (the
    embedding dim comes from a one-row peek — an eager .first() job at
    plan-construction time, bounded) and shipped via SparkContext.broadcast,
    cached per (session, LSH_SEED, shape) — the r2 version regenerated the
    (N_PLANES × dim) gaussian per Arrow batch (ADVICE r2). Same seed →
    identical planes → identical band values. Returns None on an empty
    input (no dim to peek)."""
    import numpy as np

    bits_per_band = N_PLANES // LSH_BANDS
    first = emb.select(F.size("emb").alias("d")).first()
    if first is None or first["d"] is None:
        return None
    spark = emb.sparkSession
    app_id = spark.sparkContext.applicationId
    # evict entries from previous sessions: keys carry the applicationId, so
    # after a session restart the dead session's Broadcast handles (and
    # their driver-side numpy matrices) would otherwise live forever in a
    # long-lived multi-session process (ADVICE r4)
    for stale in [k for k in _HYPERPLANE_BC if k[0] != app_id]:
        del _HYPERPLANE_BC[stale]
    key = (app_id, LSH_SEED, N_PLANES, int(first["d"]))
    bh = _HYPERPLANE_BC.get(key)
    if bh is None:
        rng = np.random.default_rng(LSH_SEED)
        bh = spark.sparkContext.broadcast(
            rng.standard_normal((N_PLANES, int(first["d"]))))
        _HYPERPLANE_BC[key] = bh

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def bands(batch: pd.Series) -> pd.Series:
        import numpy as np
        x = np.array(batch.tolist(), dtype=np.float64)
        bits = (x @ bh.value.T) > 0               # (n, n_planes) bool
        weights = 1 << np.arange(bits_per_band, dtype=np.int64)
        vals = bits.reshape(len(x), LSH_BANDS, bits_per_band) @ weights
        # fold the band index in so values from different bands never collide
        vals = vals + (np.arange(LSH_BANDS, dtype=np.int64) << bits_per_band)
        return pd.Series(list(vals))

    return bands(F.col("emb"))


def embedding_near_dup(emb: DataFrame) -> DataFrame:
    """All pairs with cosine ≥ NEAR_DUP_SIM (vec_a < vec_b), via LSH
    banding.

    Plan shape: signature UDF → posexplode bands → self-equi-join on
    (band value) → distinct candidates → exact-cosine verify. No
    BroadcastNestedLoopJoin anywhere (asserted by tests/test_plan_shape.py).
    Recall bound at threshold 0.95: ≥ 1 - 1.7e-8 (see module constants);
    precision is exact because every candidate is verified — with the same
    BLAS `pair_cos` UDF as the rest of the suite (the r2 verify used the
    interpreted HOF chain; VERDICT r2 'what's wrong' #2).
    """
    band_col = lsh_band_values(emb)
    if band_col is None:  # empty input
        return emb.sparkSession.createDataFrame([], "vec_a long, vec_b long")
    sigs = emb.select("vec_id", "emb", F.explode(band_col).alias("band_val"))
    left = sigs.select(F.col("vec_id").alias("vec_a"), "band_val")
    right = sigs.select(F.col("vec_id").alias("vec_b"), "band_val")
    cand = (left.join(right, "band_val")
                .where(F.col("vec_a") < F.col("vec_b"))
                .select("vec_a", "vec_b")
                .distinct())
    ea = emb.select(F.col("vec_id").alias("vec_a"), F.col("emb").alias("ea"))
    eb = emb.select(F.col("vec_id").alias("vec_b"), F.col("emb").alias("eb"))
    pairs = cand.join(ea, "vec_a").join(eb, "vec_b")
    sim = pair_cos(F.col("ea"), F.col("eb"))
    return (pairs.where(sim >= F.lit(NEAR_DUP_SIM))
                 .select("vec_a", "vec_b"))


SEMDEDUP_SIM = 0.95      # production default (the published operating range)
SEMDEDUP_GATE_SIM = 0.5  # driver/gate threshold: the sf0.01 synthetic
                         # gaussian embeddings top out at pairwise cosine
                         # ~0.513, so 0.95 would never exercise the dup rule
                         # at oracle scale; 0.5 trips it on real pairs


def semantic_dedup(emb: DataFrame, threshold: float = SEMDEDUP_SIM,
                   n_cells: int = N_CELLS) -> DataFrame:
    """SemDedup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): coarse k-means clustering, then within-cluster
    pairwise cosine; a vector is a semantic duplicate iff a SMALLER-id
    vector in its cluster has cosine ≥ threshold (one-shot pairwise rule —
    the deterministic min-id-survivor convention the dedup family uses).

    Returns (vec_id, keep) for every input row; downstream corpus is
    ``where(keep = 1)``.

    ``n_cells=1`` puts everything in one cluster — the EXACT all-pairs
    configuration, provably independent of the quantizer, which is what the
    driver runs for oracle parity (the ann_ivf full-probe promotion
    pattern). With n_cells > 1 the rule is approximate exactly as in the
    paper: a qualifying pair split across clusters is missed; tests pin
    multi-cell equality to the exact configuration on a clustered fixture.

    Scale shape: pair cost is O(N²/n_cells) exact-cosine evaluations — pick
    n_cells so clusters hold ~1e4 rows (the paper runs tens of thousands of
    clusters at billions of rows; n_cells here is a parameter, fixed only
    for the bounded driver-side training sample). Assignment is one
    broadcast-argmax pandas UDF over the scan; the pair generation is an
    equi-join on cell_id (never a nested-loop join — plan-tested); the
    verify is the shared BLAS ``pair_cos`` UDF; the dup-id set flows back
    via a plain left join keyed on vec_id (optimizer-chosen strategy,
    nothing data-sized is force-broadcast).
    """
    spark = emb.sparkSession
    if n_cells <= 1:
        assigned = emb.select("vec_id", "emb", F.lit(0).alias("cell_id"))
    else:
        import numpy as np

        sample = [r["emb"] for r in
                  emb.select("emb").orderBy("vec_id").limit(TRAIN_CAP)
                     .collect()]
        if not sample:
            return spark.createDataFrame([], "vec_id long, keep int")
        cm = _train_centroids(sample, n_cells)
        cids = np.arange(len(cm), dtype=np.int64)
        bc = spark.sparkContext.broadcast((cids, cm))

        @F.pandas_udf(T.LongType())
        def nearest_cell(batch: pd.Series) -> pd.Series:
            import numpy as np
            ids, c = bc.value
            x = np.array(batch.tolist(), dtype=np.float64)
            x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-300)
            # argmax keeps the FIRST max → smallest cell_id wins ties
            return pd.Series(ids[np.argmax(np.round(x @ c.T, 9), axis=1)])

        assigned = emb.select("vec_id", "emb",
                              nearest_cell("emb").alias("cell_id"))
    a = assigned.select("cell_id", F.col("vec_id").alias("vec_a"),
                        F.col("emb").alias("ea"))
    b = assigned.select("cell_id", F.col("vec_id").alias("vec_b"),
                        F.col("emb").alias("eb"))
    dup = (a.join(b, "cell_id")
            .where(F.col("vec_a") < F.col("vec_b"))
            .where(pair_cos(F.col("ea"), F.col("eb")) >= F.lit(threshold))
            .select(F.col("vec_b").alias("vec_id"))
            .distinct())
    return (emb.join(dup.withColumn("__dup", F.lit(1)), "vec_id", "left")
               .select("vec_id",
                       F.when(F.col("__dup").isNull(), F.lit(1))
                        .otherwise(F.lit(0)).alias("keep")))


_QUANT_T = T.StructType([
    T.StructField("scale", T.DoubleType()),
    T.StructField("qvec", T.ArrayType(T.IntegerType())),
])


@F.pandas_udf(_QUANT_T)
def _quantize_batch(v: pd.Series) -> pd.DataFrame:
    import numpy as np
    x = np.array(v.tolist(), dtype=np.float64)
    m = np.abs(x).max(axis=1)
    safe = np.where(m == 0.0, 1.0, m)
    # (x * 127.0) / m, left-to-right — the EXACT double expression the
    # DuckDB oracle evaluates (float->double is exact, so both engines see
    # identical inputs; IEEE ops then agree bit-for-bit), with a half-up
    # floor(+0.5) shared by both (numpy's round() would tie-break half-even
    # and DuckDB's half-away — floor sidesteps the disagreement).
    q = np.floor((x * 127.0) / safe[:, None] + 0.5).astype(np.int32)
    q[m == 0.0] = 0
    return pd.DataFrame({
        "scale": np.where(m == 0.0, 0.0, m / 127.0),
        "qvec": [r.tolist() for r in q],
    })


def quantize_embeddings(emb: DataFrame) -> DataFrame:
    """Per-vector symmetric int8 quantization (the storage/serving prep
    step): qvec[i] = floor(x[i]·127/max|x| + 0.5), scale = max|x|/127, so
    dequantization is qvec·scale with element error ≤ scale/2.

    Scale: ONE ArrowEvalPython projection over the scan — vectorized numpy
    per Arrow batch, no shuffle, no join; output is ~4× smaller at rest
    (int8-ranged ints + one double). Zero vectors quantize to scale=0 /
    all-zero qvec rather than dividing by zero."""
    out = emb.withColumn("q", _quantize_batch(F.col("emb")))
    return out.select("vec_id",
                      F.col("q.scale").alias("scale"),
                      F.col("q.qvec").alias("qvec"))


def truncate_embeddings(emb: DataFrame, k: int,
                        emb_col: str = "embedding") -> DataFrame:
    """Matryoshka truncation (MRL, arXiv:2205.13147): keep the first ``k``
    dimensions and L2-renormalize — the storage/latency knob of
    matryoshka-trained embedding models (the prefix IS a valid embedding
    after renormalization).

    Cross-engine exactness: elements cast float→double (exact), the
    squared-norm is a SEQUENTIAL left-to-right fold (Spark ``F.aggregate``
    == DuckDB ``list_reduce`` — same addition order, bit-identical
    doubles; a pairwise/numpy summation would differ in the last ulp and
    gamble on the oracle's 6dp rounding boundary). HOFs are
    CodegenFallback — acceptable here (a narrow projection, not the
    enrich hot path; the per-element work is arithmetic, not regex).
    Zero/NULL vectors pass through as all-zero / NULL. One projection —
    no shuffle, no Python.

    Cost note: the norm fold is referenced inside the per-element lambda
    and projection collapse re-inlines it per element (the CLAUDE.md
    no-CSE-across-lambdas rule), so per-row work is O(k²) additions —
    negligible at serving prefixes (k ≤ a few hundred); for very wide k,
    materialize the norm through an Arrow barrier (the quantize pattern).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    v = F.slice(F.col(emb_col).cast("array<double>"), 1, k)
    norm2 = F.aggregate(F.transform(v, lambda x: x * x),
                        F.lit(0.0), lambda a, x: a + x)
    out = (F.when(norm2 > 0,
                  F.transform(v, lambda x: x / F.sqrt(norm2)))
            .otherwise(v))
    return emb.select("vec_id", out.alias("tvec"))


def embedding_near_dup_allpairs(emb: DataFrame,
                                threshold: float = NEAR_DUP_SIM) -> DataFrame:
    """Exact all-pairs reference implementation (test oracle for the LSH
    path's recall; O(n²) — never exposed as a driver query)."""
    a = emb.select(F.col("vec_id").alias("vec_a"), F.col("emb").alias("ea"))
    b = emb.select(F.col("vec_id").alias("vec_b"), F.col("emb").alias("eb"))
    pairs = a.join(F.broadcast(b), F.col("vec_a") < F.col("vec_b"))
    sim = F.round(_cosine(F.col("ea"), F.col("eb")), 9)
    return pairs.select("vec_a", "vec_b").where(sim >= F.lit(threshold))


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------


def queries():
    return {
        "ann_brute_force": lambda s, d: brute_force_topk(_emb(s, d)),
        # full-probe IVF (nprobe = n_cells): every cell is scored, so the
        # result is PROVABLY identical to brute force (also asserted by
        # test_similarity) — which makes the IVF machinery oracle-checkable
        # (VERDICT r4 #7). The approximate nprobe=3 scale path stays pinned
        # by the clustered-recall test and the plan-shape test.
        "ann_ivf": lambda s, d: ivf_topk(_emb(s, d), nprobe=N_CELLS),
        "embedding_near_dup": lambda s, d: embedding_near_dup(_emb(s, d)),
        # exact configuration (n_cells=1 → quantizer-free all-pairs) at the
        # gate threshold — oracle-checkable end-to-end; the clustered
        # approximate path is pinned by test_similarity (multi-cell ==
        # exact on a clustered fixture) and the plan-shape test
        "semantic_dedup": lambda s, d: semantic_dedup(
            _emb(s, d), threshold=SEMDEDUP_GATE_SIM, n_cells=1),
        "embedding_quantize": lambda s, d: quantize_embeddings(_emb(s, d)),
        "embedding_truncate": lambda s, d: truncate_embeddings(
            _emb(s, d), k=16, emb_col="emb"),
    }


# norms CTE shared by the oracle queries (unnest of two lists in one
# SELECT zips positionally in DuckDB — index-ordered like Spark zip_with)
_NORMS_CTE = """
norms AS (
  SELECT vec_id, sqrt(sum(e * e)) AS nrm
  FROM (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS e FROM embeddings)
  GROUP BY vec_id
)"""


def ann_oracle_sql(k: int = TOP_K) -> str:
    """DuckDB mirror of brute_force_topk at the given parameters —
    self-contained (safe to embed as a derived table); also reused by the
    retrieval module's hybrid-fusion oracle at its pool depth."""
    return f"""
WITH {_NORMS_CTE},
qset AS (
  SELECT vec_id FROM embeddings WHERE vec_id % {QUERY_MOD} = 0
  ORDER BY vec_id LIMIT {MAX_QUERIES}
),
dots AS (
  SELECT query_id, neighbor_id, sum(ea * eb) AS dot
  FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           CAST(unnest(q.embedding) AS DOUBLE) AS ea,
           CAST(unnest(c.embedding) AS DOUBLE) AS eb
    FROM embeddings q
    JOIN embeddings c ON q.vec_id IN (SELECT vec_id FROM qset)
                      AND c.vec_id <> q.vec_id
  )
  GROUP BY 1, 2
),
scored AS (
  SELECT d.query_id, d.neighbor_id,
         round(d.dot / (nq.nrm * nc.nrm), 9) AS sim_r
  FROM dots d
  JOIN norms nq ON nq.vec_id = d.query_id
  JOIN norms nc ON nc.vec_id = d.neighbor_id
)
SELECT query_id, rank, neighbor_id FROM (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim_r DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= {k}
"""


def oracles() -> dict[str, str]:
    norms = _NORMS_CTE
    out = {
        "ann_brute_force": ann_oracle_sql(),
        "embedding_near_dup": f"""
WITH {norms},
dots AS (
  SELECT vec_a, vec_b, sum(ea * eb) AS dot
  FROM (
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           CAST(unnest(a.embedding) AS DOUBLE) AS ea,
           CAST(unnest(b.embedding) AS DOUBLE) AS eb
    FROM embeddings a
    JOIN embeddings b ON a.vec_id < b.vec_id
  )
  GROUP BY 1, 2
)
SELECT d.vec_a, d.vec_b
FROM dots d
JOIN norms na ON na.vec_id = d.vec_a
JOIN norms nb ON nb.vec_id = d.vec_b
WHERE round(d.dot / (na.nrm * nb.nrm), 9) >= {NEAR_DUP_SIM}
""",
    }
    # the driver's ann_ivf runs at nprobe = n_cells (see queries()), which
    # probes every cell — exactly the brute-force result, so the brute-force
    # oracle applies verbatim
    out["ann_ivf"] = out["ann_brute_force"]
    out["semantic_dedup"] = f"""
WITH {norms},
dots AS (
  SELECT vec_a, vec_b, sum(ea * eb) AS dot
  FROM (
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           CAST(unnest(a.embedding) AS DOUBLE) AS ea,
           CAST(unnest(b.embedding) AS DOUBLE) AS eb
    FROM embeddings a
    JOIN embeddings b ON a.vec_id < b.vec_id
  )
  GROUP BY 1, 2
),
dups AS (
  SELECT DISTINCT d.vec_b AS vec_id
  FROM dots d
  JOIN norms na ON na.vec_id = d.vec_a
  JOIN norms nb ON nb.vec_id = d.vec_b
  WHERE round(d.dot / (na.nrm * nb.nrm), 9) >= {SEMDEDUP_GATE_SIM}
)
SELECT e.vec_id, CASE WHEN dp.vec_id IS NULL THEN 1 ELSE 0 END AS keep
FROM embeddings e
LEFT JOIN dups dp ON dp.vec_id = e.vec_id
"""
    # same left-to-right double expression as _quantize_batch: float->double
    # casts are exact, so floor((x*127)/mx + 0.5) is bit-identical.
    out["embedding_quantize"] = """
WITH d AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), m AS (
  SELECT vec_id, v,
         list_aggregate(list_transform(v, x -> abs(x)), 'max') AS mx
  FROM d
)
SELECT vec_id,
       CASE WHEN mx IS NULL OR mx = 0 THEN 0.0 ELSE mx / 127.0 END AS scale,
       CASE WHEN mx IS NULL OR mx = 0
            THEN list_transform(v, x -> 0)
            ELSE list_transform(v,
                   x -> CAST(floor(x * 127.0 / mx + 0.5) AS INTEGER))
       END AS qvec
FROM m
"""
    # sequential fold mirror of F.aggregate (list_reduce over squares: the
    # leading 0.0+ of Spark's init is exact, every later addition shares
    # the order -> bit-identical doubles)
    out["embedding_truncate"] = """
WITH d AS (
  SELECT vec_id,
         list_transform(embedding[1:16], x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), n AS (
  SELECT vec_id, v,
         list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b) AS n2
  FROM d
)
SELECT vec_id,
       CASE WHEN n2 > 0 THEN list_transform(v, x -> x / sqrt(n2))
            ELSE v END AS tvec
FROM n
"""
    return out
