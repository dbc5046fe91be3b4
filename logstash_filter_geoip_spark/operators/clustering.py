"""Integer-exact k-means (Lloyd) over the embeddings table.

The classic corpus-organization step (topic bucketing, IVF-style coarse
partitioning, stratified corpus audits) as a batch operator whose result is
BIT-IDENTICAL across Spark, DuckDB, and a pure-Python reference — which no
float k-means can promise (group sums are order-dependent doubles). The
trick is the repo's integerization discipline (the embedding_quantize /
drift / bootstrap lineage):

  * vectors integerize ONCE per dim with a shared double expression
    ``floor(CAST(x AS DOUBLE) * 1000.0 + 0.5)`` (float→double is exact, the
    multiply/add are single IEEE ops both engines evaluate identically,
    floor sidesteps the round() half-even-vs-half-away tie split), clamped
    to ±SHIFT then SHIFTED to non-negative — Spark's ``div`` truncates
    toward zero while DuckDB's ``//`` floors, so every quantity that meets
    an integer division must be non-negative (the CLAUDE.md drift rule);
  * distances are exact BIGINT sums of squared differences (the shift
    cancels); the argmin tie-break is (dist2, cid) — a total order;
  * centroid update is the truncating integer mean ``sum div n`` (exact in
    both engines on the non-negative sums); an EMPTY cluster keeps its
    previous centroid;
  * init is deterministic: the K vectors with the smallest
    (md5-60(vec_id), vec_id) — the engine-neutral hash family
    (functions/hashing.py), no RNG, stable under any partitioning.

Scale shape (100 TB): each Lloyd round is ONE narrow scan (column-pruned to
vec_id + embedding) + a two-phase hash aggregate onto K groups — map-side
partial rows are K per task, the Exchange carries K × partitions rows, and
the K×(D+1) sums collect to the driver (bounded by the k/dim ARGUMENTS, the
similarity ≤64-query precedent — never data-sized). Assignment is ONE
ArrowEvalPython projection: vectorized int64 numpy with the centroid
matrix in the Python closure, so the plan is the same every round — no
join, no broadcast, no Exchange. n_iter rounds = n_iter+1 scans, the
honest Lloyd cost; nothing is cached because at target scale the input
does not fit memory and the scan is the cheap part.

Overflow audit: coordinates are in [0, 2·SHIFT] after clamp+shift, so
dist2 ≤ D·(2·SHIFT)² ≈ 2.7e8; per-cluster BIGINT sums of dist2/coords stay
below 2^63 up to ~3.4e10 member rows per cluster — beyond that, shard the
inertia aggregate (documented boundary, same class as geo_velocity's bound).

Oracle: the iteration UNROLLED into a c0..cK CTE chain (the pagerank /
k_core discipline), every CTE AS MATERIALIZED (DuckDB's default CTE
inlining is exponential in unroll depth — the k_core finding). The oracle
is exact at ANY cardinality: every intermediate is integer.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.sql import types as T

from logstash_filter_geoip_spark.functions.hashing import (md5_hash60,
                                                           md5_hash60_sql)

K_CLUSTERS = 8
N_ITER = 3
DIM = 64
SCALE = 1000.0   # quantization step: floor(x * SCALE + 0.5)
SHIFT = 1024     # clamp bound; shifted coords live in [0, 2*SHIFT]


# ---------------------------------------------------------------------------
# the ONE integerization rule (numpy for Spark, SQL for the oracle)
# ---------------------------------------------------------------------------


def _int_dim_sql(emb_expr: str, i: int) -> str:
    """DuckDB: clamped-shifted integer coordinate i (1-based array index)."""
    return (f"least(greatest(CAST(floor(CAST({emb_expr}[{i + 1}] AS DOUBLE)"
            f" * {SCALE} + 0.5) AS BIGINT), {-SHIFT}), {SHIFT}) + {SHIFT}")


def _quantize(v: pd.Series) -> np.ndarray:
    """(rows × dim) int64 matrix of a Series of vectors under the same rule:
    np.floor == SQL floor on IEEE doubles, then the same clamp+shift."""
    x = np.array(v.tolist(), dtype=np.float64)
    return (np.clip(np.floor(x * SCALE + 0.5), -SHIFT, SHIFT)
            + SHIFT).astype(np.int64)


def _argmin_rows(xi: np.ndarray, cmat: np.ndarray) -> np.ndarray:
    """Per row of ``xi``, the index of the nearest ``cmat`` row by exact
    int64 dist2. The strict ``<`` update never replaces an equal best, so
    ties keep the LOWEST index — the oracle's ORDER BY dist2, cid."""
    best_d = ((xi - cmat[0]) ** 2).sum(axis=1)
    best_c = np.zeros(len(xi), dtype=np.int32)
    for j in range(1, len(cmat)):
        d = ((xi - cmat[j]) ** 2).sum(axis=1)
        better = d < best_d
        best_d = np.where(better, d, best_d)
        best_c = np.where(better, np.int32(j), best_c)
    return best_c


# ---------------------------------------------------------------------------
# Lloyd iterations
# ---------------------------------------------------------------------------


def kmeans_assign(emb: DataFrame, k: int = K_CLUSTERS, n_iter: int = N_ITER,
                  dim: int = DIM) -> DataFrame:
    """(vec_id, cid, dist2) after ``n_iter`` Lloyd rounds.

    Deterministic end-to-end: hash-ranked init, integer distances, total
    tie order, truncating-mean updates, empty clusters frozen. Each round
    collects exactly k×(dim+1) BIGINTs (argument-bounded)."""
    cents = train_centroids(emb, k=k, n_iter=n_iter, dim=dim)
    return assign_fixed(emb, cents, dim=dim)


_ASSIGN_T = T.StructType([
    T.StructField("cid", T.IntegerType()),
    T.StructField("dist2", T.LongType()),
    T.StructField("second2", T.LongType()),
])


def _assign_udf(centroids: list[list[int]]):
    """pandas UDF Column: (cid, dist2, second2) struct under fixed
    centroids (second2 = the second-smallest distance, NULL at k=1).

    The numpy mirror of the oracle's SQL rule, value-identical by
    construction: the shared ``_quantize`` integerization; distances are
    exact int64; ties keep the LOWEST cid (the strict ``<`` update never
    replaces an equal best — the ORDER BY dist2, cid total order), and a
    tied second stays equal to best (margin 0, matching the oracle's rn=2
    row). Its own loop, not ``_argmin_rows``, because it also tracks
    second2. Centroids ride the closure (k×dim ints, argument-bounded)."""
    cmat = np.array(centroids, dtype=np.int64)

    @F.pandas_udf(_ASSIGN_T)
    def assign(v: pd.Series) -> pd.DataFrame:
        xi = _quantize(v)
        best_d = ((xi - cmat[0]) ** 2).sum(axis=1)
        best_c = np.zeros(len(xi), dtype=np.int32)
        second = np.full(len(xi), np.iinfo(np.int64).max, dtype=np.int64)
        for j in range(1, len(cmat)):
            d = ((xi - cmat[j]) ** 2).sum(axis=1)
            better = d < best_d
            second = np.where(better, best_d, np.minimum(second, d))
            best_d = np.where(better, d, best_d)
            best_c = np.where(better, np.int32(j), best_c)
        out = pd.DataFrame({"cid": best_c, "dist2": best_d})
        out["second2"] = pd.array(
            [None if len(cmat) < 2 else int(s) for s in second],
            dtype="Int64")
        return out

    return assign


def assign_fixed(emb: DataFrame, centroids: list[list[int]],
                 dim: int = DIM, emb_col: str = "embedding",
                 extra_cols: tuple[str, ...] = ()) -> DataFrame:
    """(vec_id, cid, dist2) under FIXED integer centroids — the assignment
    face shared by the final kmeans round, the batch cluster profile, and
    the streaming occupancy monitor (one definition, never forked).

    ONE ArrowEvalPython projection (vectorized int64 numpy, centroid
    matrix in the closure). A declarative literal-expanded least/CASE
    expression would spell the same values, but its ~k·dim-term trees pay
    Catalyst/janino COMPILATION per stage, which dominates wall time at
    any data size (measured 62 s vs ~4 s for the full kmeans_summary at
    sf0.1 — the v6-key lesson: repeated giant Column trees want a physical
    Arrow barrier, and CASE arms are invisible to codegen CSE)."""
    if not centroids or any(len(c) != dim for c in centroids):
        raise ValueError(
            f"assign_fixed: centroids must be a non-empty list of "
            f"length-{dim} integer vectors")
    a = emb.select("vec_id", *extra_cols,
                   _assign_udf(centroids)(F.col(emb_col)).alias("a"))
    return a.select("vec_id", *extra_cols,
                    F.col("a.cid").alias("cid"),
                    F.col("a.dist2").alias("dist2"))


def cluster_profile(emb: DataFrame, centroids: list[list[int]],
                    dim: int = DIM, emb_col: str = "embedding") -> DataFrame:
    """(cid, n_members, inertia) occupancy profile under fixed centroids —
    one scan + a two-phase aggregate onto ≤ len(centroids) groups. Pure
    ADDITION across inputs (profile(A ∪ B) == profile(A) + profile(B)
    per cid), which is what makes the streaming face a counter merge."""
    a = assign_fixed(emb, centroids, dim=dim, emb_col=emb_col)
    return (a.groupBy("cid")
             .agg(F.count(F.lit(1)).alias("n_members"),
                  F.sum("dist2").alias("inertia")))


def kmeans_margins(emb: DataFrame, k: int = K_CLUSTERS, n_iter: int = N_ITER,
                   dim: int = DIM) -> DataFrame:
    """(vec_id, cid, dist2, margin2) — margin2 = second-best minus best
    distance, the assignment-confidence score (margin 0 = the vector sits
    exactly on a cluster boundary; small margins flag label-noise /
    re-review candidates). Arrow assignment only (the second-best register
    rides the same numpy pass for free); the ORACLE is the independent
    check — the rn=1/rn=2 rows of the same unrolled chain. k must be ≥ 2
    (no second centroid, no margin)."""
    if k < 2:
        raise ValueError(f"kmeans_margins: k must be >= 2: {k}")
    cents = train_centroids(emb, k=k, n_iter=n_iter, dim=dim)
    a = emb.select("vec_id",
                   _assign_udf(cents)(F.col("embedding")).alias("a"))
    return a.select("vec_id", F.col("a.cid").alias("cid"),
                    F.col("a.dist2").alias("dist2"),
                    (F.col("a.second2") - F.col("a.dist2"))
                    .alias("margin2"))


def kmeans_crosstab(emb: DataFrame) -> DataFrame:
    """(cid, label, n_members) — the cluster × ground-label contingency
    table (cluster purity / topic-drift audit). The label rides the
    assignment scan as a passthrough column — ONE scan, no join-back of
    two data-sized relations."""
    a = assign_fixed(
        emb,
        train_centroids(emb), extra_cols=("label",))
    return (a.groupBy("cid", "label")
             .agg(F.count(F.lit(1)).alias("n_members")))


def kmeans_summary(emb: DataFrame, k: int = K_CLUSTERS, n_iter: int = N_ITER,
                   dim: int = DIM) -> DataFrame:
    """(cid, n_members, inertia) — the per-cluster rollup of the final
    assignment (inertia = exact BIGINT sum of dist2)."""
    a = kmeans_assign(emb, k=k, n_iter=n_iter, dim=dim)
    return (a.groupBy("cid")
             .agg(F.count(F.lit(1)).alias("n_members"),
                  F.sum("dist2").alias("inertia")))


_TRIPLETS_T = T.StructType([
    T.StructField("anchor_id", T.LongType()),
    T.StructField("cid", T.IntegerType()),
    T.StructField("pos_id", T.LongType()),
    T.StructField("pos_dist2", T.LongType()),
    T.StructField("neg_id", T.LongType()),
    T.StructField("neg_dist2", T.LongType()),
    T.StructField("n_partners", T.LongType()),
])


def contrastive_triplets(emb: DataFrame, k: int = K_CLUSTERS,
                         n_iter: int = N_ITER, dim: int = DIM) -> DataFrame:
    """Hard-negative mining for contrastive/triplet training: per anchor
    vector, the nearest same-cluster neighbour (positive) and the
    FARTHEST same-cluster neighbour (hard negative — still semantically
    related by cluster membership, maximally dissimilar within it).
    Returns (anchor_id, cid, pos_id, pos_dist2, neg_id, neg_dist2,
    n_partners), anchors with ≥ 2 cluster partners only (so pos ≠ neg is
    guaranteed: pos ties break to the LOWEST partner id, neg ties to the
    HIGHEST — on an all-equal cluster the two rules pick different
    partners). Distances are the exact integer dist2 of the shared
    clamp+shift rule (pair dist2 ≤ dim·(2·SHIFT)² ≈ 2.7e8 — int64-safe).

    ONE applyInPandas over cid groups — the O(|cluster|²·dim) pairwise
    block runs vectorized int64 numpy inside the Arrow barrier; the
    shuffle moves each vector ONCE (keyed on cid; cluster occupancy is
    the documented skew/size knob — at 100 TB cap cluster sizes by
    raising k or sub-clustering oversized cells, the containment_pairs
    discipline)."""
    cents = train_centroids(emb, k=k, n_iter=n_iter, dim=dim)
    a = assign_fixed(emb.select("vec_id", "embedding"), cents, dim=dim,
                     extra_cols=("embedding",))

    def block(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 3:
            # < 2 partners per anchor — nothing qualifies
            z64 = np.array([], dtype=np.int64)
            return pd.DataFrame({
                "anchor_id": z64, "cid": z64.astype(np.int32),
                "pos_id": z64, "pos_dist2": z64,
                "neg_id": z64, "neg_dist2": z64, "n_partners": z64})
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        ids = pdf["vec_id"].to_numpy()
        xi = _quantize(pdf["embedding"])
        # exact int64 pairwise distances via the Gram matrix:
        # (a-b)² = aa + bb − 2ab (dots ≤ dim·(2·SHIFT)² ≈ 2.7e8 —
        # far inside int64). The matmul form keeps the intermediate
        # n², not n²·dim (the (n,None,dim) broadcast materializes
        # n²·dim·8 bytes — 5 TB at a 25k-member cluster)
        g = xi @ xi.T
        sq = np.diag(g)
        d = sq[:, None] + sq[None, :] - 2 * g
        n = len(ids)
        big = np.iinfo(np.int64).max
        dmin = d.copy()
        np.fill_diagonal(dmin, big)
        # argmin first-occurrence == lowest partner id (id-sorted)
        pos_idx = dmin.argmin(axis=1)
        dmax = d.copy()
        np.fill_diagonal(dmax, -1)
        # last-occurrence argmax == highest partner id on ties
        neg_idx = (n - 1) - dmax[:, ::-1].argmax(axis=1)
        return pd.DataFrame({
            "anchor_id": ids,
            "cid": pdf["cid"].to_numpy(),
            "pos_id": ids[pos_idx],
            "pos_dist2": dmin[np.arange(n), pos_idx],
            "neg_id": ids[neg_idx],
            "neg_dist2": dmax[np.arange(n), neg_idx],
            "n_partners": np.full(n, n - 1, dtype=np.int64),
        })

    return a.groupBy("cid").applyInPandas(block, _TRIPLETS_T)


def _xi_struct_udf(centroids: list[list[int]]):
    """struct(cid int, xi array<long>) — assignment AND the integerized
    vector in ONE Arrow pass whose Spark plan is CONSTANT across Lloyd
    rounds (the centroids live only in the Python closure). The r6
    finding: a per-round shape with the centroid LITERALS in the plan
    pays fresh Catalyst analysis + janino compile of a 64-sum aggregate
    every round — at gate scale that compilation dominated wall time by
    ~5× over the actual 2k-row compute."""
    cmat = np.array(centroids, dtype=np.int64)
    out_t = T.StructType([
        T.StructField("cid", T.IntegerType()),
        T.StructField("xi", T.ArrayType(T.LongType())),
    ])

    @F.pandas_udf(out_t)
    def f(v: pd.Series) -> pd.DataFrame:
        xi = _quantize(v)
        return pd.DataFrame({"cid": _argmin_rows(xi, cmat), "xi": list(xi)})

    return f


def _xi_arr_udf():
    """array<long> of integerized dims — the shared clamp+shift rule as
    one closure-free Arrow pass."""

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def f(v: pd.Series) -> pd.Series:
        return pd.Series(list(_quantize(v)))

    return f


def _init_rows_arrow(emb: DataFrame, k: int, emb_col: str) -> list:
    """The k init vectors — smallest (h, vec_id) — integerized, via a
    SMALL constant plan: TakeOrdered on (h, vec_id) first (h is the
    md5-60 of vec_id alone), then the xi Arrow pass over the k winners
    only. Projecting all 64 dims declaratively instead costs ~1.3 s of
    per-call Catalyst analysis at ANY data size (r6 measurement). Returns
    rows with ``vec_id`` and ``xi``."""
    top = (emb.select("vec_id",
                      md5_hash60(F.col("vec_id").cast("string")).alias("h"),
                      emb_col)
              .orderBy(F.col("h").asc(), F.col("vec_id").asc())
              .limit(k))
    return top.select("vec_id",
                      _xi_arr_udf()(F.col(emb_col)).alias("xi")).collect()


def train_centroids(emb: DataFrame, k: int = K_CLUSTERS,
                    n_iter: int = N_ITER, dim: int = DIM,
                    emb_col: str = "embedding") -> list[list[int]]:
    """The trained integer centroid matrix itself (k×dim BIGINTs) — the
    bounded artifact a streaming occupancy monitor pins in its state
    meta. The ONE Lloyd loop (kmeans_assign composes from it).

    Each update round is one scan feeding a two-phase aggregate, and the
    round plan is CONSTANT: the staged struct select (ONE ArrowEvalPython
    — a field reference inside a Generate splits into TWO nodes,
    measured) emits (cid, xi array), a second projection posexplodes xi,
    and the aggregate is one (cid, position) SUM — no centroid literals
    in the plan, so Catalyst and janino run once per session instead of
    once per round (r6: a literal-expanded round was ~3.3 s of pure
    compile at 2k rows; this shape is ~0.7 s)."""
    if k < 1 or n_iter < 0:
        raise ValueError(f"kmeans: k >= 1 and n_iter >= 0 required "
                         f"(got k={k}, n_iter={n_iter})")
    # init: k smallest (h, vec_id) — TakeOrdered, never a global sort;
    # k rows to the driver, integerized via the small constant plan
    init_rows = _init_rows_arrow(emb, k, emb_col)
    if len(init_rows) < k:
        raise ValueError(
            f"kmeans: k={k} exceeds the {len(init_rows)} input vectors")
    cents = [list(r["xi"]) for r in init_rows]
    for _ in range(n_iter):
        a = emb.select(_xi_struct_udf(cents)(F.col(emb_col)).alias("a"))
        ex = a.select(F.col("a.cid").alias("cid"),
                      F.posexplode("a.xi").alias("i", "v"))
        upd = (ex.groupBy("cid", "i")
                 .agg(F.count(F.lit(1)).alias("n"),
                      F.sum("v").alias("sv")).collect())
        n_by = {r["cid"]: r["n"] for r in upd}
        sv_by = {(r["cid"], r["i"]): r["sv"] for r in upd}
        # sums non-negative, so Python // == Spark div == DuckDB //;
        # an empty cluster keeps its previous centroid
        cents = [[sv_by[(j, i)] // n_by[j] for i in range(dim)]
                 if j in n_by else cents[j] for j in range(k)]
    return cents


# ---------------------------------------------------------------------------
# product quantization (PQ) — the ANN compression stage
# ---------------------------------------------------------------------------

PQ_M = 4       # subspaces
PQ_K = 8       # codewords per subspace (3-bit codes at driver scale)
PQ_N_ITER = 2


def _pq_check(m: int, k: int, dim: int) -> int:
    if m < 1 or dim % m != 0:
        raise ValueError(f"pq: m must divide dim (m={m}, dim={dim})")
    if k < 1:
        raise ValueError(f"pq: k must be >= 1: {k}")
    return dim // m


def _pq_codes(xi: np.ndarray, mats: list[np.ndarray], d: int) -> np.ndarray:
    """(rows × m) int32 codes: subspace s of ``xi`` against codebook s."""
    codes = np.zeros((len(xi), len(mats)), dtype=np.int32)
    for s, cmat in enumerate(mats):
        codes[:, s] = _argmin_rows(xi[:, s * d:(s + 1) * d], cmat)
    return codes


def _pq_train_udf(books: list[list[list[int]]], d: int):
    """struct(codes array<int>, xi array<long>) — EVERY subspace's
    assignment plus the integerized dims in one constant-shape Arrow
    pass (the train_centroids r6 round discipline, m-fold)."""
    mats = [np.array(b, dtype=np.int64) for b in books]
    out_t = T.StructType([
        T.StructField("codes", T.ArrayType(T.IntegerType())),
        T.StructField("xi", T.ArrayType(T.LongType())),
    ])

    @F.pandas_udf(out_t)
    def f(v: pd.Series) -> pd.DataFrame:
        xi = _quantize(v)
        return pd.DataFrame({"codes": list(_pq_codes(xi, mats, d)),
                             "xi": list(xi)})

    return f


def pq_train(emb: DataFrame, m: int = PQ_M) -> list[list[list[int]]]:
    """Per-subspace integer codebooks (m × PQ_K × DIM/m BIGINTs, PQ_N_ITER
    rounds) — product
    quantization (Jégou et al., TPAMI 2011) on the SAME integerization /
    init / tie / update rules as the k-means operator. m·k·d ints collect
    to the driver — argument-bounded. PQ is the 100-TB ANN compression
    stage: 64 float32 dims → m small codes per vector.

    The m subspace trainers are FUSED into one scan per round (r6): every
    subspace shares the SAME init rows (the k smallest (h, vec_id); h
    depends only on vec_id, not the slice), and one constant-plan Arrow
    pass emits all m assignments + the integerized dims, aggregated per
    (position, code). 3 jobs instead of m×(n_iter+1); bit-identical to
    ``train_centroids`` run per sliced subspace (the shape the nested
    kmeans oracle chains mirror — both pinned in test_clustering)."""
    d = _pq_check(m, PQ_K, DIM)
    # shared init: one TakeOrdered collect covers every subspace
    init_rows = _init_rows_arrow(emb, PQ_K, "embedding")
    if len(init_rows) < PQ_K:
        raise ValueError(
            f"kmeans: k={PQ_K} exceeds the {len(init_rows)} input vectors")
    books = [[list(r["xi"][s * d:(s + 1) * d]) for r in init_rows]
             for s in range(m)]
    for _ in range(PQ_N_ITER):
        a = emb.select(
            _pq_train_udf(books, d)(F.col("embedding")).alias("a"))
        ex = (a.select(F.posexplode("a.xi").alias("i", "v"),
                       F.col("a.codes").alias("codes"))
               .select("i", "v",
                       F.get("codes", F.expr(f"i div {d}")).alias("cid")))
        upd = (ex.groupBy("i", "cid")
                 .agg(F.count(F.lit(1)).alias("n"),
                      F.sum("v").alias("sv")).collect())
        for s in range(m):
            n_by = {r["cid"]: r["n"] for r in upd if r["i"] == s * d}
            sv_by = {(r["cid"], r["i"]): r["sv"] for r in upd
                     if s * d <= r["i"] < (s + 1) * d}
            books[s] = [[sv_by[(j, s * d + i)] // n_by[j] for i in range(d)]
                        if j in n_by else books[s][j]
                        for j in range(PQ_K)]
    return books


def _pq_encode_udf(books: list[list[list[int]]], d: int):
    """ONE pandas UDF encoding every subspace in a single Arrow pass —
    the shared ``_quantize`` / ``_argmin_rows`` rules (LOWEST code on
    ties)."""
    mats = [np.array(b, dtype=np.int64) for b in books]
    out_t = T.StructType([T.StructField(f"code_{s}", T.IntegerType())
                          for s in range(len(books))])

    @F.pandas_udf(out_t)
    def enc(v: pd.Series) -> pd.DataFrame:
        codes = _pq_codes(_quantize(v), mats, d)
        return pd.DataFrame({f"code_{s}": codes[:, s]
                             for s in range(len(mats))})

    return enc


def pq_encode(emb: DataFrame, books: list[list[list[int]]]) -> DataFrame:
    """(vec_id, code_0..code_{m-1}) under fixed codebooks: ONE
    ArrowEvalPython pass encodes all m subspaces (the assign_fixed
    compile-cost lesson, m-fold)."""
    if not books:
        raise ValueError("pq_encode: empty codebook list")
    m = len(books)
    d = _pq_check(m, min(len(b) for b in books), DIM)
    a = emb.select("vec_id",
                   _pq_encode_udf(books, d)(F.col("embedding")).alias("a"))
    return a.select("vec_id",
                    *[F.col(f"a.code_{s}").alias(f"code_{s}")
                      for s in range(m)])


def pq_codes_oracle_sql() -> str:
    """Composed verbatim from m kmeans_oracle_sql chains over sliced
    embeddings (each nested WITH is its own scope — the split_assign
    nesting precedent), joined on vec_id."""
    d = _pq_check(PQ_M, PQ_K, DIM)
    subs = []
    for s in range(PQ_M):
        inner = kmeans_oracle_sql(
            k=PQ_K, n_iter=PQ_N_ITER, dim=d,
            emb_expr=f"(embedding[{s * d + 1}:{s * d + d}])")
        subs.append(f"pq_s{s} AS (\nSELECT vec_id, CAST(cid AS INT) AS "
                    f"code_{s} FROM (\n{inner}) q{s}\n)")
    joins = " ".join(f"JOIN pq_s{s} USING (vec_id)" for s in range(1, PQ_M))
    cols = ", ".join(f"code_{s}" for s in range(PQ_M))
    return ("WITH " + ",\n".join(subs)
            + f"\nSELECT vec_id, {cols} FROM pq_s0 {joins}\n")


PQ_ADC_TOP_K = 10
PQ_QUERY_MOD = 100
PQ_MAX_QUERIES = 8


def int_vec_py(vec) -> list[int]:
    """Pure-Python mirror of the shared clamp+shift integerization —
    used by the ADC distance tables (and as the tests' third engine)."""
    import math
    out = []
    for x in vec:
        q = math.floor(float(x) * SCALE + 0.5)
        out.append(int(min(max(q, -SHIFT), SHIFT) + SHIFT))
    return out


def pq_adc_topk(emb: DataFrame, books: list[list[list[int]]],
                max_queries: int = PQ_MAX_QUERIES) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes (the PQ ANN scorer):
    per query, adc2(q, v) = Σ_s dist2(q_subspace_s, codeword[code_s(v)]).

    The query set is the ann_brute_force rule (vec_id % PQ_QUERY_MOD == 0,
    first max_queries — argument-bounded ≤ the similarity ≤64 precedent,
    collected once); each query contributes an m·k integer distance
    TABLE, and scoring is a pure-codegen expression over the code
    columns (array-literal lookups — no join, no Python in the scan);
    candidates shuffle once on query_id for the top-k window
    (WindowGroupLimit prunes map-side). Self-matches are excluded
    (the ann convention). Output (query_id, rank, neighbor_id, adc2) —
    adc2 is the EXACT integer both engines reproduce; ranks total-order
    by (adc2, neighbor_id)."""
    if max_queries < 1 or max_queries > 64:
        raise ValueError(
            f"pq_adc_topk: need 1 <= max_queries <= 64 (got {max_queries})")
    m = len(books)
    d = _pq_check(m, min(len(b) for b in books), DIM)
    qrows = (emb.where((F.col("vec_id") % PQ_QUERY_MOD) == 0)
                .orderBy("vec_id").limit(max_queries)
                .select("vec_id", "embedding").collect())
    if not qrows:
        raise ValueError(
            f"pq_adc_topk: no query vectors (no vec_id % {PQ_QUERY_MOD} "
            f"== 0 rows) — an empty query set has no top-k to rank")
    structs = []
    for r in qrows:
        qi = int_vec_py(r["embedding"])
        adc = None
        for s, book in enumerate(books):
            qs = qi[s * d:(s + 1) * d]
            tbl = [sum((a - b) * (a - b) for a, b in zip(qs, c))
                   for c in book]
            term = F.get(F.array(*[F.lit(int(v)).cast("long")
                                   for v in tbl]),
                         F.col(f"code_{s}"))
            adc = term if adc is None else adc + term
        structs.append(F.struct(
            F.lit(int(r["vec_id"])).alias("query_id"),
            adc.alias("adc2")))
    codes = pq_encode(emb, books)
    ex = (codes.select("vec_id", F.explode(F.array(*structs)).alias("q"))
               .select("vec_id", "q.query_id", "q.adc2")
               .where(F.col("vec_id") != F.col("query_id")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc2").asc(), F.col("vec_id").asc())
    return (ex.withColumn("rank", F.row_number().over(w))
              .where(F.col("rank") <= PQ_ADC_TOP_K)
              .select("query_id", "rank",
                      F.col("vec_id").alias("neighbor_id"), "adc2"))


def pq_adc_oracle_sql() -> str:
    """Composed from the pq-codes chain + m centroid chains + the shared
    integerization of the query rows — the scorer's every input re-derived
    from the same definitions, so nothing can drift."""
    d = _pq_check(PQ_M, PQ_K, DIM)
    codes = pq_codes_oracle_sql()
    qdims = ",\n         ".join(
        f"{_int_dim_sql('embedding', i)} AS x{i}" for i in range(DIM))
    ctes = [f"adc_codes AS (\n{codes})",
            f"""adc_q AS (
  SELECT vec_id AS query_id, {qdims}
  FROM embeddings WHERE vec_id % {PQ_QUERY_MOD} = 0
  ORDER BY vec_id LIMIT {PQ_MAX_QUERIES}
)"""]
    for s in range(PQ_M):
        cents = kmeans_oracle_sql(
            k=PQ_K, n_iter=PQ_N_ITER, dim=d,
            emb_expr=f"(embedding[{s * d + 1}:{s * d + d}])",
            summary="centroids")
        dist = " + ".join(
            f"(q.x{s * d + i} - c.x{i}) * (q.x{s * d + i} - c.x{i})"
            for i in range(d))
        ctes.append(f"adc_cb{s} AS (\nSELECT * FROM (\n{cents}) c{s}\n)")
        ctes.append(f"""adc_t{s} AS (
  SELECT q.query_id, c.cid, CAST({dist} AS BIGINT) AS d2
  FROM adc_q q CROSS JOIN adc_cb{s} c
)""")
    tjoins = "\n  ".join(
        f"JOIN adc_t{s} t{s} ON t{s}.query_id = q.query_id "
        f"AND t{s}.cid = v.code_{s}" for s in range(PQ_M))
    adc = " + ".join(f"t{s}.d2" for s in range(PQ_M))
    return ("WITH " + ",\n".join(ctes) + f""",
adc_scored AS (
  SELECT q.query_id, v.vec_id AS neighbor_id, {adc} AS adc2
  FROM adc_codes v
  CROSS JOIN (SELECT DISTINCT query_id FROM adc_q) q
  {tjoins}
  WHERE v.vec_id <> q.query_id
)
SELECT query_id, rank, neighbor_id, adc2 FROM (
  SELECT query_id, neighbor_id, CAST(adc2 AS BIGINT) AS adc2,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adc2, neighbor_id) AS rank
  FROM adc_scored
) WHERE rank <= {PQ_ADC_TOP_K}
""")


# ---------------------------------------------------------------------------
# DuckDB oracle: the unrolled c0..cK chain
# ---------------------------------------------------------------------------


def _iv_sql(emb_expr: str, dim: int) -> str:
    xs = ",\n         ".join(
        f"{_int_dim_sql(emb_expr, i)} AS x{i}" for i in range(dim))
    h = md5_hash60_sql("CAST(vec_id AS VARCHAR)")
    return (f"km_iv AS MATERIALIZED (\n  SELECT vec_id, {h} AS h,\n"
            f"         {xs}\n  FROM embeddings\n)")


def _assign_cte(name: str, cents: str, dim: int) -> str:
    dist = " + ".join(f"(v.x{i} - c.x{i}) * (v.x{i} - c.x{i})"
                      for i in range(dim))
    return f"""{name} AS MATERIALIZED (
  SELECT vec_id, cid, dist2,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY dist2, cid) AS rn
  FROM (SELECT v.vec_id, c.cid, {dist} AS dist2
        FROM km_iv v CROSS JOIN {cents} c) km_d
)"""


def kmeans_oracle_sql(k: int = K_CLUSTERS, n_iter: int = N_ITER,
                      dim: int = DIM, emb_expr: str = "embedding",
                      summary: bool | str = False) -> str:
    """The identical computation as one DuckDB query: init by the same
    (h, vec_id) rank, per-round assignment via the same (dist2, cid) total
    order, update via the same truncating non-negative mean, empty clusters
    frozen by the LEFT JOIN coalesce. ``summary``: False = per-vector
    assignment, True = per-cluster rollup, "margins" = the rn=1/rn=2
    margin rows, "crosstab" = cluster × label counts."""
    ctes = [_iv_sql(emb_expr, dim)]
    xs = ", ".join(f"x{i}" for i in range(dim))
    ctes.append(f"""km_c0 AS MATERIALIZED (
  SELECT CAST(row_number() OVER (ORDER BY h, vec_id) - 1 AS INT) AS cid,
         {xs}
  FROM (SELECT * FROM km_iv ORDER BY h, vec_id LIMIT {k}) km_i
)""")
    for r in range(1, n_iter + 1):
        ctes.append(_assign_cte(f"km_a{r}", f"km_c{r - 1}", dim))
        sums = ", ".join(f"sum(v.x{i}) AS s{i}" for i in range(dim))
        upd_cols = ",\n         ".join(
            f"coalesce(CAST(u.s{i} AS BIGINT) // u.n, p.x{i}) AS x{i}"
            for i in range(dim))
        ctes.append(f"""km_u{r} AS (
  SELECT a.cid, count(*) AS n, {sums}
  FROM km_a{r} a JOIN km_iv v USING (vec_id)
  WHERE a.rn = 1 GROUP BY a.cid
),
km_c{r} AS MATERIALIZED (
  SELECT p.cid, {upd_cols}
  FROM km_c{r - 1} p LEFT JOIN km_u{r} u USING (cid)
)""")
    ctes.append(_assign_cte("km_af", f"km_c{n_iter}", dim))
    if summary == "triplets":
        dist = " + ".join(f"(va.x{i} - vb.x{i}) * (va.x{i} - vb.x{i})"
                          for i in range(dim))
        ctes.append(f"""km_pairs AS MATERIALIZED (
  SELECT a.vec_id AS anchor_id, a.cid, b.vec_id AS partner, {dist} AS d2
  FROM (SELECT vec_id, cid FROM km_af WHERE rn = 1) a
  JOIN (SELECT vec_id, cid FROM km_af WHERE rn = 1) b
    ON a.cid = b.cid AND a.vec_id <> b.vec_id
  JOIN km_iv va ON va.vec_id = a.vec_id
  JOIN km_iv vb ON vb.vec_id = b.vec_id
),
km_rank AS (
  SELECT *,
         row_number() OVER (PARTITION BY anchor_id
                            ORDER BY d2, partner) AS rp,
         row_number() OVER (PARTITION BY anchor_id
                            ORDER BY d2 DESC, partner DESC) AS rq
  FROM km_pairs
)""")
        body = ("SELECT anchor_id, cid,\n"
                "       max(CASE WHEN rp = 1 THEN partner END) AS pos_id,\n"
                "       CAST(max(CASE WHEN rp = 1 THEN d2 END) AS BIGINT)"
                " AS pos_dist2,\n"
                "       max(CASE WHEN rq = 1 THEN partner END) AS neg_id,\n"
                "       CAST(max(CASE WHEN rq = 1 THEN d2 END) AS BIGINT)"
                " AS neg_dist2,\n"
                "       CAST(count(*) AS BIGINT) AS n_partners\n"
                "FROM km_rank GROUP BY anchor_id, cid\n"
                "HAVING count(*) >= 2")
        return "WITH " + ",\n".join(ctes) + "\n" + body + "\n"
    if summary == "margins":
        body = ("SELECT a1.vec_id, a1.cid, a1.dist2,\n"
                "       a2.dist2 - a1.dist2 AS margin2\n"
                "FROM km_af a1 JOIN km_af a2 USING (vec_id)\n"
                "WHERE a1.rn = 1 AND a2.rn = 2")
    elif summary == "centroids":
        xs_out = ", ".join(f"x{i}" for i in range(dim))
        body = f"SELECT cid, {xs_out} FROM km_c{n_iter}"
    elif summary == "crosstab":
        body = ("SELECT a.cid, e.label,\n"
                "       CAST(count(*) AS BIGINT) AS n_members\n"
                "FROM km_af a JOIN embeddings e USING (vec_id)\n"
                "WHERE a.rn = 1 GROUP BY 1, 2")
    elif summary:
        body = ("SELECT cid, CAST(count(*) AS BIGINT) AS n_members,\n"
                "       CAST(sum(dist2) AS BIGINT) AS inertia\n"
                "FROM km_af WHERE rn = 1 GROUP BY cid")
    else:
        body = "SELECT vec_id, cid, dist2 FROM km_af WHERE rn = 1"
    return "WITH " + ",\n".join(ctes) + "\n" + body + "\n"


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def queries():
    return {
        "kmeans_assign": lambda s, d: kmeans_assign(_emb(s, d)),
        "kmeans_summary": lambda s, d: kmeans_summary(_emb(s, d)),
        "kmeans_margins": lambda s, d: kmeans_margins(_emb(s, d)),
        "kmeans_crosstab": lambda s, d: kmeans_crosstab(_emb(s, d)),
        "contrastive_triplets": lambda s, d: contrastive_triplets(
            _emb(s, d)),
        "pq_codes": lambda s, d: pq_encode(_emb(s, d),
                                           pq_train(_emb(s, d))),
        "pq_adc_topk": lambda s, d: pq_adc_topk(_emb(s, d),
                                                pq_train(_emb(s, d))),
    }


def oracles() -> dict[str, str]:
    return {
        "kmeans_assign": kmeans_oracle_sql(),
        "kmeans_summary": kmeans_oracle_sql(summary=True),
        "kmeans_margins": kmeans_oracle_sql(summary="margins"),
        "kmeans_crosstab": kmeans_oracle_sql(summary="crosstab"),
        "contrastive_triplets": kmeans_oracle_sql(summary="triplets"),
        "pq_codes": pq_codes_oracle_sql(),
        "pq_adc_topk": pq_adc_oracle_sql(),
    }
