"""Integer k-means semantics beyond the oracle: pure-Python third-engine
equality, DuckDB oracle equality on test-scale and crafted tie rows,
determinism under repartitioning, empty-cluster freeze, clamp rule,
argument validation, and the assignment plan shape."""

from __future__ import annotations

import math

import pandas as pd
import pytest
from pyspark.sql import functions as F

from logstash_filter_geoip_spark.functions.hashing import md5_hash60_py
from logstash_filter_geoip_spark.operators import clustering as km
from tests.conftest import duck_rows

SF = "/root/testdata/sf0.001"


def _int_vec_py(vec):
    out = []
    for x in vec:
        q = math.floor(float(x) * km.SCALE + 0.5)
        out.append(min(max(q, -km.SHIFT), km.SHIFT) + km.SHIFT)
    return out


def _kmeans_py(vecs: dict[int, list[float]], k: int, n_iter: int):
    """Pure-Python reference: same init rank, same (dist2, cid) total
    order, same truncating non-negative mean, same empty-cluster freeze."""
    iv = {vid: _int_vec_py(v) for vid, v in vecs.items()}
    order = sorted(iv, key=lambda vid: (md5_hash60_py(str(vid)), vid))
    cents = [iv[vid][:] for vid in order[:k]]

    def assign(c):
        out = {}
        for vid, x in iv.items():
            dists = [sum((a - b) * (a - b) for a, b in zip(x, cj))
                     for cj in c]
            m = min(dists)
            out[vid] = (dists.index(m), m)
        return out

    for _ in range(n_iter):
        a = assign(cents)
        for j in range(k):
            members = [iv[vid] for vid, (cid, _) in a.items() if cid == j]
            if members:
                n = len(members)
                cents[j] = [sum(col) // n for col in zip(*members)]
    return assign(cents)


def test_kmeans_matches_python_reference(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    got = {r.vec_id: (r.cid, r.dist2)
           for r in km.kmeans_assign(emb).collect()}
    vecs = {r.vec_id: list(r.embedding) for r in emb.collect()}
    expect = _kmeans_py(vecs, km.K_CLUSTERS, km.N_ITER)
    assert got == expect


def test_kmeans_deterministic_under_repartition(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    a = sorted(tuple(r) for r in km.kmeans_assign(emb).collect())
    b = sorted(tuple(r) for r in
               km.kmeans_assign(emb.repartition(13)).collect())
    assert a == b and a


def test_kmeans_empty_cluster_frozen(spark):
    # 4 identical vectors: both init centroids coincide, every row
    # tie-breaks to cid 0, cluster 1 never gets members — its centroid
    # stays frozen and the run still terminates deterministically
    rows = [(i, [0.1] * 4) for i in range(4)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = km.kmeans_assign(emb, k=2, n_iter=2, dim=4).collect()
    assert {r.cid for r in out} == {0}
    assert all(r.dist2 == 0 for r in out)
    summ = km.kmeans_summary(emb, k=2, n_iter=2, dim=4).collect()
    assert [(r.cid, r.n_members, r.inertia) for r in summ] == [(0, 4, 0)]


def test_kmeans_clamp_extremes(spark):
    # coordinates beyond ±SHIFT/SCALE clamp identically in the numpy rule
    # and the Python mirror (the oracle SQL shares the spelling verbatim)
    rows = [(0, [9.9, -9.9]), (1, [0.0, 0.0]), (2, [9.8, -9.8])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    iv = km._quantize(pd.Series([v for _, v in rows])).tolist()
    assert iv[0] == [2 * km.SHIFT, 0]
    assert iv[2] == [2 * km.SHIFT, 0]  # clamp collapses 9.8 and 9.9
    got = {r.vec_id: (r.cid, r.dist2)
           for r in km.kmeans_assign(emb, k=2, n_iter=1, dim=2).collect()}
    expect = _kmeans_py({r[0]: r[1] for r in rows}, 2, 1)
    assert got == expect


def test_kmeans_validation(spark):
    emb = spark.createDataFrame([(0, [0.1, 0.2])],
                                "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="k >= 1"):
        km.kmeans_assign(emb, k=0, dim=2)
    with pytest.raises(ValueError, match="exceeds"):
        km.kmeans_assign(emb, k=5, dim=2)


def test_kmeans_assignment_plan_shape(spark):
    # every Lloyd round's shuffle (the K-group aggregate) has already
    # executed by construction, so the returned assignment is one narrow
    # scan: exactly ONE ArrowEvalPython barrier (never row-at-a-time
    # BatchEvalPython) and no Exchange
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    arrow = km.kmeans_assign(emb, n_iter=1)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in arrow
    assert arrow.count("ArrowEvalPython") == 1
    assert "BatchEvalPython" not in arrow


def test_kmeans_matches_oracle_sql(spark):
    """kmeans_assign == the package's DuckDB oracle (the unrolled Lloyd
    chain) run over the same test-scale rows."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    got = sorted(map(tuple, km.kmeans_assign(emb).collect()))
    want = sorted(duck_rows(km.kmeans_oracle_sql(), embeddings=emb))
    assert got == want and got


# ---------------------------------------------------------------------------
# streaming cluster-occupancy monitor
# ---------------------------------------------------------------------------

from pyspark.sql import types as T  # noqa: E402

from logstash_filter_geoip_spark.streaming import incremental  # noqa: E402

_CL_SCHEMA = T.StructType([
    T.StructField("vec_id", T.LongType()),
    T.StructField("embedding", T.ArrayType(T.DoubleType())),
])

_CENTS = [[1024, 1024, 1124, 1024], [924, 1024, 1024, 1124]]


def _cl_paths(tmp_path):
    return {k: str(tmp_path / k) for k in ("in", "state", "ckpt")}


def _cl_write(spark, path, rows):
    spark.createDataFrame(rows, _CL_SCHEMA).coalesce(1) \
         .write.mode("append").parquet(path)


def _cl_run(spark, p, cents=_CENTS):
    q = incremental.additive_stream(
        spark, incremental.cluster_state(cents, dim=4), p["in"], p["state"],
        p["ckpt"], _CL_SCHEMA)
    q.awaitTermination()


def _cl_rows(base):
    return [(i, [x + 0.001 * i for x in base]) for i in range(3)]


def test_cluster_stream_matches_batch_profile(spark, tmp_path):
    """Drained stream occupancy counters == batch cluster_profile over
    the union of every ingested input, row-identically (profiles add)."""
    p = _cl_paths(tmp_path)
    r1 = _cl_rows([0.0, 0.0, 0.1, 0.0])          # near centroid 0
    r2 = [(10 + i, v) for i, (_, v) in enumerate(_cl_rows([-0.1, 0.0, 0.0, 0.1]))]
    _cl_write(spark, p["in"], r1)
    _cl_run(spark, p)
    _cl_write(spark, p["in"], r2)
    _cl_run(spark, p)
    got = sorted(map(tuple,
                     incremental.additive_state_read(spark, "cluster",
                                                     p["state"])
                     .collect()))
    want = sorted(map(tuple, km.cluster_profile(
        spark.createDataFrame(r1 + r2, _CL_SCHEMA), _CENTS,
        dim=4).collect()))
    assert got == want and len(got) == 2


def test_cluster_apply_batch_fences_replayed_ids(spark, tmp_path):
    import os
    p = _cl_paths(tmp_path)
    sketch_path = os.path.join(p["state"], "sketch")
    batch = spark.createDataFrame(_cl_rows([0.0, 0.0, 0.1, 0.0]),
                                  _CL_SCHEMA)
    spec = incremental.cluster_state(centroids=_CENTS, dim=4,
                                     emb_col="embedding")
    assert incremental.additive_apply_batch(spark, spec, batch, 0,
                                            sketch_path)
    once = sorted(map(tuple, spark.read.parquet(sketch_path).collect()))
    assert not incremental.additive_apply_batch(spark, spec, batch, 0,
                                                sketch_path)
    assert sorted(map(tuple,
                      spark.read.parquet(sketch_path).collect())) == once
    assert incremental.additive_apply_batch(spark, spec, batch, 1,
                                            sketch_path)
    twice = {cid: (n, inertia) for cid, n, inertia in
             spark.read.parquet(sketch_path).collect()}
    for cid, n, inertia in once:
        assert twice[cid] == (2 * n, 2 * inertia)


def test_cluster_stream_centroid_pin_raises(spark, tmp_path):
    p = _cl_paths(tmp_path)
    _cl_write(spark, p["in"], _cl_rows([0.0, 0.0, 0.1, 0.0]))
    _cl_run(spark, p)
    other = [[0] * 4, [2048] * 4]
    with pytest.raises(ValueError, match="cluster state"):
        incremental.additive_stream(
            spark, incremental.cluster_state(other, dim=4), p["in"],
            p["state"], str(tmp_path / "ckpt2"), _CL_SCHEMA)
    with pytest.raises(NotImplementedError, match="local"):
        incremental.additive_stream(
            spark, incremental.cluster_state(_CENTS, dim=4), p["in"],
            "s3://bucket/state", p["ckpt"], _CL_SCHEMA)


def test_cluster_profile_trained_centroids_roundtrip(spark):
    """train_centroids → assign_fixed reproduces kmeans_assign exactly
    (the composition IS the operator), and cluster_profile over the
    training input == kmeans_summary."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cents = km.train_centroids(emb)
    a = sorted(map(tuple, km.assign_fixed(emb, cents).collect()))
    b = sorted(map(tuple, km.kmeans_assign(emb).collect()))
    assert a == b
    pa = sorted(map(tuple, km.cluster_profile(emb, cents).collect()))
    pb = sorted(map(tuple, km.kmeans_summary(emb).collect()))
    assert pa == pb


# ---------------------------------------------------------------------------
# margins + crosstab
# ---------------------------------------------------------------------------


def _kmeans_margins_py(vecs, k, n_iter):
    """second-best extension of the Python reference."""
    iv = {vid: _int_vec_py(v) for vid, v in vecs.items()}
    final = _kmeans_py(vecs, k, n_iter)
    order = sorted(iv, key=lambda vid: (md5_hash60_py(str(vid)), vid))
    cents = [iv[vid][:] for vid in order[:k]]
    for _ in range(n_iter):
        byc: dict = {}
        for vid, x in iv.items():
            dists = [sum((a - b) * (a - b) for a, b in zip(x, cj))
                     for cj in cents]
            byc.setdefault(dists.index(min(dists)), []).append(x)
        for j, members in byc.items():
            n = len(members)
            cents[j] = [sum(col) // n for col in zip(*members)]
    out = {}
    for vid, x in iv.items():
        dists = sorted(sum((a - b) * (a - b) for a, b in zip(x, cj))
                       for cj in cents)
        out[vid] = (final[vid][0], dists[0], dists[1] - dists[0])
    return out


def test_kmeans_margins_matches_python(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    got = {r.vec_id: (r.cid, r.dist2, r.margin2)
           for r in km.kmeans_margins(emb).collect()}
    vecs = {r.vec_id: list(r.embedding) for r in emb.collect()}
    expect = _kmeans_margins_py(vecs, km.K_CLUSTERS, km.N_ITER)
    assert got == expect
    assert all(m >= 0 for _, _, m in got.values())
    with pytest.raises(ValueError, match="k must be >= 2"):
        km.kmeans_margins(emb, k=1)


def test_kmeans_margin_zero_on_boundary(spark):
    # vec 2 is exactly equidistant from the two (frozen) centroids ->
    # margin 0 and the lowest cid wins the tie
    rows = [(0, [0.0, 0.0]), (1, [0.2, 0.0]), (2, [0.1, 0.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.vec_id: (r.cid, r.margin2)
           for r in km.kmeans_margins(emb, k=2, n_iter=0, dim=2).collect()}
    # init centroids = 2 smallest (md5(vec_id), vec_id) hashes of {0,1,2}
    cents = sorted(range(3), key=lambda v: (md5_hash60_py(str(v)), v))[:2]
    mid_expected_cid = 0 if 0 in cents and 1 in cents else None
    if mid_expected_cid is not None:  # only exact when cents are 0 and 1
        assert out[2] == (0, 0)


def test_kmeans_crosstab_consistent_with_summary(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    ct = km.kmeans_crosstab(emb).collect()
    summ = {r.cid: r.n_members for r in km.kmeans_summary(emb).collect()}
    by_cid: dict = {}
    for r in ct:
        by_cid[r.cid] = by_cid.get(r.cid, 0) + r.n_members
    assert by_cid == summ
    # weak quality floor: majority-label share per cluster above the
    # uniform-chance share (10 labels ≈ 0.1; k=8 with 3 Lloyd rounds on
    # the synthetic geometry reads ~0.16 — the table is an AUDIT artifact,
    # not a classifier)
    tot = sum(summ.values())
    maj = sum(max(r.n_members for r in ct if r.cid == c)
              for c in by_cid)
    assert maj / tot > 0.12


# ---------------------------------------------------------------------------
# contrastive_triplets (session 17)
# ---------------------------------------------------------------------------


def _triplets_py(vecs: dict[int, list[float]], k: int, n_iter: int):
    """Pure-Python reference: same assignment, then per anchor the
    (dist2, partner) min — ties to the LOWEST partner id — and the
    (dist2, partner) max — ties to the HIGHEST; anchors with ≥2
    partners only."""
    a = _kmeans_py(vecs, k, n_iter)
    iv = {vid: _int_vec_py(v) for vid, v in vecs.items()}
    by_cid: dict[int, list[int]] = {}
    for vid, (cid, _) in a.items():
        by_cid.setdefault(cid, []).append(vid)
    out = {}
    for cid, members in by_cid.items():
        if len(members) < 3:
            continue
        for anchor in members:
            ds = [(sum((p - q) * (p - q)
                       for p, q in zip(iv[anchor], iv[m])), m)
                  for m in members if m != anchor]
            pos = min(ds, key=lambda t: (t[0], t[1]))
            neg = max(ds, key=lambda t: (t[0], t[1]))
            out[anchor] = (cid, pos[1], pos[0], neg[1], neg[0], len(ds))
    return out


def test_triplets_match_python_reference(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    got = {r.anchor_id: (r.cid, r.pos_id, r.pos_dist2, r.neg_id,
                         r.neg_dist2, r.n_partners)
           for r in km.contrastive_triplets(emb).collect()}
    vecs = {r.vec_id: list(r.embedding) for r in emb.collect()}
    assert got == _triplets_py(vecs, km.K_CLUSTERS, km.N_ITER)


def test_triplets_match_oracle_sql(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    got = {tuple(r) for r in km.contrastive_triplets(emb).collect()}
    want = set(duck_rows(km.kmeans_oracle_sql(summary="triplets"),
                         embeddings=emb))
    assert got == want and len(got) > 0


def test_triplets_tie_rules_and_small_clusters(spark):
    # 4 identical vectors (one cluster, all pair distances 0) + 2 lone
    # vectors far away forming a 2-member cluster (1 partner → excluded)
    dim = 4
    rows = ([(i, [0.0] * dim) for i in range(4)]
            + [(10, [1.0] * dim), (11, [1.0] * dim)])
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r.anchor_id: r
           for r in km.contrastive_triplets(emb, k=2, n_iter=2,
                                            dim=dim).collect()}
    clusters: dict[int, set[int]] = {}
    for r in got.values():
        clusters.setdefault(r.cid, set()).add(r.anchor_id)
    four = next((m for m in clusters.values() if len(m) == 4), None)
    assert four is not None, got
    for a in four:
        r = got[a]
        others = sorted(four - {a})
        # all-equal distances: pos tie → lowest id, neg tie → highest id
        assert (r.pos_id, r.neg_id) == (others[0], others[-1])
        assert r.pos_dist2 == r.neg_dist2 == 0
        assert r.pos_id != r.neg_id and r.n_partners == 3
    # the 2-member cluster contributes no anchors
    assert set(got) == four
    # the DuckDB oracle spells the same tie rules over the same rows
    oracle = duck_rows(km.kmeans_oracle_sql(k=2, n_iter=2, dim=dim,
                                            summary="triplets"),
                       embeddings=emb)
    assert {tuple(r) for r in got.values()} == set(oracle)


# ---------------------------------------------------------------------------
# product quantization (session 17)
# ---------------------------------------------------------------------------


def _pq_py(vecs, books, d):
    """Pure-Python PQ encode: same quantization, strict-< argmin."""
    codes = {}
    for vid, v in vecs.items():
        xi = _int_vec_py(v)
        cs = []
        for s, book in enumerate(books):
            xs = xi[s * d:(s + 1) * d]
            dists = [sum((a - b) * (a - b) for a, b in zip(xs, c))
                     for c in book]
            cs.append(dists.index(min(dists)))
        codes[vid] = tuple(cs)
    return codes


def test_pq_codes_match_python_reference(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    books = km.pq_train(emb)
    d = km.DIM // km.PQ_M
    vecs = {r.vec_id: list(r.embedding) for r in emb.collect()}
    want = _pq_py(vecs, books, d)
    got = {r.vec_id: tuple(r[f"code_{s}"] for s in range(km.PQ_M))
           for r in km.pq_encode(emb, books).collect()}
    assert got == want
    oracle = {r[0]: tuple(r[1:])
              for r in duck_rows(km.pq_codes_oracle_sql(), embeddings=emb)}
    assert oracle == want


def test_pq_adc_matches_python_reference(spark):
    """ADC scores == a pure-Python recompute of Σ_s table lookups, and
    the top-k sets follow the (adc2, neighbor_id) total order."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    books = km.pq_train(emb)
    d = km.DIM // km.PQ_M
    vecs = {r.vec_id: list(r.embedding) for r in emb.collect()}
    codes = _pq_py(vecs, books, d)
    got = [(r.query_id, r.rank, r.neighbor_id, r.adc2)
           for r in km.pq_adc_topk(emb, books).collect()]
    qids = sorted(v for v in vecs if v % km.PQ_QUERY_MOD == 0)[
        :km.PQ_MAX_QUERIES]
    want = []
    for q in qids:
        qi = _int_vec_py(vecs[q])
        scored = []
        for vid, cs in codes.items():
            if vid == q:
                continue
            adc = 0
            for s, c in enumerate(cs):
                qs = qi[s * d:(s + 1) * d]
                adc += sum((a - b) * (a - b)
                           for a, b in zip(qs, books[s][c]))
            scored.append((adc, vid))
        scored.sort()
        want += [(q, i + 1, vid, adc)
                 for i, (adc, vid) in enumerate(scored[:km.PQ_ADC_TOP_K])]
    assert sorted(got) == sorted(want)


def test_pq_validation(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    with pytest.raises(ValueError):
        km.pq_train(emb, m=3)          # 3 does not divide 64
    with pytest.raises(ValueError):
        km.pq_encode(emb, [])
    books = km.pq_train(emb)
    with pytest.raises(ValueError):
        km.pq_adc_topk(emb, books, max_queries=65)


def test_pq_train_fused_equals_composed_loop(spark):
    """r6 pin: the fused one-scan-per-round PQ trainer is bit-identical
    to the composed per-subspace train_centroids loop AND to the nested
    kmeans oracle chains' centroids over each sliced subspace."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    d = km.DIM // km.PQ_M
    fused = km.pq_train(emb)
    per_subspace = [
        km.train_centroids(
            emb.select("vec_id",
                       F.slice(F.col("embedding"), s * d + 1, d)
                        .alias("__sub")),
            k=km.PQ_K, n_iter=km.PQ_N_ITER, dim=d, emb_col="__sub")
        for s in range(km.PQ_M)]
    oracle = [
        [list(r[1:]) for r in sorted(duck_rows(
            km.kmeans_oracle_sql(
                k=km.PQ_K, n_iter=km.PQ_N_ITER, dim=d,
                emb_expr=f"(embedding[{s * d + 1}:{s * d + d}])",
                summary="centroids"),
            embeddings=emb))]
        for s in range(km.PQ_M)]
    assert fused == per_subspace == oracle
