"""ANN quality gates: both approximate paths (OR-amplified LSH, IVF-Flat)
measured against the exact brute-force baseline on the sf0.001 embeddings
table — recall@k must clear a floor, plans must stay Python-row-free, and
the IVF quantizer must be deterministic (same centroids every run)."""

from __future__ import annotations

import numpy as np
import pytest

SF_DIR = "/root/testdata/sf0.001"
K = 5
N_PROBES = 8


def _recall(exact_rows, approx_rows) -> float:
    exact: dict[int, set] = {}
    for r in exact_rows:
        exact.setdefault(r["probe_id"], set()).add(r["neighbor_id"])
    hit = total = 0
    for pid, neigh in exact.items():
        total += len(neigh)
        got = {r["neighbor_id"] for r in approx_rows if r["probe_id"] == pid}
        hit += len(neigh & got)
    return hit / max(total, 1)


@pytest.fixture(scope="module")
def exact_rows(spark):
    from geografir_spark.queries import QUERIES

    return QUERIES["ann_cosine_topk"].fn(spark, SF_DIR).collect()


def test_ivf_recall_vs_exact(spark, exact_rows):
    from geografir_spark.queries import QUERIES

    approx = QUERIES["ann_ivf_topk"].fn(spark, SF_DIR).collect()
    rec = _recall(exact_rows, approx)
    # 8 of 32 lists probed; spherical kmeans on ~uniform synthetic vectors is
    # a weak quantizer by construction, but must still beat random scanning
    # (8/32 = 0.25) by a wide margin
    assert rec >= 0.6, f"IVF recall@{K} = {rec}"


def test_lsh_recall_vs_exact(spark, exact_rows):
    from geografir_spark.queries import QUERIES

    approx = QUERIES["ann_lsh_topk"].fn(spark, SF_DIR).collect()
    rec = _recall(exact_rows, approx)
    assert rec >= 0.5, f"LSH recall@{K} = {rec}"


def test_ivf_deterministic_and_plan_clean(spark):
    from geografir_spark.operators.similarity import train_centroids_np
    from geografir_spark.queries import QUERIES

    rng = np.random.RandomState(3)
    X = rng.normal(size=(500, 16))
    C1 = train_centroids_np(X, 8)
    C2 = train_centroids_np(X.copy(), 8)
    np.testing.assert_array_equal(C1, C2)
    assert C1.shape == (8, 16)
    np.testing.assert_allclose(np.linalg.norm(C1, axis=1), 1.0, rtol=1e-9)

    df = QUERIES["ann_ivf_topk"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan  # Arrow-batched only


def test_ivf_n_lists_exceeding_sample(spark):
    """n_lists larger than the training sample degrades gracefully."""
    from geografir_spark.operators.similarity import train_centroids_np

    X = np.eye(4)
    C = train_centroids_np(X, 16)
    assert C.shape == (4, 4)


def test_near_dup_pairs_driver_bounded_and_exact(spark, monkeypatch):
    """embedding_near_dup_pairs must never materialize more than the bounded
    training sample on the driver (VERDICT r1 #2: the previous version
    toPandas()'d the whole table), and must equal brute force exactly."""
    import pandas as pd

    from geografir_spark.operators import similarity

    rng = np.random.RandomState(7)
    # two tight clusters (near-dups) + uniform background
    base = rng.normal(size=(2, 16))
    members = np.concatenate(
        [b + rng.normal(scale=0.05, size=(20, 16)) for b in base]
        + [rng.normal(size=(160, 16))]
    )
    rows = [(i, [float(x) for x in members[i]]) for i in range(len(members))]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")

    train_cap = 64
    sizes = []
    cls = type(df)  # the concrete (classic) DataFrame class, where toPandas lives
    orig = cls.toPandas

    def counting(self):
        out = orig(self)
        sizes.append(len(out))
        return out

    monkeypatch.setattr(cls, "toPandas", counting)
    got = (
        similarity.embedding_near_dup_pairs(
            df, tau=0.8, n_blocks=8, train_sample=train_cap
        )
        .toPandas()
        .sort_values(["a_id", "b_id"])
        .reset_index(drop=True)
    )
    # every driver materialization is the bounded sample or the tiny result
    assert sizes and max(sizes[:-1] or [0]) <= train_cap, sizes

    U = members / np.maximum(np.linalg.norm(members, axis=1, keepdims=True), 1e-300)
    S = U @ U.T
    ii, jj = np.nonzero(np.triu(S >= 0.8, k=1))
    exp = (
        pd.DataFrame({"a_id": ii.astype("int64"), "b_id": jj.astype("int64")})
        .sort_values(["a_id", "b_id"])
        .reset_index(drop=True)
    )
    assert len(exp) > 0  # the fixture actually plants pairs
    pd.testing.assert_frame_equal(got, exp)


def test_semantic_dedup_drop_rule(spark):
    """The SemDeDup prune drops a doc iff SOME lower-id doc in its cluster
    is cosine-close — including lower-id docs that were themselves dropped
    (the paper's rule is EXISTS over all prior candidates, not kept ones)."""
    from geografir_spark.operators.similarity import semantic_dedup

    # 3 near-identical vectors (ids 0,1,2) + one far vector (id 3):
    # id 0 kept, ids 1 and 2 both dropped (2 is near 1 AND near 0).
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.999, 0.045, 0.0, 0.0]),
        (2, [0.999, 0.0, 0.045, 0.0]),
        (3, [0.0, 0.0, 0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    out = {
        r["vec_id"]: r
        for r in semantic_dedup(df, tau=0.9, n_clusters=2).collect()
    }
    assert [out[i]["kept"] for i in range(4)] == [1, 0, 0, 1]
    # the near-identical trio landed in one cluster, the far vector is
    # kept regardless of cluster
    assert out[0]["cluster_id"] == out[1]["cluster_id"] == out[2]["cluster_id"]


def test_semantic_dedup_deterministic(spark):
    """Two runs at the same sf produce identical (id, cluster, kept) rows —
    the whole pipeline (sample, k-means, assignment, prune) is RNG-free."""
    from geografir_spark.operators.similarity import semantic_dedup
    from geografir_spark.sources.pages import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    a = sorted(map(tuple, semantic_dedup(emb, tau=0.464, n_clusters=16).collect()))
    b = sorted(map(tuple, semantic_dedup(emb, tau=0.464, n_clusters=16).collect()))
    assert a == b
    assert len(a) == emb.count()


def test_exact_cosine_topk_refuses_oversized_probe_set(spark, monkeypatch):
    """The exact path broadcasts its probes: past MAX_EXACT_PROBES it
    raises before planning the cross join and names the scalable paths."""
    from geografir_spark.operators import similarity

    monkeypatch.setattr(similarity, "MAX_EXACT_PROBES", 4)
    vecs = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(6)], "vec_id LONG, v ARRAY<DOUBLE>"
    )
    probes = vecs.selectExpr("vec_id AS probe_id", "v AS pvec")
    targets = vecs.selectExpr("vec_id AS neighbor_id", "v AS tvec")
    assert similarity.cosine_topk(probes.limit(4), targets, k=2).count() == 8
    with pytest.raises(ValueError, match=r"over 4 probes \(5 counted.*ivf_topk"):
        similarity.cosine_topk(probes, targets, k=2)


def test_one_training_sample_for_every_centroid_user(spark, monkeypatch):
    """ivf_topk, semantic_dedup and embedding_near_dup_pairs train on the
    same matrix: the first n rows in (hash60(id), id) order — the order
    queries._replayed_centroid_values replays outside Spark."""
    import hashlib

    from geografir_spark.operators import similarity
    from geografir_spark.sources.pages import load_table

    seen = []
    train = similarity.train_centroids_np

    def spy(X, n_lists, *args, **kwargs):
        seen.append(np.array(X, dtype=np.float64, copy=True))
        return train(X, n_lists, *args, **kwargs)

    monkeypatch.setattr(similarity, "train_centroids_np", spy)
    n = 64
    emb = load_table(spark, SF_DIR, "embeddings")
    probes = emb.filter("vec_id < 8").selectExpr("vec_id AS probe_id", "embedding AS pvec")
    targets = emb.selectExpr("vec_id AS neighbor_id", "embedding AS tvec")
    similarity.ivf_topk(probes, targets, k=K, n_lists=8, train_sample=n)
    similarity.semantic_dedup(emb, tau=0.464, n_clusters=8, train_sample=n)
    similarity.embedding_near_dup_pairs(emb, tau=0.42, n_blocks=8, train_sample=n)
    assert len(seen) == 3

    pdf = emb.select("vec_id", "embedding").toPandas()
    h = [int(hashlib.md5(str(int(i)).encode()).hexdigest()[:15], 16) for i in pdf["vec_id"]]
    order = sorted(range(len(pdf)), key=lambda r: (h[r], int(pdf["vec_id"][r])))[:n]
    want = np.asarray([pdf["embedding"][r] for r in order], dtype=np.float64)
    for X in seen:
        np.testing.assert_array_equal(X, want)


def test_with_ivf_lists_sim_col(spark):
    """n_probes=1: the list is the argmax of unit-row · centroid and the
    sim is that dot product; n_probes=3: the stable top 3 lists."""
    from geografir_spark.operators.similarity import with_ivf_lists

    rng = np.random.RandomState(11)
    X = rng.normal(size=(40, 6))
    C = rng.normal(size=(5, 6))
    C /= np.linalg.norm(C, axis=1, keepdims=True)
    df = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(len(X))], "id LONG, v ARRAY<DOUBLE>"
    )
    S = (X / np.linalg.norm(X, axis=1, keepdims=True)) @ C.T

    one = with_ivf_lists(df, "v", C, list_col="l", sim_col="s").toPandas().sort_values("id")
    assert len(one) == len(X)
    np.testing.assert_array_equal(one["l"].to_numpy(), np.argmax(S, axis=1))
    np.testing.assert_allclose(one["s"].to_numpy(), S.max(axis=1), rtol=1e-12)

    three = with_ivf_lists(df, "v", C, n_probes=3, list_col="l", sim_col="s").toPandas()
    top3 = np.argsort(-S, axis=1, kind="stable")[:, :3]
    want = {(i, int(j)) for i in range(len(X)) for j in top3[i]}
    assert set(zip(three["id"].tolist(), three["l"].tolist())) == want
    assert len(three) == 3 * len(X)
    np.testing.assert_allclose(
        three["s"].to_numpy(), S[three["id"].to_numpy(), three["l"].to_numpy()], rtol=1e-12
    )


def test_cosine_sql_zero_vector_reads_zero(spark):
    """A zero-norm side reads 0.0 in the engine's cosine and in the
    oracles' DuckDB cosine alike. An unguarded Spark cosine divides by a
    zero norm product, which raises DIVIDE_BY_ZERO under ANSI SQL (NULL
    without it); DuckDB 1.0's bare ``list_cosine_similarity`` reads -1.0.
    The hybrid_retrieval_rrf semantic leg and the ANN oracles rank by
    these expressions."""
    import duckdb

    from geografir_spark.queries import _cos_expr

    rows = [([0.0, 0.0], [1.0, 2.0]), ([0.0, 0.0], [0.0, 0.0]), ([1.0, 0.0], [1.0, 1.0])]
    df = spark.createDataFrame(rows, "pvec ARRAY<DOUBLE>, tvec ARRAY<DOUBLE>")
    got = [r["c"] for r in df.selectExpr(f"{_cos_expr('spark')} AS c").collect()]
    assert got[:2] == [0.0, 0.0]
    assert got[2] == pytest.approx(2**-0.5, rel=1e-15)

    con = duckdb.connect()
    for elem in ("DOUBLE", "FLOAT"):
        duck = [
            r[0]
            for r in con.execute(
                f"SELECT {_cos_expr('duckdb')} FROM (SELECT"
                f" CAST(pvec AS {elem}[]) AS pvec, CAST(tvec AS {elem}[]) AS tvec,"
                f" i FROM (VALUES (0, ?, ?), (1, ?, ?), (2, ?, ?)) v(i, pvec, tvec))"
                f" ORDER BY i",
                [x for pair in rows for x in pair],
            ).fetchall()
        ]
        assert duck[:2] == [0.0, 0.0], elem
        assert duck[2] == pytest.approx(2**-0.5, rel=1e-6), elem

    from geografir_spark.operators.similarity import cosine_sql

    assert _cos_expr("spark") == cosine_sql("pvec", "tvec")
