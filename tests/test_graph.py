"""PageRank operator semantics: hand-checked fixed-point arithmetic, the
unrolled SQL over a bound frame vs over a temp view, and dialect
agreement."""

from __future__ import annotations

import duckdb

from geografir_spark.operators.graph import (
    SCALE,
    TELEPORT,
    pagerank_sql,
)

EDGES = [("a", "b", 3), ("b", "c", 1), ("c", "a", 2), ("a", "c", 1), ("d", "a", 5)]


def _spark_sql_ranks(spark, edges, iters):
    spark.createDataFrame(edges, "s string, d string, w long").createOrReplaceTempView(
        "predges"
    )
    sql = pagerank_sql("SELECT s, d, w FROM predges", "s", "d", "w", "spark", iters)
    return {r["node"]: r.asDict() for r in spark.sql(sql).collect()}


def test_pagerank_one_round_by_hand(spark):
    out = _spark_sql_ranks(spark, EDGES, iters=1)
    damp = SCALE * 85 // 100
    # a receives all of c's damped mass (w=2 of totw=2) and all of d's
    assert out["a"]["rank_scaled"] == TELEPORT + damp + damp
    # b receives 3/4 of a's damped mass
    assert out["b"]["rank_scaled"] == TELEPORT + (damp * 3) // 4
    # c receives 1/4 of a's and all of b's
    assert out["c"]["rank_scaled"] == TELEPORT + (damp * 1) // 4 + damp
    # d has no in-edges: teleport only
    assert out["d"]["rank_scaled"] == TELEPORT
    assert out["d"]["w_in"] == 0 and out["d"]["w_out"] == 5


def test_pagerank_sql_over_bound_frame_equals_view(spark):
    """``pagerank_sql`` over a frame bound with ``spark.sql(..., cc=frame)``
    — the binding ``pagerank_cells`` runs over its checkpointed flows —
    gives the same ranks as over a temp view."""
    want = _spark_sql_ranks(spark, EDGES, 5)
    e = spark.createDataFrame(EDGES, "s string, d string, w long").localCheckpoint()
    sql = pagerank_sql("SELECT s, d, w FROM {cc}", "s", "d", "w", "spark", 5)
    got = {r["node"]: r.asDict() for r in spark.sql(sql, cc=e).collect()}
    assert got == want


def test_pagerank_dialects_agree(spark):
    spark_out = {
        k: tuple(v[c] for c in ("rank_scaled", "w_in", "w_out"))
        for k, v in _spark_sql_ranks(spark, EDGES, 5).items()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE predges (s VARCHAR, d VARCHAR, w BIGINT)")
    con.executemany("INSERT INTO predges VALUES (?, ?, ?)", EDGES)
    sql = pagerank_sql("SELECT s, d, w FROM predges", "s", "d", "w", "duckdb", 5)
    duck_out = {r[0]: tuple(r[1:]) for r in con.execute(sql).fetchall()}
    assert spark_out == duck_out


def test_pagerank_mass_is_bounded_and_sink_absorbs(spark):
    # chain a -> b -> c: c is a sink (dangling), ranks stay positive and
    # below |V| * SCALE (mass is only ever lost to dangling truncation)
    edges = [("a", "b", 1), ("b", "c", 1)]
    out = _spark_sql_ranks(spark, edges, 5)
    total = sum(v["rank_scaled"] for v in out.values())
    assert 0 < total <= 3 * SCALE
    assert out["c"]["rank_scaled"] > out["b"]["rank_scaled"] > out["a"]["rank_scaled"]


def test_triangle_count_known_graphs(spark):
    """Triangle census on hand-built graphs: K4 has 4, a 4-cycle has 0,
    duplicate/reversed/self-loop edges are canonicalized first."""
    from geografir_spark.operators.graph import triangle_count_sql

    k4 = [(a, b) for a in range(1, 5) for b in range(1, 5) if a != b]  # both dirs
    k4 += [(1, 1), (2, 1)]  # self-loop + dup
    spark.createDataFrame(k4, ["s", "d"]).createOrReplaceTempView("k4")
    r = spark.sql(triangle_count_sql("k4", "s", "d", "spark")).collect()[0]
    assert (r["n_nodes"], r["n_edges"], r["n_triangles"]) == (4, 6, 4)

    cyc = [(1, 2), (2, 3), (3, 4), (4, 1)]
    spark.createDataFrame(cyc, ["s", "d"]).createOrReplaceTempView("cyc")
    r = spark.sql(triangle_count_sql("cyc", "s", "d", "spark")).collect()[0]
    assert (r["n_nodes"], r["n_edges"], r["n_triangles"]) == (4, 4, 0)


def test_triangle_min_weight_support_filter(spark):
    """min_weight keeps only edges reaching the raw multiplicity
    threshold — the triangle vanishes when one of its edges is singular."""
    from geografir_spark.operators.graph import triangle_count

    edges = [(1, 2), (1, 2), (2, 3), (2, 3), (1, 3)]  # (1,3) has weight 1
    df = spark.createDataFrame(edges, ["s", "d"])
    r1 = triangle_count(df, "s", "d", min_weight=1).collect()[0]
    assert (r1["n_edges"], r1["n_triangles"]) == (3, 1)
    r2 = triangle_count(df, "s", "d", min_weight=2).collect()[0]
    assert (r2["n_edges"], r2["n_triangles"]) == (2, 0)


def test_triangle_degree_ordered_matches_plain_sql(spark):
    """The engine's degree-ordered orientation (r4 verdict #6) must census
    exactly like the plain a<b<c oracle form — checked on K4, on a
    wheel graph (hub + cycle: n triangles), and on a pseudo-random graph."""
    import random

    from geografir_spark.operators.graph import (
        triangle_count,
        triangle_count_sql,
    )

    rng = random.Random(42)
    n = 40
    rand = [(a, b) for a in range(n) for b in range(n)
            if a != b and rng.random() < 0.15]
    wheel = [(0, i) for i in range(1, 13)] + [
        (i, i % 12 + 1) for i in range(1, 13)
    ]
    k4 = [(a, b) for a in range(1, 5) for b in range(1, 5) if a != b]
    for name, edges in (("k4", k4), ("wheel", wheel), ("rand", rand)):
        df = spark.createDataFrame(edges, ["s", "d"])
        df.createOrReplaceTempView("deg_tri_in")
        want = spark.sql(
            triangle_count_sql("deg_tri_in", "s", "d", "spark")
        ).collect()[0]
        got = triangle_count(df, "s", "d").collect()[0]
        assert tuple(got) == tuple(want), name


def test_oriented_edges_bound_hub_fanout(spark):
    """On a star-with-fringe graph (one hub of degree 200) the oriented
    out-degree — the per-join-key wedge fan — must collapse to the fringe
    scale: no reducer owns the hub's neighborhood."""
    from pyspark.sql import functions as F

    from geografir_spark.operators.graph import oriented_edges

    hub = [(0, i) for i in range(1, 201)]  # deg(0) = 200
    fringe = [(i, i + 1) for i in range(1, 200, 2)]  # leaf pairs
    e = spark.createDataFrame(hub + fringe, ["a", "b"])
    fan = (
        oriented_edges(e)
        .groupBy("u")
        .agg(F.count("*").alias("out"))
        .agg(F.max("out").alias("m"))
        .collect()[0]["m"]
    )
    # raw max degree is 200; oriented max out-degree is ≤ 2 here (every
    # hub edge points INTO the hub)
    assert fan <= 2


def test_components_pointer_doubling_on_long_path(spark):
    """A 200-node path (diameter 199) must converge well inside the
    25-round default — only possible with the pointer-doubling step —
    and label everything with the path's minimum id."""
    from geografir_spark.operators.dedup import connected_components

    edges = [(i, i + 1) for i in range(199)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    labels = connected_components(df)  # default max_iter=25
    got = {r["id"]: r["label"] for r in labels.collect()}
    assert got == {i: 0 for i in range(200)}
