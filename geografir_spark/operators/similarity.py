"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``            exact brute-force top-k (the correctness
  baseline): probes × targets with a JVM-native fold for the dot product
  (F.aggregate/zip_with — no Python). O(P×T) — fine for small probe sets;
  the scale paths are below.
- ``lsh_bucketed_topk``      random-hyperplane LSH: each vector gets a
  b-bit signature (sign of dot with b deterministic pseudo-hyperplanes);
  candidates = same-bucket (or Hamming-adjacent) pairs, exact cosine refine
  on candidates only. Hyperplanes are derived from md5 of (plane, dim) —
  deterministic, no stored model.
- ``ivf_topk``               IVF-Flat: a coarse quantizer (spherical
  k-means trained on a deterministic hash-ordered sample, driver-side
  numpy — how FAISS trains IVF too) partitions targets into inverted
  lists; each probe scans only its ``n_probes`` nearest lists via a list-id
  equi-join + exact cosine refine. Shuffle volume is |targets| + |probes|
  × n_probes, vs LSH's n_tables× replication — the better path when a
  training pass is acceptable.

All return (probe_id, neighbor_id, rank) with rank by (cosine desc,
neighbor_id) — integer outputs, so oracle hash-compare is immune to
float-representation drift; ties are broken deterministically.

Each piece is written once and shared:

- ``cosine_sql`` is the one cosine expression (zero-norm guarded: a zero
  vector reads 0.0 instead of dividing by zero); ``_cosine_topk_tail``
  the one refine + rank window over candidate pairs, used by all three
  top-k paths.
- ``_train_sample`` is the one training sample, for ``ivf_topk``,
  ``semantic_dedup`` and ``embedding_near_dup_pairs`` alike: the first
  ``n`` rows in ``(hash60(id), id)`` order. hash60 is plain md5, so
  ``queries._replayed_centroid_values`` replays the sample — and the
  centroids trained on it — outside Spark.
- ``with_ivf_lists`` is the one nearest-centroid assignment (with the
  cosine to the chosen centroid on request).
- ``_matrix`` decodes a vector column to a float64 matrix and
  ``_unit_rows`` normalises its rows, for every numpy kernel here.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot_expr(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        f" CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def cosine_sql(a: str, b: str) -> str:
    """Spark SQL cosine of two array columns; a zero-norm side reads 0.0."""
    return (
        f"({_dot_expr(a, b)})"
        f" / (greatest(sqrt({_dot_expr(a, a)}) * sqrt({_dot_expr(b, b)}), 1e-300))"
    )


def _matrix(vecs) -> "np.ndarray":
    """A column of vectors as one (N, dim) float64 matrix."""
    return np.asarray([np.asarray(v, dtype=np.float64) for v in vecs], dtype=np.float64)


def _unit_rows(X: "np.ndarray") -> "np.ndarray":
    return X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-300)


def _cosine_topk_tail(
    cand: DataFrame, k: int, probe_id: str, target_id: str, probe_vec: str, target_vec: str
) -> DataFrame:
    """Exact cosine refine of candidate pairs, then per-probe top-k by
    (cosine desc, target id)."""
    cand = cand.selectExpr("*", f"{cosine_sql(probe_vec, target_vec)} AS __cos")
    w = Window.partitionBy(probe_id).orderBy(F.desc("__cos"), F.asc(target_id))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(probe_id, target_id, "rank")
    )


def _train_sample(df: DataFrame, id_col: str, vec_col: str, n: int) -> "np.ndarray":
    """The first ``n`` vectors in (hash60(id), id) order, as a matrix
    (TakeOrderedAndProject — a top-k, not a full sort)."""
    from geografir_spark.operators.text import hash60_expr

    h = hash60_expr(f"CAST({id_col} AS STRING)", "spark")
    sample = (
        df.select(id_col, vec_col).orderBy(F.expr(h), F.col(id_col)).limit(n).toPandas()
    )
    return _matrix(sample[vec_col])


# cosine_topk broadcasts every probe vector to every task and scores it
# against every target; past this many probes use ivf_topk or
# lsh_bucketed_topk, whose shuffle grows with the candidates instead.
MAX_EXACT_PROBES = 10_000


def cosine_topk(
    probes: DataFrame,
    targets: DataFrame,
    *,
    k: int,
    probe_id: str = "probe_id",
    target_id: str = "neighbor_id",
    probe_vec: str = "pvec",
    target_vec: str = "tvec",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact brute-force cosine top-k: (probe_id, neighbor_id, rank).

    Raises ``ValueError`` above ``MAX_EXACT_PROBES`` probes (one capped
    count job), as ``hull.convex_hull`` guards its driver merge."""
    n_probes = probes.limit(MAX_EXACT_PROBES + 1).count()
    if n_probes > MAX_EXACT_PROBES:
        raise ValueError(
            f"cosine_topk: over {MAX_EXACT_PROBES} probes ({n_probes} counted,"
            " capped) — the exact path broadcasts every probe and scores it"
            " against every target; use ivf_topk or lsh_bucketed_topk for"
            " probe sets this large"
        )
    # broadcast the smaller side (probes are few); targets stream through
    j = F.broadcast(probes).crossJoin(targets)
    if exclude_self:
        j = j.filter(F.col(probe_id) != F.col(target_id))
    return _cosine_topk_tail(j, k, probe_id, target_id, probe_vec, target_vec)


def hyperplanes(n_planes: int, dim: int) -> "np.ndarray":
    """Deterministic pseudo-random hyperplanes: coef(p, d) derived from
    md5('p<p>_d<d>') → [-1, 1). No stored model, reproducible anywhere."""
    import hashlib

    out = np.empty((n_planes, dim), dtype=np.float64)
    for p in range(n_planes):
        for d in range(dim):
            h = int(hashlib.md5(f"p{p}_d{d}".encode()).hexdigest()[:15], 16)
            out[p, d] = (h % 2000001) / 1000000.0 - 1.0
    return out


def with_lsh_buckets(
    df: DataFrame,
    vec_col: str,
    *,
    n_planes: int = 4,
    n_tables: int = 8,
    dim: int = 64,
    table_col: str = "lsh_table",
    bucket_col: str = "lsh_bucket",
) -> DataFrame:
    """Explode each row to ``n_tables`` rows with (table_idx, bucket).

    Signatures for all tables come from ONE Arrow-batched matmul
    (X @ planes.T > 0 → packed bits) — the scale path; a per-term SQL
    expression tree was measured at ~2000 codegen terms per row side."""
    from pyspark.sql import types as T

    schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField(table_col, T.IntegerType()), T.StructField(bucket_col, T.LongType())]
    )
    planes = hyperplanes(n_planes * n_tables, dim)
    weights = (1 << (np.arange(n_planes * n_tables) % n_planes)).astype(np.int64)

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            bits = (_matrix(pdf[vec_col]) @ planes.T >= 0).astype(np.int64) * weights  # (N, P*T)
            buckets = bits.reshape(len(pdf), n_tables, n_planes).sum(axis=2)  # (N, T)
            rep = pdf.iloc[np.repeat(np.arange(len(pdf)), n_tables)].reset_index(drop=True)
            rep[table_col] = np.tile(np.arange(n_tables, dtype=np.int32), len(pdf))
            rep[bucket_col] = buckets.ravel()
            yield rep

    return df.mapInPandas(gen, schema=schema)


def lsh_bucketed_topk(
    probes: DataFrame,
    targets: DataFrame,
    *,
    k: int,
    dim: int,
    n_planes: int = 4,
    n_tables: int = 8,
    probe_id: str = "probe_id",
    target_id: str = "neighbor_id",
    probe_vec: str = "pvec",
    target_vec: str = "tvec",
) -> DataFrame:
    """Approximate top-k with OR-amplified LSH: ``n_tables`` independent
    hyperplane families; a pair is a candidate when it co-buckets in ANY
    table (union of per-table bucket equi-joins, deduped), then exact
    cosine refine + per-probe top-k. Recall ≈ 1-(1-p^b)^L where p is the
    angular collision probability — tune n_planes (precision/bucket size)
    vs n_tables (recall/shuffle volume)."""
    pb = with_lsh_buckets(
        probes, probe_vec, n_planes=n_planes, n_tables=n_tables, dim=dim,
        table_col="__pt", bucket_col="__pb",
    )
    tb = with_lsh_buckets(
        targets.select(target_id, target_vec), target_vec,
        n_planes=n_planes, n_tables=n_tables, dim=dim,
        table_col="__tt", bucket_col="__tb",
    )
    cand = (
        pb.join(
            tb,
            (pb["__pt"] == tb["__tt"]) & (pb["__pb"] == tb["__tb"]),
            "inner",
        )
        .filter(F.col(probe_id) != F.col(target_id))
        .select(probe_id, probe_vec, target_id, target_vec)
        .dropDuplicates([probe_id, target_id])
    )
    return _cosine_topk_tail(cand, k, probe_id, target_id, probe_vec, target_vec)


def train_centroids_np(X: "np.ndarray", n_lists: int, n_iters: int = 8) -> "np.ndarray":
    """Deterministic spherical k-means on a sample (driver-side numpy).

    Init = evenly spaced rows of the (hash-ordered) sample; each iteration
    assigns by max dot product against unit centroids and recomputes the
    renormalized mean. Empty lists keep their previous centroid. Fully
    deterministic: no RNG anywhere."""
    X = np.asarray(X, dtype=np.float64)
    if X.size == 0:
        raise ValueError("cannot train IVF centroids on an empty sample")
    Xn = _unit_rows(X)
    n_lists = min(n_lists, len(Xn))
    idx = np.linspace(0, len(Xn) - 1, n_lists).astype(np.int64)
    C = Xn[idx].copy()
    for _ in range(n_iters):
        assign = np.argmax(Xn @ C.T, axis=1)
        for j in range(n_lists):
            members = Xn[assign == j]
            if len(members):
                v = members.mean(axis=0)
                n = np.linalg.norm(v)
                if n > 1e-300:
                    C[j] = v / n
    return C


def with_ivf_lists(
    df: DataFrame,
    vec_col: str,
    centroids: "np.ndarray",
    *,
    n_probes: int = 1,
    list_col: str = "ivf_list",
    sim_col: "str | None" = None,
) -> DataFrame:
    """Assign each row its ``n_probes`` nearest inverted lists (one
    Arrow-batched matmul against the broadcast centroid matrix); rows are
    exploded when n_probes > 1. Deterministic ties: argsort is stable.
    With ``sim_col``, each row also carries the cosine to its list's
    centroid."""
    from pyspark.sql import types as T

    fields = [T.StructField(list_col, T.IntegerType())]
    if sim_col:
        fields.append(T.StructField(sim_col, T.DoubleType()))
    schema = T.StructType(list(df.schema.fields) + fields)
    C = np.ascontiguousarray(centroids, dtype=np.float64)

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            sims = _unit_rows(_matrix(pdf[vec_col])) @ C.T  # (N, L)
            if n_probes == 1:
                lists = np.argmax(sims, axis=1)[:, None]
            else:
                p = min(n_probes, sims.shape[1])
                # stable top-p by (-sim, list_id): deterministic probe order
                lists = np.argsort(-sims, axis=1, kind="stable")[:, :p]
            p = lists.shape[1]
            rep = pdf.iloc[np.repeat(np.arange(len(pdf)), p)].reset_index(drop=True)
            rep[list_col] = lists.ravel().astype(np.int32)
            if sim_col:
                rep[sim_col] = np.take_along_axis(sims, lists, axis=1).ravel()
            yield rep

    return df.mapInPandas(gen, schema=schema)


def ivf_topk(
    probes: DataFrame,
    targets: DataFrame,
    *,
    k: int,
    n_lists: int = 64,
    n_probes: int = 8,
    train_sample: int = 4096,
    probe_id: str = "probe_id",
    target_id: str = "neighbor_id",
    probe_vec: str = "pvec",
    target_vec: str = "tvec",
) -> DataFrame:
    """Approximate top-k via IVF-Flat (coarse quantize → inverted-list
    equi-join → exact cosine refine → per-probe window top-k).

    Training: ``train_sample`` target vectors in the shared
    ``_train_sample`` order, clustered on the driver. The sample — and
    therefore the centroid matrix — is replicable OUTSIDE Spark:
    queries._ivf_oracle_sql replays the sample + k-means in plain numpy
    and embeds the centroids as SQL literals, making the whole
    approximate pipeline oracle-checkable. At 100 TB the sample is still
    ~4k rows; the broadcast centroid matrix is n_lists × dim doubles (a
    few hundred KB)."""
    C = train_centroids_np(_train_sample(targets, target_id, target_vec, train_sample), n_lists)

    tl = with_ivf_lists(
        targets.select(target_id, target_vec), target_vec, C, n_probes=1,
        list_col="__tl",
    )
    pl = with_ivf_lists(probes, probe_vec, C, n_probes=n_probes, list_col="__pl")
    cand = (
        pl.join(tl, pl["__pl"] == tl["__tl"], "inner")
        .filter(F.col(probe_id) != F.col(target_id))
        .select(probe_id, probe_vec, target_id, target_vec)
    )
    return _cosine_topk_tail(cand, k, probe_id, target_id, probe_vec, target_vec)


def embedding_near_dup_pairs(
    df: DataFrame,
    *,
    tau: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 16,
    train_sample: int = 4096,
) -> DataFrame:
    """All pairs (a_id < b_id) with cosine ≥ tau — EXACT, fully distributed.

    Centroid-blocked all-pairs with angular bound pruning (the exact
    counterpart of IVF, no driver collect of the data):

    1. Train ``n_blocks`` spherical k-means centroids on the bounded
       shared ``_train_sample`` (the only driver-side materialization,
       fixed-size regardless of corpus).
    2. Assign every row its nearest centroid block + cos-to-centroid (one
       Arrow matmul per batch; per-block min-cos aggregates to an angular
       radius r_b = arccos(min cos) — n_blocks scalar rows of metadata).
    3. Prune block pairs exactly: unit vectors a∈i, b∈j satisfy
       angle(a,b) ≥ angle(c_i,c_j) − r_i − r_j, so a block pair whose
       bound cos(max(0, θ_ij − r_i − r_j)) < tau cannot contain a
       qualifying pair and is never scheduled (triangle inequality on the
       sphere — no false dismissals).
    4. Each surviving (i, j) becomes one task: rows route to their tasks
       via a broadcast join against the tiny (block → task, side) map,
       then one BLAS matmul A_i @ A_j.T per task in applyInPandas.
       A cross-block pair is emitted only by its one (i<j) task and an
       intra-block pair only by (i,i)'s upper triangle — no dedup pass.

    Scale: shuffle ≤ N × (surviving partners per block) ≤ N × n_blocks;
    task memory is (|b_i|+|b_j|) × dim × 8 B, so size n_blocks such that
    2N/n_blocks rows fit an executor (N=1e9, dim=64, n_blocks=4096 →
    ~250 MB/task). On clustered corpora (real near-dup data) the bound
    prunes most block pairs; worst case degrades to blocked brute force,
    which is what "exact all-pairs" costs. The approximate scale path for
    high-tau regimes is ``lsh_bucketed_topk`` — at THIS tau (0.42, ~65°,
    per-plane collision p≈0.64) hyperplane LSH needs so many OR-tables
    for total recall that its candidate volume exceeds N²/2, so it is
    deliberately NOT used here.

    Float drift vs a sequential fold is summation-order only (~1e-15);
    the tau gap in the fixtures is ≥7e-4 wide."""
    import pandas as pd
    from pyspark.sql import types as T

    spark = df.sparkSession
    out_schema = T.StructType(
        [T.StructField("a_id", T.LongType()), T.StructField("b_id", T.LongType())]
    )

    base = df.select(
        F.col(id_col).cast("long").alias("__id"), F.col(vec_col).alias("__vec")
    )
    X = _train_sample(base, "__id", "__vec", train_sample)
    if len(X) == 0:
        return spark.createDataFrame([], out_schema)
    C = train_centroids_np(X, n_blocks)
    n_blocks = len(C)

    # checkpoint: the assign matmul feeds BOTH the radii collect (driver
    # metadata, n_blocks rows) and the routed join — without it the whole
    # stage recomputes for each (measured 2x on the end-to-end time)
    assigned = with_ivf_lists(
        base, "__vec", C, list_col="__blk", sim_col="__csim"
    ).localCheckpoint()
    # block metadata: angular radius per block (n_blocks rows — not data)
    radii_rows = (
        assigned.groupBy("__blk").agg(F.min("__csim").alias("min_cos")).collect()
    )
    r = np.zeros(n_blocks, dtype=np.float64)
    present = np.zeros(n_blocks, dtype=bool)
    for row in radii_rows:
        r[row["__blk"]] = float(np.arccos(np.clip(row["min_cos"], -1.0, 1.0)))
        present[row["__blk"]] = True

    theta = np.arccos(np.clip(C @ C.T, -1.0, 1.0))
    tasks = []  # (task_id, blk, side) routing triples
    diag = {}  # task_id -> is_diag
    tid = 0
    for i in range(n_blocks):
        if not present[i]:
            continue
        for j in range(i, n_blocks):
            if not present[j]:
                continue
            if i != j:
                bound = np.cos(max(0.0, theta[i, j] - r[i] - r[j]))
                if bound < tau:
                    continue
            tasks.append((tid, i, 0))
            if i != j:
                tasks.append((tid, j, 1))
            diag[tid] = i == j
            tid += 1

    route = spark.createDataFrame(
        tasks, "task_id INT, __blk INT, side INT"
    )
    routed = assigned.select("__id", "__vec", "__blk").join(
        F.broadcast(route), "__blk", "inner"
    )

    def refine(key, pdf):
        is_diag = diag.get(int(key[0]), True)
        left = pdf[pdf["side"] == 0]
        right = left if is_diag else pdf[pdf["side"] == 1]
        if len(left) == 0 or len(right) == 0:
            return pd.DataFrame({"a_id": [], "b_id": []}).astype("int64")
        V_l = _unit_rows(_matrix(left["__vec"]))
        V_r = V_l if is_diag else _unit_rows(_matrix(right["__vec"]))
        hit = V_l @ V_r.T >= tau
        # an intra-block pair only once: (i,i)'s strict upper triangle
        ii, jj = np.nonzero(np.triu(hit, k=1) if is_diag else hit)
        aa, bb = left["__id"].to_numpy()[ii], right["__id"].to_numpy()[jj]
        lo = np.minimum(aa, bb)
        hi = np.maximum(aa, bb)
        return pd.DataFrame({"a_id": lo.astype("int64"), "b_id": hi.astype("int64")})

    return routed.groupBy("task_id").applyInPandas(refine, schema=out_schema)


def semantic_dedup(
    df: DataFrame,
    *,
    tau: float,
    n_clusters: int = 16,
    train_sample: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): spherical-kmeans cluster the embeddings, then prune
    WITHIN each cluster — a document is a semantic duplicate if some other
    document in its cluster with a LOWER id has cosine >= tau to it.

    The paper orders candidates by similarity-to-centroid; we order by id
    instead (the paper reports random order performs equivalently, §4.3) —
    id order is reproducible across engines with no float comparisons in
    the ordering predicate, which keeps the whole pipeline oracle-checkable
    (queries._semantic_dedup_oracle_sql replays it in DuckDB with the
    centroid matrix embedded as literals).

    Returns one row per input doc: (id, cluster_id, kept 0/1).

    Scale shape: training is a bounded hash-ordered 4,096-row sample (top-k,
    not a sort); assignment is one Arrow-batched matmul against the
    broadcast n_clusters×dim centroid matrix; the prune is ONE shuffle
    (hash-partition by cluster id) + a per-cluster BLAS gram matrix.
    Per-cluster cost is O(m²) — n_clusters must grow with the corpus so the
    expected cluster stays bounded (the paper uses 110k clusters for LAION;
    at 10^12 docs target m ≈ 10^4 → n_clusters ≈ 10^8 works because the
    centroid matrix is still only n_clusters×dim×8 bytes broadcast once;
    beyond broadcastable sizes, assignment becomes a two-level coarse→fine
    quantizer with the same semantics). A pathological hot cluster is a
    straggler — the mitigation (not needed on this corpus) is the same
    angular-bound block split used by embedding_near_dup_pairs."""
    import pandas as pd
    from pyspark.sql import types as T

    C = train_centroids_np(_train_sample(df, id_col, vec_col, train_sample), n_clusters)
    assigned = with_ivf_lists(
        df.select(id_col, vec_col), vec_col, C, list_col="cluster_id"
    )
    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("cluster_id", T.IntegerType()),
            T.StructField("kept", T.IntegerType()),
        ]
    )

    def prune(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        V = _unit_rows(_matrix(pdf[vec_col]))
        G = V @ V.T
        dropped = np.tril(G >= tau, k=-1).any(axis=1)
        return pd.DataFrame(
            {
                id_col: pdf[id_col].astype("int64"),
                "cluster_id": pdf["cluster_id"].astype("int32"),
                "kept": (~dropped).astype("int32"),
            }
        )

    return assigned.groupBy("cluster_id").applyInPandas(prune, schema=out_schema)
