"""Similarity search over embedding columns (array<float>).

* brute_force_topk — exact cosine top-k: broadcast the query vectors, one
  narrow pass + a k-row per-query aggregation. Baseline and verifier.
* ivf_topk — IVF-style scale path: k-means-ish centroid assignment (fixed
  seeded centroids sampled from the data), search only the nprobe nearest
  cells. At 10^9+ vectors the scan prunes to nprobe/ncells of the data.

All math is JVM-side (`zip_with`/`aggregate`); no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Exact cosine top-k per query. Queries broadcast (small side); corpus
    scanned once; per-query k selected with a window — shuffle carries only
    (query_id, vec_id, sim)."""
    q = F.broadcast(queries.select(query_id_col, query_vec_col))
    joined = corpus.crossJoin(q)
    sim = _dot(F.col(vec_col), F.col(query_vec_col)) / (
        _norm(F.col(vec_col)) * _norm(F.col(query_vec_col))
    )
    scored = joined.select(
        F.col(query_id_col), F.col(id_col), F.round(sim, 4).alias("cos_sim")
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cos_sim").desc(), F.col(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def train_centroids(
    corpus: DataFrame,
    *,
    n_cells: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    iters: int = 3,
    train_fraction: float | None = None,
    max_train_rows: int = 100_000,
    seed: int = 17,
) -> list[list[float]]:
    """Deterministic k-means (Lloyd) centroids, trained on a SAMPLE.

    At 10^9+ vectors running Lloyd over the full corpus per iteration is the
    scale-killer; centroid quality converges on a small uniform sample (IVF
    training is always sample-based — Jégou et al., PQ/IVFADC). So:

    The bounded sample (≤ max_train_rows × dim floats — the cap IS the
    memory contract) is collected ONCE and Lloyd runs vectorized in numpy on
    the driver: distributing k-means over a sample that fits in one process
    would spend iters × 2 whole Spark jobs of fixed overhead to do one
    matrix multiply's worth of work (faiss trains IVF the same way —
    in-process over a sample). Seeding: the n_cells lowest
    ``xxhash64(id, seed)`` sample rows — deterministic, order-independent.
    The SEARCH path (assign_cells + ivf_topk) still covers the full corpus
    exactly and stays fully distributed."""
    import numpy as np

    sampled = corpus.select(
        F.xxhash64(F.col(id_col), F.lit(seed)).alias("_h"), F.col(vec_col)
    )
    if train_fraction is not None:
        sampled = sampled.sample(fraction=train_fraction, seed=seed)
    # the max_train_rows LOWEST hashes — a uniform, deterministic,
    # partition-layout-independent sample. orderBy+limit compiles to
    # TakeOrderedAndProject (a bounded heap per partition, no global sort);
    # a bare limit() would take a prefix of the first partitions, i.e. one
    # site/time-slice under typical ingest layouts.
    rows = sampled.orderBy("_h").limit(max_train_rows).collect()
    x = np.asarray([r[vec_col] for r in rows], dtype=np.float64)
    x = x[np.argsort(np.asarray([r["_h"] for r in rows]))]
    cents = x[:n_cells].copy()
    for _ in range(iters):
        # argmin_c |v - c|^2 = argmin_c (|c|^2 - 2 v·c); |v|^2 is constant
        d2 = (cents * cents).sum(axis=1)[None, :] - 2.0 * (x @ cents.T)
        assign = d2.argmin(axis=1)
        for c in range(len(cents)):
            members = x[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
    return [[float(v) for v in c] for c in cents]


def _cell_struct_sql(vec_col: str, ci: int, c: list[float]) -> str:
    """SQL text for one centroid's (d2, cell) struct — the n_cells × dim
    literal lattice as Column calls is thousands of py4j round trips
    (measured: driver plan-build time exceeding the query's stage time);
    one JVM-side parse per centroid instead. `repr(float)` round-trips
    bit-exactly through the SQL double parser, so values are unchanged."""
    arr = ", ".join(f"{float(x)!r}D" for x in c)
    c2 = float(sum(float(x) * float(x) for x in c))
    return (
        f"named_struct('d2', {c2!r}D - 2.0D * aggregate("
        f"zip_with({vec_col}, array({arr}), "
        f"(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"0.0D, (acc, v) -> acc + v), 'cell', {ci})"
    )


def assign_cells(
    corpus: DataFrame, centroids: list[list[float]], *, vec_col: str = "embedding"
) -> DataFrame:
    """Add `cell` = argmin centroid by L2^2 (expanded as -2·dot + |c|^2;
    |v|^2 constant per row). Literal centroid arrays — broadcast-free."""
    from seronet_data_validator_spark.operators.dedup import _ensure_parallelism

    corpus = _ensure_parallelism(corpus)
    structs = ", ".join(
        _cell_struct_sql(vec_col, ci, c) for ci, c in enumerate(centroids)
    )
    best = F.expr(f"array_min(array({structs}))")
    return corpus.withColumn("cell", best["cell"])


def ivf_topk(
    corpus_with_cells: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    *,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """IVF search: per query, rank cells by centroid distance, probe the
    nearest `nprobe` cells only. Join on cell → prunes the corpus scan to
    nprobe/n_cells; exact cosine within probed cells."""
    structs = ", ".join(
        _cell_struct_sql(query_vec_col, ci, c) for ci, c in enumerate(centroids)
    )
    probed = F.expr(
        f"explode(transform(slice(array_sort(array({structs})), 1, {nprobe}), "
        f"s -> s.cell))"
    )
    q = queries.select(query_id_col, query_vec_col, probed.alias("cell"))
    joined = corpus_with_cells.join(F.broadcast(q), "cell")
    sim = _dot(F.col(vec_col), F.col(query_vec_col)) / (
        _norm(F.col(vec_col)) * _norm(F.col(query_vec_col))
    )
    scored = joined.select(
        F.col(query_id_col), F.col(id_col), F.round(sim, 4).alias("cos_sim")
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cos_sim").desc(), F.col(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def group_centroids(
    df: DataFrame, *, group_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Per-group embedding centroids in LONG format (group, dim, mean_val):
    posexplode the vector → one partial-agg mean per (group, dim). Long
    format is the scale-friendly shape — no driver-side vector assembly,
    and the downstream distance join is a plain (group, dim) equi-join."""
    ex = df.select(F.col(group_col), F.posexplode(vec_col).alias("dim", "val"))
    return ex.groupBy(group_col, "dim").agg(F.avg("val").alias("mean_val"))


def centroid_distances(
    df: DataFrame,
    *,
    group_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Euclidean distance of every vector to ITS group's centroid — the
    embedding-quality / outlier primitive (mislabeled or degenerate vectors
    sit far from their cluster). Two shuffles total: the centroid agg and
    the per-id distance agg; the join key (group, dim) spreads each group
    over 64 dim-slots, so a dominant group does not hot-spot one reducer.
    Returns (id, group, dist rounded to 4)."""
    cent = group_centroids(df, group_col=group_col, vec_col=vec_col)
    ex = df.select(
        F.col(id_col), F.col(group_col), F.posexplode(vec_col).alias("dim", "val")
    )
    return (
        ex.join(cent, [group_col, "dim"])
        .groupBy(id_col, group_col)
        .agg(F.round(F.sqrt(F.sum((F.col("val") - F.col("mean_val")) ** 2)), 4).alias("dist"))
    )


def semantic_dedup_pairs(
    corpus: DataFrame,
    *,
    n_cells: int = 16,
    threshold: float = 0.9,
    iters: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 17,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication"): k-means the embedding space,
    compare pairs ONLY within a cluster, keep pairs with cosine >=
    ``threshold``. Semantic near-dups (paraphrases, re-encodes, crops) that
    no lexical hash catches. Returns (cell, id_a, id_b, cos_sim); feed to
    dedup.connected_components to prune.

    Scale shape: centroids train on a bounded sample (train_centroids);
    assignment is a full-corpus narrow pass (literal centroid arrays — no
    join, no shuffle). The pair stage is ONE self-equi-join on `cell`, so
    the shuffle moves each vector exactly twice and only same-cell pairs
    materialize — per-cluster all-pairs is the operator's DEFINITION, and
    the paper's contract is n_cells grows with corpus size (they use ~10^4
    clusters for 10^8 docs) keeping cluster population ~constant; the skew
    guard is raising n_cells, not a second LSH tier. Row norms are computed
    once per row BEFORE the join (N sqrt-folds, not N·pairs)."""
    # ``centroids``: externally supplied cell centers (reuse a trained set
    # across runs, or fixed literals for exact replay); default trains here.
    cents = centroids if centroids is not None else train_centroids(
        corpus, n_cells=n_cells, vec_col=vec_col, id_col=id_col, iters=iters, seed=seed
    )
    withc = assign_cells(corpus, cents, vec_col=vec_col).select(
        F.col(id_col), F.col(vec_col), F.col("cell"), _norm(F.col(vec_col)).alias("nrm")
    )
    a = withc.select(
        "cell", F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"), F.col("nrm").alias("_na")
    )
    b = withc.select(
        "cell", F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"), F.col("nrm").alias("_nb")
    )
    sim = _dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb"))
    return (
        a.join(b, "cell")
        .where(F.col("id_a") < F.col("id_b"))
        .select("cell", "id_a", "id_b", F.round(sim, 4).alias("cos_sim"))
        .where(F.col("cos_sim") >= threshold)
    )
