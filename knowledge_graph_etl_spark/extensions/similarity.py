"""Similarity search over embedding columns (``array<float>``).

* ``cosine_topk`` — brute-force exact top-k: broadcast the (small) query
  set, score every corpus row with a JVM-side ``aggregate``/``zip_with``
  dot product, per-query top-k via window ranking. At 100 TB the corpus
  side stays partition-parallel with NO shuffle until the final per-query
  k-row reduction (rank prune happens map-side via AQE).
* ``lsh_topk`` — random-hyperplane (signed projection) LSH: corpus and
  queries hash to sign-pattern buckets; only same-bucket pairs are scored.
  The scale path when the query set itself is large.
* ``ivf_topk`` — IVF-style coarse quantization: deterministic pseudo-random
  sample centroids (md5-ranked ids), centroid assignment via an
  Arrow-batched pandas UDF over a broadcast numpy matrix — one GEMM per
  batch, no shuffle, plan size independent of ``nlist``.
* ``cosine_neardup_lsh`` — LSH-prefiltered near-duplicate pairs: signed
  projections generate candidates linearly; exact cosine rescoring keeps
  only true matches. The 100 TB path for near-dup-by-embedding (the exact
  ``cosine_neardup_pairs`` is quadratic by design).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..ckpt import Checkpoints, pin


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact brute-force cosine top-k per query. The query side is
    broadcast — the corpus is never shuffled for the join."""
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec"))
    scored = c.crossJoin(F.broadcast(q)).select(
        "query_id",
        "neighbor_id",
        F.round(cosine(F.col("qvec"), F.col("cvec")), 6).alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def mine_hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    exclude_above: float = 0.95,
    min_sim: float = 0.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Hard-negative mining for embedding/retriever training: per query,
    the top-``k`` most similar corpus vectors whose cosine lies in
    ``[min_sim, exclude_above)`` — similar enough to be confusable (the
    "hard" part), but below the near-duplicate band that would poison
    training with false negatives (a positive mislabeled as negative).
    The query vector itself falls in the excluded band by construction
    (self-cosine 1.0), so no explicit self-filter is needed.

    Scale shape: identical to :func:`cosine_topk` — the bounded query
    set broadcasts, the corpus scans once with the band filter INSIDE
    the scan projection (rows outside the band never reach the window),
    and the per-query rank window sees only banded candidates. For
    corpus-scale query sets, run per query shard or swap the scoring
    scan for the IVF probe (:func:`ivf_query`) and band-filter its
    output — same semantics, index-pruned."""
    if not 0.0 <= min_sim < exclude_above <= 1.0 + 1e-9:
        raise ValueError(
            f"need 0 <= min_sim < exclude_above <= 1, got "
            f"[{min_sim}, {exclude_above})"
        )
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qvec"), F.col("cvec")), 6).alias("cosine_sim"),
        )
        .where(
            (F.col("cosine_sim") >= F.lit(float(min_sim)))
            & (F.col("cosine_sim") < F.lit(float(exclude_above)))
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def range_search(
    corpus: DataFrame,
    queries: DataFrame,
    threshold: float = 0.8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Radius (range) query: ALL corpus vectors with cosine ≥
    ``threshold`` per query — the other half of a vector store's read API
    next to top-k (:func:`cosine_topk`). Exact brute force: the query set
    broadcasts, the corpus is scanned once and never shuffled, and unlike
    top-k there is no window — the filter happens inside the scan
    projection, so the plan is a single map stage (scan → broadcast
    nested-loop → filter) with output proportional to matches, not to
    corpus × queries. At 100 TB this is the shape you want for "find
    everything similar to these N probes"; for sub-scan latency layer the
    IVF index (:func:`ivf_build` / :func:`ivf_query`) in front.

    Returns ``(query_id, neighbor_id, cosine_sim)`` — set semantics, no
    rank column."""
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec"))
    return (
        c.crossJoin(F.broadcast(q))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qvec"), F.col("cvec")), 6).alias("cosine_sim"),
        )
        .where(F.col("cosine_sim") >= float(threshold))
    )


def cosine_neardup_pairs(
    corpus: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_size: int = 1024,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine ≥
    threshold) — EXACT, via block-partitioned matrix products.

    Vectors are grouped into ``block_size``-row blocks; every block pair
    (ba ≤ bb) is scored with ONE vectorized numpy GEMM inside an
    Arrow-batched ``mapInPandas`` (~dim·bs² FLOPs per task — dense linear
    algebra is the one place numpy beats JVM expressions by orders of
    magnitude). Scale: work = (N/bs)²/2 independent tasks; each task's
    input is two ~bs·dim float blocks, so the shuffle carries each block
    N/bs times — bound it by raising ``block_size`` as N grows. For
    approximate-but-linear candidate generation use the
    :func:`lsh_topk`-style signed-projection buckets instead."""
    id_dtype = dict(corpus.dtypes)[id_col]
    if id_dtype not in ("tinyint", "smallint", "int", "bigint", "long"):
        # block assignment floors id/block_size: a non-numeric id would
        # cast to NULL and those rows would silently VANISH from an
        # operator documented as exact — fail loudly instead
        raise ValueError(
            f"cosine_neardup_pairs requires a numeric id column; {id_col!r} "
            f"is {id_dtype} (map your ids to dense integers first)"
        )
    blk = corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    blk = blk.withColumn(
        "bk", F.floor(F.col("id").cast("long") / F.lit(block_size)).cast("int")
    )
    packed = blk.groupBy("bk").agg(
        F.collect_list("id").alias("ids"),
        F.collect_list("vec").alias("vecs"),
    )
    a = packed.select(
        F.col("bk").alias("bka"), F.col("ids").alias("ids_a"), F.col("vecs").alias("vecs_a")
    )
    b = packed.select(
        F.col("bk").alias("bkb"), F.col("ids").alias("ids_b"), F.col("vecs").alias("vecs_b")
    )
    block_pairs = a.join(b, F.col("bka") <= F.col("bkb"))
    thr = float(threshold)

    def score(batches):
        for pdf in batches:
            out_a, out_b, out_s = [], [], []
            for _, row in pdf.iterrows():
                ids_a = np.asarray(row["ids_a"])
                ids_b = np.asarray(row["ids_b"])
                ma = np.asarray([np.asarray(v, dtype=np.float64) for v in row["vecs_a"]])
                mb = np.asarray([np.asarray(v, dtype=np.float64) for v in row["vecs_b"]])
                na = np.linalg.norm(ma, axis=1)
                nb = np.linalg.norm(mb, axis=1)
                sims = (ma @ mb.T) / np.outer(na, nb)
                sims = np.round(sims, 6)
                ia, ib = np.where(sims >= thr)
                keep = ids_a[ia] < ids_b[ib]
                out_a.extend(ids_a[ia][keep])
                out_b.extend(ids_b[ib][keep])
                out_s.extend(sims[ia, ib][keep])
            yield pd.DataFrame(
                {"id_a": out_a, "id_b": out_b, "cosine_sim": out_s}
            )

    return block_pairs.mapInPandas(
        score, schema="id_a long, id_b long, cosine_sim double"
    )


def _hyperplane(dim: int, seed: int) -> list[float]:
    """Deterministic pseudo-random unit-ish hyperplane from a hash mix —
    no numpy on executors, computed once on the driver."""
    import math

    vals = []
    x = seed * 2654435761 % (2**32)
    for i in range(dim):
        x = (x * 6364136223846793005 + 1442695040888963407) % (2**64)
        vals.append(((x >> 16) % 20001 - 10000) / 10000.0)
    n = math.sqrt(sum(v * v for v in vals)) or 1.0
    return [v / n for v in vals]


def _all_buckets_udf(df: DataFrame, tables: list[list[list[float]]]):
    """Arrow-batched bucketizer: one int bucket per LSH table, computed in
    numpy with the dimensions accumulated SEQUENTIALLY (``acc += v_j * p_j``
    column-wise) — the identical IEEE add/mul sequence as the Column-fold
    ``F.aggregate`` and DuckDB's ``list_dot_product``, so sign bits are
    bitwise-reproducible across all three paths (the correctness oracle
    depends on this). Replaces a 2048-literal interpreted expression tree
    with one broadcast (tables × planes × dim) matrix."""
    from pyspark.sql.types import ArrayType, IntegerType

    P = np.asarray(tables, dtype=np.float64)  # (T, planes, dim)
    bc = df.sparkSession.sparkContext.broadcast(P)

    @F.pandas_udf(ArrayType(IntegerType()))
    def buckets(vecs: pd.Series) -> pd.Series:
        Pm = bc.value
        T, nplanes, dim = Pm.shape
        V = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        if V.size == 0:
            return pd.Series([])
        if V.shape[1] != dim:
            raise ValueError(
                f"LSH hyperplanes were built for dim={dim} but embeddings "
                f"have {V.shape[1]} components — pass dim={V.shape[1]}"
            )
        out = np.zeros((len(V), T), dtype=np.int64)
        for t in range(T):
            bucket = np.zeros(len(V), dtype=np.int64)
            for i in range(nplanes):
                acc = np.zeros(len(V), dtype=np.float64)
                for j in range(dim):
                    # sequential accumulation — do NOT replace with V @ p
                    # (BLAS reorders the sum and can flip near-zero signs)
                    acc = acc + V[:, j] * Pm[t, i, j]
                bucket += (acc >= 0).astype(np.int64) << i
            out[:, t] = bucket
        return pd.Series([row.astype("int32").tolist() for row in out])

    return buckets


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    num_planes: int = 8,
    num_tables: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    broadcast_queries: bool = True,
) -> DataFrame:
    """Approximate top-k: score only candidates sharing an LSH bucket with
    the query in any of ``num_tables`` tables. Recall grows with tables;
    cost is bucket-local.

    ``broadcast_queries=True`` (default) broadcasts the bucketized query
    side — right when queries are a small probe set, the corpus is never
    shuffled. For a LARGE query set pass ``broadcast_queries=False``: both
    sides shuffle on (table, bucket), which is uniform by construction —
    the scale path when queries don't fit the broadcast threshold."""
    tables = [
        [_hyperplane(dim, t * 1000 + i) for i in range(num_planes)]
        for t in range(num_tables)
    ]
    buckets = _all_buckets_udf(corpus, tables)

    # candidates on NARROW (id, tbl, bucket) rows — a hot bucket of b docs
    # emits b² id pairs, not b² embedding pairs; vectors are joined back
    # only after pair dedup (the same pattern as cosine_neardup_lsh — at
    # scale the bucket-join shuffle must not carry vector payloads)
    def bucketize(df: DataFrame, idc: str, out_id: str) -> DataFrame:
        return df.select(
            F.col(idc).alias(out_id),
            F.posexplode(buckets(F.col(vec_col))).alias("tbl", "bucket"),
        )

    cb = bucketize(corpus, id_col, "neighbor_id")
    qb = bucketize(queries, query_id_col, "query_id")
    qside = F.broadcast(qb) if broadcast_queries else qb
    cand = (
        cb.join(qside, on=["tbl", "bucket"], how="inner")
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    qv = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec")
    )
    scored = (
        cand.join(F.broadcast(qv) if broadcast_queries else qv, "query_id")
        .join(cv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qvec"), F.col("cvec")), 6).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def sample_centroids(
    corpus: DataFrame,
    nlist: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic pseudo-random centroid sample: the ``nlist`` corpus
    rows with the smallest ``md5(id)`` — order-independent, reproducible
    across engines (the correctness oracle re-derives the same set in SQL),
    and uniformly spread regardless of id distribution. Returns
    ``(list_id, cent)`` with ``list_id`` = 0..nlist-1 in md5-rank order."""
    from pyspark.sql import Window as W

    ranked = (
        corpus.select(
            F.col(id_col).cast("string").alias("cid"), F.col(vec_col).alias("cent")
        )
        .withColumn("rk", F.md5("cid"))
        .orderBy("rk", "cid")
        .limit(nlist)
    )
    # nlist rows — the global window is a single trivial task
    w = W.orderBy("rk", "cid")
    return ranked.withColumn("list_id", F.row_number().over(w) - 1).select(
        "list_id", "cent"
    )


def kmeans_centroids(
    corpus: DataFrame,
    nlist: int,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list:
    """Lloyd-refined centroids: :func:`sample_centroids` init, then
    ``iters`` rounds of (assign → per-list elementwise mean). The quality
    path for :func:`ivf_topk` — refined centroids balance list sizes and
    raise recall at the same ``nprobe``.

    Scale shape: assignment is the broadcast-GEMM pandas UDF (no shuffle
    over the corpus); the mean is ONE aggregate shuffled on
    (list_id, position) — nlist × dim cells regardless of corpus size; the
    driver only ever holds the nlist × dim centroid matrix. Not used by
    the exact-oracle entry (float summation order makes means
    bit-nondeterministic across partitionings; the md5-sample init is the
    reproducible variant)."""
    cent_rows = sorted(
        sample_centroids(corpus, nlist, id_col, vec_col).collect(),
        key=lambda r: r["list_id"],
    )
    cents = {r["list_id"]: list(r["cent"]) for r in cent_rows}
    for _ in range(iters):
        assign1 = _nearest_lists_udf(corpus, cent_rows, vec_col, 1)
        assigned = corpus.select(
            F.element_at(assign1(F.col(vec_col)), 1).alias("list_id"),
            F.posexplode(F.col(vec_col)).alias("pos", "v"),
        )
        # mean per (list, position) computed IN SPARK (map-side partials,
        # one shuffle of nlist×dim cells); the driver receives only the
        # nlist×dim centroid matrix
        rows = (
            assigned.groupBy("list_id", "pos")
            .agg(F.avg("v").alias("m"))
            .groupBy("list_id")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .collect()
        )
        new = {r["list_id"]: [x["m"] for x in r["pm"]] for r in rows}
        # empty lists keep their previous centroid; iterate the ACTUAL
        # list ids — a corpus smaller than nlist yields fewer centroids
        cents = {i: new.get(i, c) for i, c in cents.items()}
        cent_rows = [
            {"list_id": i, "cent": cents[i]} for i in sorted(cents)
        ]
    return cent_rows


def _nearest_lists_udf(spark_df: DataFrame, cent_rows: list, vec_col: str, n: int):
    """Vectorized centroid assignment: broadcast the (nlist × dim) centroid
    matrix as numpy; one GEMM per Arrow batch. Ties after 6-decimal rounding
    break toward the lower list_id (stable argsort) — mirrored by the
    oracle's ORDER BY round(sim,6) DESC, list_id."""
    from pyspark.sql.types import ArrayType, IntegerType

    C = np.asarray([list(r["cent"]) for r in cent_rows], dtype=np.float64)
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-300)
    sc = spark_df.sparkSession.sparkContext
    bc = sc.broadcast(Cn)

    @F.pandas_udf(ArrayType(IntegerType()))
    def nearest(vecs: pd.Series) -> pd.Series:
        Cm = bc.value
        V = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        if V.size == 0:  # empty Arrow batch: norm(axis=1) would raise
            return pd.Series([])
        Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-300)
        sims = np.round(Vn @ Cm.T, 6)
        order = np.argsort(-sims, axis=1, kind="stable")[:, :n]
        return pd.Series([row.astype("int32").tolist() for row in order])

    return nearest


class IvfIndex:
    """A built IVF index: the (small) centroid rows plus the assigned
    corpus ``(neighbor_id, cvec, list_id)``. File-backed indexes are
    partitioned by ``list_id``, so a probe reads only ``nprobe`` of the
    ``nlist`` partition directories — repeated query batches skip the
    corpus re-assignment GEMM entirely (the r02 gap: every ``ivf_topk``
    call re-assigned the whole corpus)."""

    def __init__(self, cent_rows: list, assigned: DataFrame):
        self.cent_rows = cent_rows
        self.assigned = assigned


def ivf_build(
    corpus: DataFrame,
    nlist: int = 16,
    path: str | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: str = "sample",
    kmeans_iters: int = 3,
    materialize: bool = True,
) -> IvfIndex:
    """Build the IVF index: pick centroids, assign every corpus vector to
    its nearest list (broadcast-GEMM pandas UDF — shuffle-free corpus
    pass), and materialize the assignment.

    ``path``: persist as parquet **partitioned by list_id** and reopen —
    the durable index. ``path=None, materialize=True``: localCheckpoint
    (session-lifetime index for repeated probes).
    ``materialize=False``: stay lazy (one-shot use; :func:`ivf_topk`).

    ``centroids="sample"``: deterministic md5-ranked sample, reproducible
    across engines (what the exact-match oracle uses).
    ``centroids="kmeans"``: Lloyd-refined (:func:`kmeans_centroids`) —
    the quality path on clustered corpora; recall-tested rather than
    exact-matched (float means are summation-order-dependent)."""
    if centroids == "kmeans":
        cent_rows = kmeans_centroids(corpus, nlist, kmeans_iters, id_col, vec_col)
    else:
        cent_rows = sorted(
            sample_centroids(corpus, nlist, id_col, vec_col).collect(),
            key=lambda r: r["list_id"],
        )
    assign1 = _nearest_lists_udf(corpus, cent_rows, vec_col, 1)
    assigned = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        F.element_at(assign1(F.col(vec_col)), 1).alias("list_id"),
    )
    if path is not None:
        spark = corpus.sparkSession
        # shuffle on list_id before the partitioned write: each list's
        # vectors land in one task → one parquet file per list directory,
        # not tasks × nlist fragments. This is also the read-side layout a
        # probe wants: a list's rows are contiguous, so nprobe partition
        # dirs stream sequentially instead of seeking across fragments.
        assigned.repartition("list_id").write.mode("overwrite").partitionBy(
            "list_id"
        ).parquet(path + "/assigned")
        # repartition(1), NOT coalesce(1): coalesce makes a single task
        # that drains all parallelize partitions from the driver
        # sequentially (measured ~4.5 s for 16 rows); the one-file layout
        # is the same either way
        spark.createDataFrame(
            [(r["list_id"], list(r["cent"])) for r in cent_rows],
            "list_id int, cent array<float>",
        ).repartition(1).write.mode("overwrite").parquet(path + "/centroids")
        assigned = spark.read.parquet(path + "/assigned")
    elif materialize:
        assigned = pin(assigned)
    return IvfIndex(cent_rows, assigned)


def ivf_load(spark, path: str) -> IvfIndex:
    """Reopen a persisted IVF index (centroids collected to the driver —
    nlist × dim floats; the assignment stays a partitioned parquet scan)."""
    cent_rows = sorted(
        spark.read.parquet(path + "/centroids").collect(),
        key=lambda r: r["list_id"],
    )
    return IvfIndex(cent_rows, spark.read.parquet(path + "/assigned"))


def ivf_query(
    index: IvfIndex,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Probe a built IVF index: each query visits its ``nprobe`` nearest
    lists; exact cosine rescoring on the probed subset.

    The probed list ids are collected first (bounded by
    |queries| × nprobe ints) and applied as a STATIC ``isin`` filter, so a
    file-backed index scans only the probed ``list_id=`` partition
    directories — ~nprobe/nlist of the index bytes, no corpus GEMM."""
    assignN = _nearest_lists_udf(queries, index.cent_rows, vec_col, nprobe)
    # lazy checkpoint: severs the GEMM lineage (q feeds both the probed-id
    # collect and the broadcast join) while the materializing job is the
    # collect itself — no separate checkpoint job
    q = pin(
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(vec_col).alias("qvec"),
            F.explode(assignN(F.col(vec_col))).alias("list_id"),
        ),
        lazy=True,
    )
    probed = [r["list_id"] for r in q.select("list_id").distinct().collect()]
    scored = (
        index.assigned.where(F.col("list_id").isin(probed))
        .join(F.broadcast(q), "list_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qvec"), F.col("cvec")), 6).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nlist: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    centroids: str = "sample",
    kmeans_iters: int = 3,
) -> DataFrame:
    """One-shot IVF-flat approximate top-k: :func:`ivf_build` (lazy — a
    single-use assignment is streamed through the probe join, not
    materialized) + :func:`ivf_query`. For repeated query batches build
    the index once with ``ivf_build(path=...)`` and probe via
    :func:`ivf_query` — the build cost amortizes across batches."""
    idx = ivf_build(
        corpus,
        nlist=nlist,
        id_col=id_col,
        vec_col=vec_col,
        centroids=centroids,
        kmeans_iters=kmeans_iters,
        materialize=False,
    )
    return ivf_query(
        idx, queries, k=k, nprobe=nprobe, vec_col=vec_col, query_id_col=query_id_col
    )


def cosine_neardup_lsh(
    corpus: DataFrame,
    threshold: float = 0.9,
    num_planes: int = 8,
    num_tables: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """LSH-prefiltered near-duplicate pairs: linear-cost candidate
    generation (signed-projection buckets, ``num_tables`` independent
    tables) followed by EXACT cosine rescoring — every returned pair truly
    clears ``threshold``; pairs landing in no shared bucket are missed
    (recall grows with ``num_tables``). This is the 100 TB near-dup path:
    candidate count ~ sum of squared bucket sizes, never N².

    Returns (id_a, id_b, cosine_sim) with id_a < id_b — by construction a
    subset of the exact :func:`cosine_neardup_pairs` output at the same
    threshold."""
    tables = [
        [_hyperplane(dim, t * 1000 + i) for i in range(num_planes)]
        for t in range(num_tables)
    ]
    buckets = _all_buckets_udf(corpus, tables)
    # candidates on narrow (id, tbl, bucket) rows; vectors joined back after
    # pair-dedup so a bucket of b docs shuffles b² id-pairs, not b² vectors
    narrow = corpus.select(
        F.col(id_col).alias("id"),
        F.posexplode(buckets(F.col(vec_col))).alias("tbl", "bucket"),
    )
    a, b = narrow.alias("a"), narrow.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    vecs = corpus.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("v"))
    cand = (
        cand.join(vecs.withColumnRenamed("vid", "id_a").withColumnRenamed("v", "va"), "id_a")
        .join(vecs.withColumnRenamed("vid", "id_b").withColumnRenamed("v", "vb"), "id_b")
    )
    return (
        cand.withColumn("cosine_sim", F.round(cosine(F.col("va"), F.col("vb")), 6))
        .where(F.col("cosine_sim") >= threshold)
        .select("id_a", "id_b", "cosine_sim")
    )


def quantize_int8(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Symmetric per-vector int8 quantization of an embedding column — the
    4× compression step before a corpus-scale ANN index is materialized
    (scale = 127/max|x| per vector, q_i = round-half-up(x_i * scale)).

    Pure Column expressions over the vector array (one narrow map, no
    shuffle, no UDF); rounding is an explicit ``floor(x + 0.5)`` so the
    result is bit-reproducible on any engine regardless of its ``round``
    tie convention. Returns ``(id_col, scale, qvec, max_abs_err)`` —
    ``max_abs_err`` is the per-vector dequantization error, the number a
    pipeline monitors to decide whether int8 is safe for its corpus.
    Zero vectors pass through with scale 0 and an all-zero qvec."""
    v = F.col(vec_col).cast("array<double>")
    max_abs = F.array_max(F.transform(v, F.abs))
    scale = F.when(max_abs > 0, F.lit(127.0) / max_abs).otherwise(F.lit(0.0))
    q = F.transform(v, lambda x: F.floor(x * scale + F.lit(0.5)).cast("int"))
    deq_err = F.zip_with(
        v, q, lambda x, qq: F.abs(x - F.when(scale > 0, qq / scale).otherwise(F.lit(0.0)))
    )
    return df.select(
        F.col(id_col),
        F.round(scale, 6).alias("scale"),
        q.alias("qvec"),
        F.round(F.array_max(deq_err), 6).alias("max_abs_err"),
    )


def auto_nlist(n: int, target_cluster_size: int = 32) -> int:
    """The ``nlist ∝ N`` sizing rule: ``max(16, ceil(N /
    target_cluster_size))``. Keeping expected cluster size constant keeps
    the cluster-local O(Σ n_c²) pair join LINEAR in corpus size; a fixed
    nlist makes it quadratic (BASELINE §4: 14× cost blowup at 10× corpus
    with nlist frozen). Pure function of N → auto-sized runs stay exactly
    oracle-able."""
    if target_cluster_size < 1:
        raise ValueError(
            f"target_cluster_size must be >= 1, got {target_cluster_size}"
        )
    import math

    return max(16, math.ceil(n / target_cluster_size))


def semantic_dedup(
    corpus: DataFrame,
    nlist: int | None = None,
    threshold: float = 0.85,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_cluster_size: int = 32,
) -> DataFrame:
    """SemDeDup-style semantic deduplication over an embedding column
    (Abbas et al. 2023): cluster the corpus, score pairwise cosine ONLY
    within each cluster, resolve pairs ≥ ``threshold`` into transitive
    keep/drop groups. Returns one row per item:
    ``(id, cluster_rep, cluster_size, keep)`` — ``keep`` marks the
    representative (minimum id reachable through near-dup edges).

    Composition of the engine's existing verified pieces: deterministic
    md5-ranked centroids (:func:`sample_centroids` — reproducible in SQL,
    so the WHOLE pipeline is exact-oracled), broadcast-GEMM assignment
    (:func:`_nearest_lists_udf`, corpus never shuffled for assignment),
    JVM-side cosine rescoring, and :func:`..dedup.resolve_clusters`
    connected components.

    Scale posture: the cluster-local join turns O(N²) scoring into
    O(Σ n_c²) — the SemDeDup trick — and shuffles on ``list_id``.
    ``nlist`` must GROW with the corpus (n_c ≈ N/nlist bounds both the
    join fan-out and the skew of a single list key; N=100 M → nlist≈10⁵
    keeps clusters ~10³), so by DEFAULT it is sized from the data:
    ``nlist = max(16, ceil(N / target_cluster_size))`` via one cheap
    count — the fixed-nlist misuse mode (measured 14× blowup at 10×
    corpus in BASELINE §4 r03) cannot happen silently. Pass ``nlist``
    explicitly only to pin a benchmark configuration. The rule is a pure
    function of N, so results stay exactly oracle-able (the oracle knows
    N). For corpus-scale runs prefer :func:`kmeans_centroids` init via
    the same assignment path — the md5-sample default is the
    oracle-reproducible variant."""
    from .dedup import resolve_clusters

    if nlist is None:
        nlist = auto_nlist(corpus.count(), target_cluster_size)
    cent_rows = sorted(
        sample_centroids(corpus, nlist, id_col, vec_col).collect(),
        key=lambda r: r["list_id"],
    )
    nearest = _nearest_lists_udf(corpus, cent_rows, vec_col, 1)
    # norm precomputed per ROW: the pair join then evaluates only the dot
    # product — ``dot/(na*nb)`` is the IDENTICAL float expression to
    # :func:`cosine` (division by the norms' product), so factoring it out
    # of the O(Σ n_c²) hot loop changes cost (measured ~2×), not results,
    # and the DuckDB oracle still matches bit-for-bit.
    assigned = corpus.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        _norm(F.col(vec_col)).alias("nrm"),
        F.element_at(nearest(F.col(vec_col)), 1).alias("list_id"),
    )
    # three consumers (both pair-join sides + nothing else re-derives it);
    # without this the Arrow assignment UDF runs once per consumer
    ck = Checkpoints()
    assigned = ck.pin(assigned)
    a, b = assigned.alias("a"), assigned.alias("b")
    sim = F.round(
        _dot(F.col("a.vec"), F.col("b.vec")) / (F.col("a.nrm") * F.col("b.nrm")),
        6,
    )
    pairs = (
        a.join(
            b,
            (F.col("a.list_id") == F.col("b.list_id"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .withColumn("cosine_sim", sim)
        .where(F.col("cosine_sim") >= threshold)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )
    res = resolve_clusters(pairs, docs=corpus, id_col=id_col)
    ck.release(keep=res)  # the components' edge checkpoint read the pairs
    return res.withColumn("keep", F.col(id_col) == F.col("cluster_rep"))


# ---------------------------------------------------------------------------
# Product quantization (dot-product / MIPS flavor)
# ---------------------------------------------------------------------------


def pq_codebooks(
    corpus: DataFrame,
    m: int = 8,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list:
    """Deterministic PQ codebooks: ``codebooks[j][c]`` is the j-th
    subvector slice of the ``ksub`` md5-ranked sample rows
    (:func:`sample_centroids` — the same reproducible-seed trick as IVF,
    so the whole PQ pipeline is exact-oracle-able). ``m`` subspaces of
    ``dim/m`` dims each; a k-means-refined codebook can be swapped in for
    quality the same way :func:`kmeans_centroids` refines IVF."""
    rows = sorted(
        sample_centroids(corpus, ksub, id_col, vec_col).collect(),
        key=lambda r: r["list_id"],
    )
    if not rows:
        raise ValueError("pq_codebooks: empty corpus")
    dim = len(rows[0]["cent"])
    if dim % m != 0:
        raise ValueError(f"embedding dim {dim} is not divisible by m={m}")
    sub = dim // m
    return [
        [list(r["cent"][j * sub : (j + 1) * sub]) for r in rows]
        for j in range(m)
    ]


def _pq_encode_udf(spark_df: DataFrame, codebooks: list):
    """Arrow-batched PQ encoding: per subspace one (batch × ksub) GEMM
    against the broadcast codebook; code = argmin squared L2 distance
    (reconstruction error — the standard PQ assignment; an argmax-dot
    assignment is magnitude-blind and mis-codes near-zero subvectors onto
    far-away codes, measured as recall loss). The distance is expanded as
    ``|v|² − 2 v·c + |c|²`` so the oracle can evaluate the IDENTICAL
    formula; ties after 6-decimal rounding break toward the lower code id
    (stable argsort) — mirrored by ``ORDER BY round(d2,6), code_id``."""
    from pyspark.sql.types import ArrayType, IntegerType

    C = [np.asarray(cb, dtype=np.float64) for cb in codebooks]
    sc = spark_df.sparkSession.sparkContext
    bc = sc.broadcast(C)

    @F.pandas_udf(ArrayType(IntegerType()))
    def enc(vecs: pd.Series) -> pd.Series:
        Cs = bc.value
        msub = Cs[0].shape[1]
        V = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        if V.size == 0:
            return pd.Series([])
        out = np.empty((len(V), len(Cs)), dtype=np.int32)
        for j, Cj in enumerate(Cs):
            Vj = V[:, j * msub : (j + 1) * msub]
            d2 = (
                (Vj * Vj).sum(axis=1, keepdims=True)
                - 2.0 * (Vj @ Cj.T)
                + (Cj * Cj).sum(axis=1)[None, :]
            )
            d2 = np.round(d2, 6)
            out[:, j] = np.argsort(d2, axis=1, kind="stable")[:, 0]
        return pd.Series([r.tolist() for r in out])

    return enc


def pq_encode(
    corpus: DataFrame,
    codebooks: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Corpus → ``(id, codes array<int>)``: m bytes-ish per vector instead
    of dim floats — the ~``dim*4/m``× compression that makes a 100 TB
    embedding corpus scannable from memory. One Arrow pass, no shuffle."""
    enc = _pq_encode_udf(corpus, codebooks)
    return corpus.select(
        F.col(id_col).alias("id"), enc(F.col(vec_col)).alias("codes")
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    m: int = 8,
    ksub: int = 16,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """PQ/ADC approximate top-k by inner product: encode the corpus once
    (:func:`pq_encode`), build one lookup table per query
    (``lut[j][c] = <q_j, code_jc>``), then score every corpus item with m
    array lookups + an integer sum — no floats touch the corpus-sized
    loop.

    Scale design: the corpus is scanned exactly once carrying only
    ``(id, m×int codes)``; queries (with their LUTs) broadcast, so there
    is NO shuffle of the corpus and no per-pair O(dim) work — per
    candidate cost is O(m). Partials are quantized to 1e-4 integers so
    the ADC sum is ORDER-INDEPENDENT (bit-reproducible across partitions
    and engines — a float sum would not be); ranking ties break on
    neighbor id. Returns (query_id, neighbor_id, score_q, rank) where
    ``score_q`` is the quantized approximate inner product ×10⁴."""
    codebooks = pq_codebooks(corpus, m, ksub, id_col, vec_col)
    sub = len(codebooks[0][0])
    codes = pq_encode(corpus, codebooks, id_col, vec_col).withColumnRenamed(
        "id", "neighbor_id"
    )
    # LUT per query row: array<array<bigint>> of m × ksub quantized dots —
    # built with JVM expressions over the (small) query table
    lut = F.array(
        *[
            F.array(
                *[
                    F.floor(
                        _dot(
                            F.slice(F.col(vec_col), j * sub + 1, sub),
                            F.array(*[F.lit(float(x)) for x in codebooks[j][c]]),
                        )
                        * F.lit(10000.0)
                        + F.lit(0.5)
                    ).cast("long")
                    for c in range(ksub)
                ]
            )
            for j in range(m)
        ]
    )
    q = queries.select(F.col(query_id_col), lut.alias("lut"))
    scored = codes.crossJoin(F.broadcast(q)).select(
        F.col(query_id_col),
        "neighbor_id",
        F.aggregate(
            F.zip_with(
                "codes", "lut", lambda c, l: F.element_at(l, c + F.lit(1))
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("score_q"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("score_q").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select(query_id_col, "neighbor_id", "score_q", "rank")
    )


def knn_graph(
    corpus: DataFrame,
    k: int = 5,
    nlist: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_cluster_size: int = 64,
) -> DataFrame:
    """Approximate k-nearest-neighbor GRAPH over an embedding column —
    the all-nodes ANN query that seeds semantic clustering, diversity
    sampling, and graph-based curation (e.g. SemDeDup's sibling methods):
    for EVERY corpus vector, its top-k cosine neighbors among the vectors
    sharing its IVF list. Returns ``(id, neighbor_id, cosine_sim, rank)``
    with the deterministic tie-break (sim desc 6-dp, neighbor id asc).

    Cluster-restricted search (assign every vector to its nearest of
    ``nlist`` md5-sampled centroids, score only within lists) is the
    O(Σ n_c²) SemDeDup-style scale shape, never all-pairs; ``nlist``
    auto-sizes by :func:`auto_nlist` (clusters ~``target_cluster_size``),
    so the within-list work stays linear as the corpus grows. Vectors in
    sparse lists may return fewer than k neighbors — the standard recall
    trade; raise ``target_cluster_size`` (or use multi-probe
    :func:`ivf_query`) for recall-critical uses.

    Exactly oracle-able: deterministic centroids + integer tie-breaks,
    like the rest of the ANN family."""
    from pyspark.sql import Window as W

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if nlist is None:
        nlist = auto_nlist(corpus.count(), target_cluster_size)
    cent_rows = sorted(
        sample_centroids(corpus, nlist, id_col, vec_col).collect(),
        key=lambda r: r["list_id"],
    )
    nearest = _nearest_lists_udf(corpus, cent_rows, vec_col, 1)
    # both join sides reuse one assignment
    assigned = pin(
        corpus.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("vec"),
            _norm(F.col(vec_col)).alias("nrm"),
            F.element_at(nearest(F.col(vec_col)), 1).alias("list_id"),
        )
    )
    a, b = assigned.alias("a"), assigned.alias("b")
    sim = F.round(
        _dot(F.col("a.vec"), F.col("b.vec")) / (F.col("a.nrm") * F.col("b.nrm")),
        6,
    )
    scored = (
        a.join(
            b,
            (F.col("a.list_id") == F.col("b.list_id"))
            & (F.col("a.id") != F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id"),
            F.col("b.id").alias("neighbor_id"),
            sim.alias("cosine_sim"),
        )
    )
    w = W.partitionBy("id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .withColumn("rank", F.col("rank").cast("bigint"))
    )


def beam_search_topk(
    corpus: DataFrame,
    queries: DataFrame,
    adjacency: DataFrame | str,
    k: int = 10,
    beam: int = 5,
    rounds: int = 2,
    n_entry: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Greedy best-first (beam) probe over a prebuilt k-NN graph — the
    HNSW-shaped traversal that completes the ANN family beyond IVF/PQ:
    instead of scanning IVF lists, each query starts from ``n_entry``
    deterministic entry points (smallest ``md5(id)``, the same
    pseudo-random rank :func:`sample_centroids` uses) and for ``rounds``
    iterations expands the current top-``beam`` candidates through the
    graph's out-edges, exactly re-scoring every newly visited node
    against the query. Returns ``(query_id, neighbor_id, cosine_sim,
    rank)`` — the top-``k`` of ALL visited nodes; the query's own id is
    never a candidate.

    Scale shape: the corpus is touched only by id-equi-joins on the
    visited set, which is |Q|·(n_entry + rounds·beam·degree) rows —
    bounded and tiny relative to the corpus. ``adjacency`` is either a
    ``(id, neighbor_id)`` DataFrame (rebuilt lineage, checkpointed once)
    or the NAME of a PERSISTED managed table bucketed on ``id``
    (``layout.write_bucketed`` — the steady-state index shape): in table
    mode each round collects the current beam's candidate ids (bounded:
    ≤ |Q|·beam rows by construction) and pushes them down as an IN
    filter, so the expansion is a bucket-PRUNED point lookup
    (``SelectedBucketsCount`` < total in the scan, plan-pinned) — the
    adjacency store is probed, never rescanned, and never shuffled (it
    paid its one shuffle at index-build time). The query side
    broadcasts; no GEMM, no full-corpus scoring pass — per-query cost
    is O(visited·dim), the whole point of graph ANN at 100 TB. Exactly
    oracle-able: fixed rounds, deterministic entry points, 6-dp rounded
    cosine, ties broken on neighbor id (unrolled-CTE SQL twin, like the
    graph family); table mode is result-identical to DataFrame mode
    (the IN filter only restricts to ids the equi-join would keep).
    """
    if min(k, beam, rounds, n_entry) < 1:
        raise ValueError("k, beam, rounds, n_entry must all be >= 1")
    indexed = isinstance(adjacency, str)
    cand = corpus.select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("cvec"),
        _norm(F.col(vec_col)).alias("cnrm"),
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        _norm(F.col(vec_col)).alias("qnrm"),
    )
    ck = Checkpoints()
    if indexed:
        spark = corpus.sparkSession
    else:
        # one materialization; every round's expansion re-reads it locally
        adj = ck.pin(adjacency.select("id", "neighbor_id"))
    entry = (
        corpus.select(
            F.col(id_col).cast("string").alias("cid"),
            F.col(id_col).alias("cand_id"),
        )
        .withColumn("rk", F.md5("cid"))
        .orderBy("rk", "cid")
        .limit(n_entry)
        .select("cand_id")
    )

    def _score(pairs: DataFrame) -> DataFrame:
        return (
            pairs.join(cand, "cand_id")
            .join(F.broadcast(q), "query_id")
            .select(
                "query_id",
                "cand_id",
                F.round(
                    _dot(F.col("cvec"), F.col("qvec"))
                    / (F.col("cnrm") * F.col("qnrm")),
                    6,
                ).alias("sim"),
            )
        )

    seeds = (
        q.select("query_id")
        .crossJoin(F.broadcast(entry))
        .where(F.col("cand_id") != F.col("query_id"))
    )
    visited = ck.pin(_score(seeds))
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("cand_id"))
    for r in range(rounds):
        beam_df = (
            visited.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= beam)
            .select("query_id", "cand_id")
        )
        if indexed:
            # bounded collect (≤ |Q|·beam ids): the literal IN list is
            # what lets Spark prune the bucketed adjacency scan to the
            # touched buckets — a join predicate alone cannot
            beam_ids = sorted(
                {r["cand_id"] for r in beam_df.select("cand_id").collect()}
            )
            if not beam_ids:  # nothing visited → nothing to expand
                break
            adj = (
                spark.table(adjacency)
                .where(F.col("id").isin(beam_ids))
                .select("id", "neighbor_id")
            )
        new_pairs = (
            beam_df.join(adj, beam_df["cand_id"] == adj["id"])
            .select("query_id", F.col("neighbor_id").alias("cand_id"))
            .where(F.col("cand_id") != F.col("query_id"))
            .distinct()
            .join(
                visited.select("query_id", "cand_id"),
                ["query_id", "cand_id"],
                "left_anti",
            )
        )
        visited = visited.unionByName(_score(new_pairs))
        # beam + anti-join of the NEXT round re-read `visited` 3x; the
        # checkpoint keeps each round's plan a flat local scan instead of
        # 3^rounds lineage. The LAST round's result feeds only the final
        # window — left lazy (one fewer blocking job, and the probe's
        # broadcast-join shape stays visible in the returned plan, pinned
        # in tests)
        if r < rounds - 1:
            visited = ck.pin(visited)
    out = (
        visited.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("cand_id").alias("neighbor_id"),
            F.col("sim").alias("cosine_sim"),
            "rank",
        )
    )
    ck.release(keep=out)  # superseded rounds' visited sets
    return out


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m: int = 8,
    ksub: int = 16,
    nlist: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF-PQ approximate top-k — the combined coarse-quantize + ADC
    shape production ANN indexes (FAISS ``IVFx,PQy``) actually run at
    corpus scale: vectors are routed to ``nlist`` IVF lists AND
    compressed to ``m`` PQ codes in ONE Arrow pass; a query probes only
    its ``nprobe`` nearest lists and ADC-scores the codes found there.
    Returns ``(query_id, neighbor_id, score_q, rank)`` with ``score_q``
    the 1e-4-quantized integer approximate inner product, exactly as
    :func:`pq_topk`.

    Scale shape — the multiplicative win over either half alone: PQ
    shrinks every candidate to m ints (the corpus never moves its float
    vectors), IVF shrinks the candidate SET to ~``nprobe/nlist`` of the
    corpus. The corpus side is one scan carrying ``(id, list_id, m
    codes)``; queries broadcast with their LUTs exploded per probed
    list, so the probe is a broadcast-hash join on ``list_id`` — no
    corpus shuffle, no per-pair O(dim) work. Integer partials keep the
    ADC sum order-independent (bit-reproducible cross-engine); exactly
    oracle-able like both parents (same md5-ranked sample for IVF
    centroids and PQ codebooks; round-6 cosine list routing as in
    :func:`ivf_build`, argmin-L2² PQ code assignment as in
    :func:`pq_topk`, same round-6 tie-breaks — the oracle mirrors
    both rules)."""
    if min(k, m, ksub, nlist, nprobe) < 1 or nprobe > nlist:
        raise ValueError(
            f"need k,m,ksub,nlist,nprobe >= 1 and nprobe <= nlist, got "
            f"k={k} m={m} ksub={ksub} nlist={nlist} nprobe={nprobe}"
        )
    # ONE collect serves both halves: IVF centroids and PQ codebook rows
    # are prefixes of the same md5-ranked sample (sample_centroids takes
    # the first n rows of one deterministic ordering), so collecting
    # max(nlist, ksub) rows once replaces two identical sample jobs
    all_rows = sorted(
        sample_centroids(corpus, max(nlist, ksub), id_col, vec_col).collect(),
        key=lambda r: r["list_id"],
    )
    cent_rows = all_rows[:nlist]
    pq_rows = all_rows[:ksub]
    if not pq_rows:
        raise ValueError("ivfpq_topk: empty corpus")
    dim = len(pq_rows[0]["cent"])
    if dim % m != 0:
        raise ValueError(f"embedding dim {dim} is not divisible by m={m}")
    sub = dim // m
    codebooks = [
        [list(r["cent"][j * sub : (j + 1) * sub]) for r in pq_rows]
        for j in range(m)
    ]
    nearest1 = _nearest_lists_udf(corpus, cent_rows, vec_col, 1)
    enc = _pq_encode_udf(corpus, codebooks)
    # ONE corpus pass: IVF route + PQ encode together
    coded = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.element_at(nearest1(F.col(vec_col)), 1).alias("list_id"),
        enc(F.col(vec_col)).alias("codes"),
    )
    lut = F.array(
        *[
            F.array(
                *[
                    F.floor(
                        _dot(
                            F.slice(F.col(vec_col), j * sub + 1, sub),
                            F.array(*[F.lit(float(x)) for x in codebooks[j][c]]),
                        )
                        * F.lit(10000.0)
                        + F.lit(0.5)
                    ).cast("long")
                    for c in range(ksub)
                ]
            )
            for j in range(m)
        ]
    )
    probes = _nearest_lists_udf(queries, cent_rows, vec_col, nprobe)
    q = queries.select(
        F.col(query_id_col),
        lut.alias("lut"),
        F.explode(probes(F.col(vec_col))).alias("list_id"),
    )
    scored = coded.join(F.broadcast(q), "list_id").select(
        F.col(query_id_col),
        "neighbor_id",
        F.aggregate(
            F.zip_with(
                "codes", "lut", lambda c, l: F.element_at(l, c + F.lit(1))
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("score_q"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("score_q").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select(query_id_col, "neighbor_id", "score_q", "rank")
    )


def embedding_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bench_id_col: str = "vec_id",
) -> DataFrame:
    """SEMANTIC decontamination — the embedding-space complement of the
    n-gram :func:`curation.decontaminate`: flag every corpus document
    whose embedding lies within cosine ``threshold`` of ANY benchmark
    embedding (paraphrased eval leakage that token overlap misses).
    Returns ``(id_col, max_cos, nearest_bench_id, contaminated)`` —
    ``max_cos`` is the 6-dp rounded best benchmark similarity,
    ``nearest_bench_id`` the benchmark row achieving it (ties toward the
    lower benchmark id), ``contaminated = max_cos >= threshold``.

    Scale shape: the benchmark set is small by definition (an eval
    suite), so its matrix broadcasts and the corpus is ONE Arrow-batched
    scan — a single GEMM per batch against the (bench × dim) matrix, no
    shuffle, no pairs materialized. Per-row cost is O(bench·dim)
    regardless of corpus size; the same posture as
    :func:`_nearest_lists_udf` assignment. Exactly oracle-able (round-6
    + stable ties, as the whole ANN family)."""
    from pyspark.sql.types import (
        BooleanType,
        DoubleType,
        StructField,
        StructType,
    )

    rows = sorted(
        benchmark.select(
            F.col(bench_id_col).alias("bid"), F.col(vec_col).alias("bv")
        ).collect(),
        key=lambda r: r["bid"],
    )
    if not rows:
        raise ValueError("embedding_decontaminate: empty benchmark")
    bid_type = benchmark.select(F.col(bench_id_col)).schema[0].dataType
    B = np.asarray([list(r["bv"]) for r in rows], dtype=np.float64)
    Bn = B / np.maximum(np.linalg.norm(B, axis=1, keepdims=True), 1e-300)
    bids = [r["bid"] for r in rows]
    sc = corpus.sparkSession.sparkContext
    bc = sc.broadcast((Bn, bids))
    out_t = StructType(
        [
            StructField("max_cos", DoubleType()),
            StructField("nearest_bench_id", bid_type),
            StructField("contaminated", BooleanType()),
        ]
    )

    @F.pandas_udf(out_t)
    def score(vecs: pd.Series) -> pd.DataFrame:
        Bm, ids = bc.value
        V = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        if V.size == 0:
            return pd.DataFrame(
                {"max_cos": [], "nearest_bench_id": [], "contaminated": []}
            )
        Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-300)
        sims = np.round(Vn @ Bm.T, 6)
        # stable argsort: ties break toward the lower bench id (ids sorted)
        best = np.argsort(-sims, axis=1, kind="stable")[:, 0]
        mc = sims[np.arange(len(V)), best]
        return pd.DataFrame(
            {
                "max_cos": mc,
                "nearest_bench_id": [ids[i] for i in best],
                "contaminated": mc >= threshold,
            }
        )

    s = score(F.col(vec_col)).alias("s")
    return corpus.select(F.col(id_col), s).select(
        id_col, "s.max_cos", "s.nearest_bench_id", "s.contaminated"
    )


def ivf_append(
    spark,
    path: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> IvfIndex:
    """Admit new vectors into a PERSISTED IVF index — the ANN twin of
    :func:`dedup.append_to_dedup_index`'s admission cycle: assign each
    new vector to its nearest EXISTING centroid (the index's geometry is
    frozen at build time, as in every production IVF service; re-train
    by rebuilding) and append the rows into the same
    ``list_id``-partitioned parquet layout, so later probes read old and
    new rows alike through the static partition filter. Returns the
    reopened index.

    Scale shape: one broadcast-GEMM Arrow pass over the (batch-sized)
    new rows + a partitioned append — the corpus already in the index is
    never read or moved. The repartition-on-list_id before the write
    keeps one file per touched list per append (probe-side layout);
    periodic :func:`layout.compact_files` absorbs long append chains."""
    cent_rows = sorted(
        spark.read.parquet(path + "/centroids").collect(),
        key=lambda r: r["list_id"],
    )
    assign1 = _nearest_lists_udf(new_vectors, cent_rows, vec_col, 1)
    assigned = new_vectors.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        F.element_at(assign1(F.col(vec_col)), 1).alias("list_id"),
    )
    assigned.repartition("list_id").write.mode("append").partitionBy(
        "list_id"
    ).parquet(path + "/assigned")
    return IvfIndex(cent_rows, spark.read.parquet(path + "/assigned"))


def recall_at_k(
    approx: DataFrame,
    exact: DataFrame,
    k: int = 10,
    query_id_col: str = "query_id",
    neighbor_col: str = "neighbor_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Recall@k evaluation of an approximate ANN result against exact
    ground truth — the measurement operator every ANN deployment runs
    before trusting an index (nprobe/nlist/codebook tuning is a recall-
    vs-cost curve; without this op the curve is guesswork). Both inputs
    are ``(query_id, neighbor_id, ..., rank)`` result tables (any of the
    family: ivf/pq/ivfpq/lsh/beam vs :func:`cosine_topk`). Returns one
    row per ground-truth query: ``(query_id, n_hits, n_truth,
    recall_ppm)`` with ``recall_ppm = n_hits * 1_000_000 div n_truth``
    — integer parts-per-million, bit-exact cross-engine (no float
    division), the project's standard for oracle-able ratios.

    Scale shape: both sides are pre-filtered to rank ≤ k (≤ |Q|·k rows
    each — bounded, tiny); hit counting is ONE left join of the
    ground-truth side against the deduplicated approx side (1:at-most-1,
    so a presence flag marks hits) and ONE groupBy on query_id producing
    n_truth and n_hits together. (r13: the previous shape consumed the
    ground-truth pipeline TWICE — once for the n_truth aggregate, once
    for the left-semi hit join — re-executing the exact brute-force
    top-k, the expensive side, per consumer. The ground-truth side stays
    the spine: queries the index missed entirely still report recall 0,
    not absence.)"""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    qid, nid, rk = query_id_col, neighbor_col, rank_col
    # dropDuplicates makes the left join exactly equivalent to the left
    # semi it replaces (≤1 match per truth row, no fan-out) even if an
    # approx table ever carried a duplicate (query, neighbor) row
    a = (
        approx.where(F.col(rk) <= k)
        .select(F.col(qid).alias("query_id"), F.col(nid).alias("neighbor_id"))
        .dropDuplicates()
        .withColumn("__hit", F.lit(1))
    )
    e = exact.where(F.col(rk) <= k).select(
        F.col(qid).alias("query_id"), F.col(nid).alias("neighbor_id")
    )
    return (
        e.join(a, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("__hit").cast("bigint").alias("n_hits"),
            F.count(F.lit(1)).cast("bigint").alias("n_truth"),
        )
        .select(
            "query_id",
            "n_hits",
            "n_truth",
            F.expr("n_hits * 1000000 div n_truth").alias("recall_ppm"),
        )
    )


def embedding_comoments(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: float = 1e6,
) -> DataFrame:
    """Exact integer co-moment matrix of an embedding column — the one
    distributed pass behind covariance/correlation analysis and PCA.
    Components are quantized to micro-integers
    (``floor(x·scale + 0.5)``, the engine's standard cross-engine
    quantization), so the sums are EXACT bigints: unlike float
    summation, the result is independent of partitioning and execution
    order, bit-identical on any engine — which is what makes a
    downstream eigendecomposition (:func:`pca_from_comoments`)
    reproducible run to run.

    Returns one row per unordered dimension pair (i <= j):
    ``(i, j, n, sum_i, sum_j, sum_ij)`` — d(d+1)/2 rows. Covariance
    follows as ``(sum_ij/n − sum_i·sum_j/n²) / scale²``.

    Scale shape: posexplode to (id, i, q_i), self-join on the vector id
    (embedding tables are id-partitioned; the join fans out exactly the
    n·d(d+1)/2 products a covariance must compute), then ONE
    map-combinable aggregate onto d(d+1)/2 keys. No driver collect, no
    d×d matrix on any single executor until the final tiny result."""
    q = emb.select(
        F.col(id_col).alias("vid"),
        F.posexplode(
            F.transform(
                F.col(vec_col),
                lambda x: F.floor(x.cast("double") * scale + F.lit(0.5)).cast(
                    "bigint"
                ),
            )
        ).alias("i", "qi"),
    )
    a = q.alias("a")
    b = q.select(
        F.col("vid"), F.col("i").alias("j"), F.col("qi").alias("qj")
    ).alias("b")
    pairs = a.join(b, (F.col("a.vid") == F.col("b.vid")) & (F.col("a.i") <= F.col("b.j")))
    return (
        pairs.groupBy(F.col("a.i").alias("i"), F.col("b.j").alias("j"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("a.qi").cast("bigint").alias("sum_i"),
            F.sum("b.qj").cast("bigint").alias("sum_j"),
            F.sum(F.col("a.qi") * F.col("b.qj")).cast("bigint").alias("sum_ij"),
        )
    )


def pca_from_comoments(
    comoments_rows: list,
    k: int,
    scale: float = 1e6,
):
    """Principal components from an exact co-moment table (driver-side:
    the d×d eigenproblem is trivially small — the DATA pass is the
    distributed part, :func:`embedding_comoments`). Deterministic end to
    end: the co-moments are exact integers, so eigh sees bit-identical
    input every run; component sign is fixed by the convention that each
    component's largest-|loading| entry is positive.

    Returns ``(components, explained_var)``: components is a (k, d)
    numpy array of orthonormal rows, eigenvalue-descending."""
    rows = {(r["i"], r["j"]): r for r in comoments_rows}
    d = max(j for (_, j) in rows) + 1
    n = next(iter(rows.values()))["n"]
    cov = np.zeros((d, d))
    for (i, j), r in rows.items():
        c = (r["sum_ij"] / n - (r["sum_i"] / n) * (r["sum_j"] / n)) / (
            scale * scale
        )
        cov[i, j] = cov[j, i] = c
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:k]
    comp = vecs[:, order].T
    for r in range(comp.shape[0]):
        m = np.argmax(np.abs(comp[r]))
        if comp[r, m] < 0:
            comp[r] = -comp[r]
    return comp, vals[order]


def project_embeddings(
    emb: DataFrame,
    components,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Project embeddings onto PCA components — a pure JVM expression
    per component (``aggregate(zip_with(vec, lit(comp), *), +)``), no
    UDF, no shuffle: the projection is map-only and pipelines into
    whatever consumes it (ANN indexing over reduced dims, whitening,
    visualization exports)."""
    cols = [F.col(id_col)]
    for r, comp in enumerate(components):
        lit_arr = F.array(*[F.lit(float(c)) for c in comp])
        dot = F.aggregate(
            F.zip_with(
                F.col(vec_col).cast("array<double>"),
                lit_arr,
                lambda x, y: x * y,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        cols.append(dot.alias(f"pc{r}"))
    return emb.select(*cols)


def kcenter_select(
    emb: DataFrame,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: float = 1e3,
) -> DataFrame:
    """Greedy k-center coreset selection (Gonzalez' 2-approximation, the
    "k-Center Greedy" of Sener & Savarese ICLR'18): pick the corpus
    point farthest from the selected set, k times — the diversity-
    maximizing selection used to build coresets / eval slices that COVER
    an embedding space, where uniform sampling oversamples dense blobs.

    Determinism: vectors are micro-quantized (``floor(x·scale + 0.5)``)
    so squared L2 distances are EXACT integers; the argmax ties break on
    the vector id; the seed is the minimum id. Every run — and a SQL
    oracle unrolling the same k steps — selects the identical set.

    Scale shape: the selected set lives on the driver (k vectors — the
    algorithm's own working set, not corpus state); each of the k-1
    rounds is ONE map-only pass computing distance to the NEW center
    fused with the running min (a `least`), then a 1-row argmax — no
    pairwise matrix, no shuffle except the singleton aggregate. Lineage
    is severed with a lazy localCheckpoint every few rounds (the
    iterative-loop pattern of graph.py). Cost: O(k·n·d) — what k-center
    costs anywhere.

    Returns ``(rank, vec_id, dmin_q)``: selection order and the exact
    quantized squared distance to the previously-selected set at pick
    time (the seed reports 0). ``2·rank``-th root of max dmin_q bounds
    the corpus covering radius."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    q = emb.select(
        F.col(id_col).alias("id"),
        F.transform(
            F.col(vec_col),
            lambda x: F.floor(x.cast("double") * scale + F.lit(0.5)).cast(
                "bigint"
            ),
        ).alias("qv"),
    )

    def dist_to(center_q: list) -> Column:
        lit_arr = F.array(*[F.lit(int(c)) for c in center_q])
        return F.aggregate(
            F.zip_with(F.col("qv"), lit_arr, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        )

    seed = q.orderBy("id").limit(1).collect()[0]
    picked = [(0, seed["id"], 0)]
    ck = Checkpoints()
    state = q.where(F.col("id") != seed["id"]).withColumn(
        "dmin", dist_to(seed["qv"])
    )
    for r in range(1, k):
        top = state.orderBy(F.col("dmin").desc(), F.col("id")).limit(1).collect()
        if not top:
            break
        row = top[0]
        picked.append((r, row["id"], int(row["dmin"])))
        if r == k - 1:
            break
        # state carries qv, so the argmax row IS the new center — one
        # singleton collect per round, not two
        state = state.where(F.col("id") != row["id"]).withColumn(
            "dmin", F.least(F.col("dmin"), dist_to(row["qv"]))
        )
        if r % 4 == 0:
            state = ck.pin(state, lazy=True)
    ck.release()
    return emb.sparkSession.createDataFrame(
        picked, "rank int, vec_id bigint, dmin_q bigint"
    )


def matryoshka_recall(
    corpus: DataFrame,
    queries: DataFrame,
    dims: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Dimension-truncation recall curve (the Matryoshka-representation
    question: how much ANN quality survives keeping only the first d
    components?): for each d in ``dims``, cosine top-k on the d-prefix
    of every vector, scored as recall@k against the FULL-dimension
    top-k. The answer decides how many dims the index stores — at 100 TB
    of vectors, halving d halves the index, the GEMM, and the shuffle.

    One pass: the corpus×queries score is computed per (pair, dim) by
    exploding a literal dims array and slicing INSIDE the projection —
    no per-dim job, the corpus is still touched once (the ×|dims|
    fan-out happens on the already-broadcast-joined pairs). Full-dim
    top-k is the dims entry equal to the vector length, so the truth
    needs no second code path; recall is a semi-join of each dim's
    top-k against it. Ranking is rounded-6 + neighbor-id tie-broken,
    the cosine_topk standard. Returns ``(dim, n_queries, hits,
    recall_ppm)``."""
    if not dims:
        raise ValueError("dims must be non-empty")
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec")
    )
    full_d = max(dims)
    pairs = c.crossJoin(F.broadcast(q)).select(
        "neighbor_id",
        "query_id",
        "qvec",
        "cvec",
        F.explode(F.array(*[F.lit(int(d)) for d in sorted(set(dims))])).alias(
            "dim"
        ),
    )
    qs = F.expr("slice(qvec, 1, dim)")
    cs = F.expr("slice(cvec, 1, dim)")
    scored = pairs.select(
        "dim",
        "query_id",
        "neighbor_id",
        F.round(cosine(qs, cs), 6).alias("sim"),
    )
    w = Window.partitionBy("dim", "query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    topk = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("dim", "query_id", "neighbor_id")
    )
    truth = topk.where(F.col("dim") == full_d).select(
        "query_id", "neighbor_id"
    )
    hits = topk.join(truth, ["query_id", "neighbor_id"], "left_semi")
    nq = q.select("query_id").distinct().count()
    return (
        hits.groupBy("dim")
        .agg(F.count(F.lit(1)).cast("bigint").alias("hits"))
        .select(
            "dim",
            F.lit(nq).cast("bigint").alias("n_queries"),
            "hits",
            F.expr(f"hits * 1000000 div {k * nq}").cast("bigint").alias(
                "recall_ppm"
            ),
        )
        .orderBy("dim")
    )


def int8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact brute-force cosine top-k computed in int8-QUANTIZED space —
    the read path that pairs with :func:`quantize_int8`: a 4×-compressed
    corpus is only useful if retrieval quality over the quantized
    vectors is measured, and this op (fed to :func:`recall_at_k` against
    :func:`cosine_topk`) is that measurement.

    Symmetric per-vector quantization makes the per-vector scales CANCEL
    in the cosine: cos(q·s_q, c·s_c) = cos(q, c) of the dequantized
    vectors, so no dequantization happens — the score is
    ``dot_int / (sqrt(|q|²_int) · sqrt(|c|²_int))`` where ``dot_int``
    and both squared norms are EXACT bigint sums of int8 products
    (|x|≤127 ⇒ a 2⁴⁶-dim vector fits int64 — no overflow at any real
    dimensionality). Only the final divide-and-round-6 touches floats,
    the same convention as every cosine in this module, so ranking is
    bit-reproducible cross-engine. Zero vectors score 0.0 against
    everything.

    Scale shape: identical to :func:`cosine_topk` — quantization is a
    narrow map fused into the scan projection, the query side
    broadcasts, the corpus is never shuffled; the per-pair arithmetic is
    integer adds (the reason real ANN services store int8).

    Returns ``(query_id, neighbor_id, qcos_sim, rank)``.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")

    def _q(df: DataFrame, out_id: str, src_id: str) -> DataFrame:
        qd = quantize_int8(df, vec_col=vec_col, id_col=src_id)
        return qd.select(F.col(src_id).alias(out_id), F.col("qvec"))

    q = _q(queries, "query_id", query_id_col).withColumnRenamed("qvec", "qq")
    c = _q(corpus, "neighbor_id", id_col).withColumnRenamed("qvec", "cq")
    dot = F.aggregate(
        F.zip_with(
            F.col("qq"),
            F.col("cq"),
            lambda x, y: (x.cast("bigint") * y.cast("bigint")),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )

    def _n2(col: str) -> F.Column:
        return F.aggregate(
            F.col(col),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v.cast("bigint") * v.cast("bigint"),
        )

    nq2, nc2 = _n2("qq"), _n2("cq")
    sim = F.when(
        (nq2 > 0) & (nc2 > 0),
        F.round(
            dot.cast("double")
            / (F.sqrt(nq2.cast("double")) * F.sqrt(nc2.cast("double"))),
            6,
        ),
    ).otherwise(F.lit(0.0))
    scored = c.crossJoin(F.broadcast(q)).select(
        "query_id", "neighbor_id", sim.alias("qcos_sim")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("qcos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "qcos_sim", "rank")
    )


def class_separation(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Embedding-space class-separation report — the quality gate for a
    labeled embedding table before it trains a classifier head or routes
    an IVF index by label: per class, how tight is the cluster (mean
    cosine of members to their centroid) and which OTHER class centroid
    is the nearest confuser. Collapsing intra-cohesion, or a confuser
    cosine approaching it, is the standard drift alarm for re-embedding
    pipelines.

    Exactness: embeddings micro-quantize to bigints; per-class centroid
    SUMS are exact integer vectors (the mean's 1/n cancels in cosine, so
    centroids are never materialized as floats); dots and squared norms
    accumulate in decimal(38,0) — exact at ANY corpus scale, where
    bigint would overflow on the squared centroid sums and double would
    lose low bits — with ONE final divide-and-round-6 per cosine, then
    ppm quantization BEFORE the per-class integer-mean. No float ever
    accumulates, the :func:`embedding_comoments` convention.

    Scale shape: component sums are one (label, pos) aggregate — the
    n·d explode map-side-combines down to |labels|·d rows; the intra
    pass joins each vector to its class sum via a BROADCAST of the
    |labels|-row centroid table (corpus scanned once, never shuffled);
    the confuser matrix is |labels|² broadcast-side rows. Returns
    ``(label, n_vecs, intra_ppm, nearest_label, nearest_cos_ppm)``.
    """
    q = F.transform(
        F.col(vec_col).cast("array<double>"),
        lambda x: F.floor(x * F.lit(1000000.0) + F.lit(0.5)).cast("bigint"),
    )
    vecs = df.select(
        F.col(label_col).alias("label"), F.col(id_col).alias("id"), q.alias("q")
    )
    comps = (
        vecs.select("label", F.posexplode("q").alias("pos", "c"))
        .groupBy("label", "pos")
        .agg(F.sum("c").alias("s"))
    )
    cents = (
        comps.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "s"))).alias("_ps"))
        .select(
            "label",
            F.transform(F.col("_ps"), lambda e: e["s"]).alias("cent"),
        )
    )
    counts = vecs.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs")
    )
    zero_dec = F.lit(0).cast("decimal(38,0)")

    def _dec_dot(a, b) -> Column:
        # operands cast to decimal BEFORE the multiply: a bigint product
        # of two squared centroid-sum components overflows int64 long
        # before the decimal cast could save it
        return F.aggregate(
            F.zip_with(
                a,
                b,
                lambda x, y: x.cast("decimal(19,0)") * y.cast("decimal(19,0)"),
            ),
            zero_dec,
            lambda acc, v: acc + v.cast("decimal(38,0)"),
        )

    def _cos_ppm(a, b) -> Column:
        dot = _dec_dot(a, b).cast("double")
        na = F.sqrt(_dec_dot(a, a).cast("double"))
        nb = F.sqrt(_dec_dot(b, b).cast("double"))
        c = F.when(
            (na > 0) & (nb > 0), F.round(dot / (na * nb), 6)
        ).otherwise(F.lit(0.0))
        return F.floor(c * F.lit(1000000.0) + F.lit(0.5)).cast("bigint")

    intra = (
        vecs.join(F.broadcast(cents), "label")
        .select("label", _cos_ppm(F.col("q"), F.col("cent")).alias("cp"))
        .groupBy("label")
        .agg(
            F.expr("sum(cp) div count(1)").cast("bigint").alias("intra_ppm")
        )
    )
    a = cents.select(F.col("label").alias("la"), F.col("cent").alias("ca"))
    b = cents.select(F.col("label").alias("lb"), F.col("cent").alias("cb"))
    confusers = (
        a.join(F.broadcast(b), F.col("la") != F.col("lb"))
        .select(
            "la",
            "lb",
            _cos_ppm(F.col("ca"), F.col("cb")).alias("cc"),
        )
    )
    wbest = Window.partitionBy("la").orderBy(
        F.col("cc").desc(), F.col("lb").asc()
    )
    nearest = (
        confusers.withColumn("_rn", F.row_number().over(wbest))
        .where(F.col("_rn") == 1)
        .select(
            F.col("la").alias("label"),
            F.col("lb").alias("nearest_label"),
            F.col("cc").alias("nearest_cos_ppm"),
        )
    )
    return (
        counts.join(intra, "label")
        .join(nearest, "label", "left")
        .select(
            "label",
            "n_vecs",
            "intra_ppm",
            F.coalesce(F.col("nearest_label"), F.col("label")).alias(
                "nearest_label"
            ),
            F.coalesce(F.col("nearest_cos_ppm"), F.lit(1000000))
            .cast("bigint")
            .alias("nearest_cos_ppm"),
        )
        .orderBy("label")
    )


def knn_label_eval(
    df: DataFrame,
    k: int = 10,
    n_queries: int = 100,
    label_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Leave-one-out k-NN label accuracy — the classifier-free embedding
    benchmark (fastText/SentEval style): if an embedding is any good,
    a point's k nearest neighbors (excluding itself) vote its label
    correctly. Run per ingestion batch, a falling per-label accuracy is
    the earliest signal the embedding model or the upstream text
    changed; it localizes the damage to the label the confuser report
    (:func:`class_separation`) then explains.

    Determinism: the query subset is the ``n_queries`` smallest
    ``md5(id)`` rows (fixed draw); similarities are round-6 cosines
    with neighbor-id tie-break (the :func:`cosine_topk` standard); the
    majority vote breaks count ties on the SMALLER label. Returns per
    true label: ``(label, n_eval, n_correct, acc_ppm)``.

    Scale shape: the query side is a bounded broadcast (n_queries
    rows); the corpus is scanned once for the score join and never
    shuffled; vote counting shuffles ≤ n_queries·k rows.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if n_queries < 1:
        raise ValueError(f"n_queries must be >= 1, got {n_queries}")
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(label_col).alias("label"),
        F.col(vec_col).alias("vec"),
    )
    # orderBy().limit() plans as TakeOrderedAndProject — a distributed
    # per-partition top-n + driver merge, NOT the single-partition global
    # row_number() sort the naive "rank then filter" form would run
    queries = (
        base.orderBy(F.md5(F.col("id").cast("string")), F.col("id"))
        .limit(int(n_queries))
        .select(
            F.col("id").alias("qid"),
            F.col("label").alias("true_label"),
            F.col("vec").alias("qvec"),
        )
    )
    scored = base.crossJoin(F.broadcast(queries)).where(
        F.col("id") != F.col("qid")
    ).select(
        "qid",
        "true_label",
        F.col("label").alias("nlabel"),
        F.col("id").alias("nid"),
        F.round(cosine(F.col("qvec"), F.col("vec")), 6).alias("sim"),
    )
    wk = Window.partitionBy("qid").orderBy(
        F.col("sim").desc(), F.col("nid").asc()
    )
    topk = scored.withColumn("_rn", F.row_number().over(wk)).where(
        F.col("_rn") <= k
    )
    votes = topk.groupBy("qid", "true_label", "nlabel").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    wv = Window.partitionBy("qid").orderBy(
        F.col("cnt").desc(), F.col("nlabel").asc()
    )
    pred = (
        votes.withColumn("_rv", F.row_number().over(wv))
        .where(F.col("_rv") == 1)
        .select(
            "qid",
            "true_label",
            F.col("nlabel").alias("pred_label"),
        )
    )
    return (
        pred.groupBy(F.col("true_label").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_eval"),
            F.sum(
                F.when(
                    F.col("pred_label") == F.col("true_label"), F.lit(1)
                ).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("n_correct"),
        )
        .select(
            "label",
            "n_eval",
            "n_correct",
            F.expr("n_correct * 1000000 div n_eval").cast("bigint").alias(
                "acc_ppm"
            ),
        )
        .orderBy("label")
    )


def rp_project(
    df: DataFrame,
    k: int = 8,
    scale: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: str = "rp",
    dim: int | None = None,
) -> DataFrame:
    """Johnson-Lindenstrauss sign random projection of an embedding
    column to ``k`` dimensions — the dimensionality-reduction front end
    for sketching / clustering / cheap pre-filters at 100 TB (Achlioptas
    2003: a ±1 projection matrix preserves pairwise distances in
    expectation as well as Gaussian). The projection matrix is
    DERIVED, not stored: sign(i, j) = +1 iff the first hex digit of
    md5(f"{seed}-{i}-{j}") is < 8 — any engine (and the DuckDB oracle)
    reconstructs the identical matrix from the seed string alone, so
    re-projection after a schema migration is bit-reproducible.

    Exactness: inputs are quantized first — q_i = floor(v_i·scale +
    0.5) as int64 (the int8/int-quantization posture this module
    already takes for storage; float sums are order-dependent, integer
    sums are not) — so each output cell Σ_i q_i·s_ij is an EXACT
    integer no matter how partitions or engines order the sum. Output
    long-form: one row ``(id, dim, proj)`` per (vector, output dim),
    dim 0-based.

    Scale shape: pure map — an Arrow-batched pandas UDF does one
    int64 GEMM per batch against the broadcast d×k sign matrix (the
    same posture as ivf_topk's assignment GEMM); NO shuffle anywhere,
    the explode to long form is map-side. The one driver read is a
    single ``first()`` row to infer d when ``dim`` is not given."""
    import hashlib

    from pyspark.sql.types import ArrayType, LongType

    if k <= 0 or scale <= 0:
        raise ValueError("k and scale must be positive")
    if dim is None:
        row = df.select(F.size(F.col(vec_col)).alias("d")).first()
        if row is None:
            raise ValueError("cannot infer dim from an empty DataFrame")
        dim = int(row["d"])
    d = int(dim)
    signs = np.empty((d, k), dtype=np.int64)
    for i in range(d):
        for j in range(k):
            h = hashlib.md5(f"{seed}-{i}-{j}".encode()).hexdigest()
            signs[i, j] = 1 if int(h[0], 16) < 8 else -1

    sc = float(scale)

    @F.pandas_udf(ArrayType(LongType()))
    def _proj(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        m = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
        q = np.floor(m * sc + 0.5).astype(np.int64)
        p = q @ signs
        return pd.Series(list(p))

    return df.select(
        F.col(id_col).alias("id"),
        F.posexplode(_proj(F.col(vec_col))).alias("dim", "proj"),
    ).select("id", F.col("dim").cast("bigint").alias("dim"), "proj")


def centroid_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    scale: int = 1000,
) -> DataFrame:
    """Per-label embedding centroid drift between two snapshots — the
    embedding-space monitoring report for a re-embedded or re-trained
    corpus (a silently drifted encoder shifts class centroids long
    before downstream recall craters; this is the cheap tripwire that
    pairs with the ANN recall evals). Vectors are int64-quantized
    (floor(v·scale + 0.5), the module's storage posture) so per-label
    dimension sums are EXACT integers; the centroid L1 distance is the
    cross-multiplied exact numerator t = Σ_dims |sumA·nB − sumB·nA|
    reported with ``l1_milli = t·1000 div (nA·nB·scale)`` — L1 in
    milli-units of the original embedding space, one engine-exact
    division (overflow bound: t·1000 needs n·max|v|·scale ≲ 10¹⁵ —
    comfortable for any per-label population that fits a cluster).
    One row per label present in EITHER snapshot:
    ``(label, n_a, n_b, l1_num, l1_milli)``; labels missing from one
    side report the other side's count and NULL distances.

    Scale shape: each snapshot reduces map-side to (label, dim) integer
    sums via ONE explode + hash aggregate (the fact tables never
    shuffle raw vectors); the (label, dim) tables — labels × dims rows,
    corpus-size-independent — join co-partitioned, then reduce to one
    row per label."""

    def sums(df: DataFrame, side: str) -> DataFrame:
        q = F.expr(
            f"transform({vec_col}, v -> cast(floor(cast(v as double)"
            f" * {int(scale)} + 0.5) as bigint))"
        )
        return (
            df.select(F.col(label_col).alias("label"), q.alias("_q"))
            .where(F.col("label").isNotNull())
            .select("label", F.posexplode("_q").alias("dim", "_v"))
            .groupBy("label", "dim")
            .agg(
                F.sum("_v").cast("bigint").alias(f"s_{side}"),
                F.count(F.lit(1)).cast("bigint").alias(f"n_{side}"),
            )
        )
    a = sums(df_a, "a")
    b = sums(df_b, "b")
    j = a.join(b, ["label", "dim"], "full_outer")
    per = j.groupBy("label").agg(
        F.max("n_a").alias("_na"),
        F.max("n_b").alias("_nb"),
        F.sum(
            F.abs(
                F.col("s_a") * F.col("n_b") - F.col("s_b") * F.col("n_a")
            )
        )
        .cast("bigint")
        .alias("_t"),
    )
    both = F.col("_na").isNotNull() & F.col("_nb").isNotNull()
    return per.select(
        "label",
        F.coalesce("_na", F.lit(0)).cast("bigint").alias("n_a"),
        F.coalesce("_nb", F.lit(0)).cast("bigint").alias("n_b"),
        F.when(both, F.col("_t")).cast("bigint").alias("l1_num"),
        F.when(
            both,
            F.expr(f"_t * 1000 div (_na * _nb * {int(scale)})"),
        )
        .cast("bigint")
        .alias("l1_milli"),
    )
