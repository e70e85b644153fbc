"""IVF-style approximate nearest neighbor: k-means coarse quantizer.

The scale path for similarity search next to sign-LSH bucketing: K
centroids are learned with Lloyd iterations expressed as DataFrame ops —

  assign   broadcast join of K centroid rows against the embedding scan
           (narrow, map-side) + argmax cosine via row_number
  update   posexplode to (centroid, coord, val) -> per-coordinate mean
           (partial aggregation map-side) -> re-assemble the 64-dim array

so each iteration is one broadcast join + one groupBy of K*64 cells; no
driver-side math, no collect. At 10^9 vectors the cost is two narrow
passes per iteration.

Cross-engine exactness (DuckDB oracle): per-term products are rounded to
9 decimals and folded in array order; centroid means are rounded to 4
decimals, so both engines see bit-identical centroids unless a true mean
sits within float-sum noise (~1e-13) of a 0.00005 boundary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def dot_rounded(a, b):
    """Deterministic dot product: ordered fold of per-term rounded
    products (matches DuckDB list_reduce/list_transform bit-for-bit).

    The fold stays a higher-order lambda on purpose: a 64-term unrolled
    Add-chain (same float order) measured slower on every embedding
    query (neardup_ann 2.88 s -> 6.32 s, best-of-3 at sf0.1 on a
    32-core host), because each run re-compiles the large generated
    source."""
    prods = F.zip_with(
        F.transform(a, lambda x: x.cast("double")),
        F.transform(b, lambda x: x.cast("double")),
        lambda x, y: F.round(x * y, 9),
    )
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def assign_ranked(
    emb: DataFrame,
    cen: DataFrame,
    n: int = 1,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Top-n nearest centroids per vector by cosine (query norm is
    constant per row, so only the centroid norm matters for the
    ranking). Ties break by centroid_id. K centroid rows broadcast; the
    join is narrow. n=1 is the coarse-quantizer assignment; n>1 feeds
    multi-probe search."""
    c = cen.select("centroid_id", F.col("embedding").alias("__cen_e"))
    sim = dot_rounded(F.col(emb_col), F.col("__cen_e")) / F.sqrt(
        dot_rounded(F.col("__cen_e"), F.col("__cen_e"))
    )
    w = Window.partitionBy(id_col).orderBy(F.col("__sim").desc(), F.col("centroid_id"))
    return (
        emb.join(F.broadcast(c))
        .withColumn("__sim", sim)
        .withColumn("__crank", F.row_number().over(w))
        .filter(F.col("__crank") <= n)
        .select(id_col, "centroid_id", emb_col, "__crank")
    )


def assign_to_centroids(
    emb: DataFrame,
    cen: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Nearest-centroid assignment (rank-1 of assign_ranked)."""
    return assign_ranked(emb, cen, 1, id_col, emb_col).drop("__crank")


def update_centroids(assign: DataFrame, emb_col: str = "embedding") -> DataFrame:
    """Per-coordinate mean of member vectors, rounded to 4 decimals.

    posexplode -> groupBy(centroid, coord) runs with map-side partial
    aggregation; the final collect_list per centroid is only 64 elements.
    Centroids that lose all members simply vanish (same on both engines).
    """
    # explode the raw array and cast AFTER the generator (identical
    # values; avoids an interpreted transform() lambda on the
    # corpus-sized explode each Lloyd iteration)
    memb = assign.select(
        "centroid_id",
        F.posexplode(F.col(emb_col)).alias("pos", "__raw"),
    ).select("centroid_id", "pos", F.col("__raw").cast("double").alias("val"))
    percoord = memb.groupBy("centroid_id", "pos").agg(
        F.round(F.avg("val"), 4).alias("val")
    )
    return percoord.groupBy("centroid_id").agg(
        # GetArrayStructFields (codegen) instead of an interpreted
        # transform(s -> s["val"]) lambda; identical element order/values
        F.sort_array(F.collect_list(F.struct("pos", "val")))
        .getField("val")
        .alias("embedding")
    )


def seed_centroids(
    emb: DataFrame,
    k: int,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    method: str = "hash",
) -> DataFrame:
    """Deterministic K seed centroids.

    ``hash`` (default): the K vectors with the smallest md5 of their id —
    a uniform pseudo-random spread over the corpus regardless of id
    assignment order. First-K ids are typically insertion-correlated (one
    crawl shard, one time window), which clusters the seeds and wastes
    Lloyd iterations pulling them apart; hashing decorrelates them with
    zero extra passes (a TakeOrdered top-K, not a full sort, and no
    second scan like distance-weighted k-means++ sampling would need).
    ``first``: the legacy first-K-ids seed (kept for parity baselines).
    """
    if method == "first":
        seeded = emb.filter(F.col(id_col) < k)
    else:
        hk = F.md5(F.col(id_col).cast("string").cast("binary"))
        seeded = emb.orderBy(hk.asc(), F.col(id_col).asc()).limit(k)
    return seeded.select(
        F.col(id_col).alias("centroid_id"),
        F.transform(F.col(emb_col), lambda x: F.round(x.cast("double"), 4)).alias(
            "embedding"
        ),
    )


def ivf_kmeans_centroids(
    emb: DataFrame,
    k: int,
    iters: int = 2,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    tol: float = 0.0,
    seed_method: str = "hash",
) -> DataFrame:
    """K centroids after at most ``iters`` Lloyd iterations from a
    deterministic hash-spread seed (see ``seed_centroids``).

    ``tol`` > 0 enables convergence stopping: iteration ends early once no
    centroid coordinate moved by >= tol. The movement check joins two
    K-row frames and collects one scalar — a tiny aggregate per iteration,
    the same driver-side exception as the digest tables. ``tol=0`` runs
    exactly ``iters`` iterations (what the fixed-unroll SQL oracle twins
    encode)."""
    cen = seed_centroids(emb, k, id_col, emb_col, seed_method)
    for _ in range(iters):
        assign = assign_to_centroids(emb, cen, id_col, emb_col)
        new_cen = update_centroids(assign, emb_col)
        if tol > 0.0:
            # materialize the K-row centroid frame: the per-iteration
            # movement action would otherwise re-execute the ENTIRE
            # seed->assign->update lineage from scratch each round
            # (O(iters^2) full-corpus passes), and the caller's final
            # action would replay it all once more
            new_cen = new_cen.localCheckpoint(eager=True)
            movement = F.aggregate(
                F.zip_with(
                    F.col("o.embedding"),
                    F.col("n.embedding"),
                    lambda a, b: F.abs(a - b),
                ),
                F.lit(0.0),
                lambda acc, x: F.greatest(acc, x),
            )
            moved = (
                cen.alias("o")
                .join(new_cen.alias("n"), "centroid_id")
                .agg(F.max(movement).alias("m"))
                .first()["m"]
            )
            cen = new_cen
            # a vanished centroid (no members) drops out of the join; the
            # max over survivors is the honest movement bound
            if moved is None or moved < tol:
                break
        else:
            cen = new_cen
    return cen


def _l2_rounded(a, b):
    """Deterministic squared L2: ordered fold of per-term rounded squared
    differences (same rounding discipline as ``dot_rounded``)."""
    diffs = F.zip_with(
        F.transform(a, lambda x: x.cast("double")),
        F.transform(b, lambda x: x.cast("double")),
        lambda x, y: F.round((x - y) * (x - y), 9),
    )
    return F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x)


def pq_subvectors(
    emb: DataFrame, m: int, id_col: str = "vec_id", emb_col: str = "embedding"
) -> DataFrame:
    """Explode each vector into its ``m`` contiguous subvectors:
    (id, sub_id, subvec). One narrow pass; downstream PQ training runs
    ONE Lloyd loop over this frame for all subspaces jointly instead of
    m separate k-means jobs (m fewer corpus scans per iteration).

    Loud-guard: the embedding dimension must divide evenly by ``m`` —
    otherwise the trailing dim % m coordinates would be silently excluded
    from codebook training, encoding, and ADC distances. Misconfigured m
    raises per-row (no extra driver action; the check rides the same
    projection)."""
    dim = F.size(F.col(emb_col))
    sub_len = F.when((dim % m) == 0, (dim / m).cast("int")).otherwise(
        F.raise_error(
            F.concat(
                F.lit("pq_subvectors: embedding dim "),
                dim.cast("string"),
                F.lit(
                    f" is not divisible by m={m}; the trailing dim % m "
                    "coordinates would be silently dropped from PQ "
                    "training/encoding/ADC — pick m dividing the dimension"
                ),
            )
        ).cast("int")
    )
    subs = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda j: F.slice(
            F.transform(F.col(emb_col), lambda x: x.cast("double")),
            j * sub_len + 1,
            sub_len,
        ),
    )
    return emb.select(
        F.col(id_col), F.posexplode(subs).alias("sub_id", "subvec")
    )


def pq_train_codebooks(
    emb: DataFrame,
    m: int = 8,
    ksub: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Product-quantization codebooks: per-subspace k-means (L2), all m
    subspaces trained JOINTLY — assignment is one broadcast join of the
    m*ksub codebook rows against the exploded subvector frame, update is
    one per-(sub_id, code, coord) mean — so each Lloyd iteration costs
    the same two passes as plain k-means regardless of m. Seeds are the
    ksub hash-spread vectors per subspace (same decorrelation argument
    as ``seed_centroids``). Deterministic: means rounded to 4 decimals,
    ties in assignment break to the smaller code.

    Returns (sub_id, code, subvec). Storage story at 100 TB: a 64-dim
    float32 vector (256 B) encodes to m=8 codes (8 B) + one shared
    m*ksub*8-dim codebook — a 32x corpus-side reduction; IVF+PQ (encode
    residuals per inverted list) is the named composition step.
    """
    subs = pq_subvectors(emb, m, id_col, emb_col)
    hk = F.md5(F.col(id_col).cast("string").cast("binary"))
    w_seed = Window.partitionBy("sub_id").orderBy(hk.asc(), F.col(id_col).asc())
    cen = (
        subs.withColumn("__r", F.row_number().over(w_seed))
        .filter(F.col("__r") <= ksub)
        .select(
            "sub_id",
            (F.col("__r") - 1).alias("code"),
            F.transform(F.col("subvec"), lambda x: F.round(x, 4)).alias("subvec"),
        )
    )
    for _ in range(iters):
        assign = _pq_assign(subs, cen)
        cen = (
            assign.select(
                "sub_id",
                "code",
                F.posexplode(F.col("subvec")).alias("pos", "val"),
            )
            .groupBy("sub_id", "code", "pos")
            .agg(F.round(F.avg("val"), 4).alias("val"))
            .groupBy("sub_id", "code")
            .agg(
                F.sort_array(F.collect_list(F.struct("pos", "val")))
                .getField("val")
                .alias("subvec")
            )
        )
    return cen


def _pq_assign(subs: DataFrame, cen: DataFrame) -> DataFrame:
    """Nearest codebook entry per (vector, subspace): broadcast the
    m*ksub codebook rows, join on sub_id, argmin L2 (ties to the smaller
    code). Keyed window on (id, sub_id)."""
    c = cen.select("sub_id", "code", F.col("subvec").alias("__cv"))
    d2 = _l2_rounded(F.col("subvec"), F.col("__cv"))
    id_col = subs.columns[0]
    w = Window.partitionBy(id_col, "sub_id").orderBy(
        F.col("__d2").asc(), F.col("code").asc()
    )
    return (
        subs.join(F.broadcast(c), "sub_id")
        .withColumn("__d2", d2)
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .select(id_col, "sub_id", "code", "subvec")
    )


def pq_encode(
    emb: DataFrame,
    codebooks: DataFrame,
    m: int = 8,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Encode vectors to their PQ code arrays: (id, codes array<int>),
    codes ordered by sub_id. One broadcast assign + one groupBy(id)."""
    assign = _pq_assign(pq_subvectors(emb, m, id_col, emb_col), codebooks)
    return assign.groupBy(id_col).agg(
        F.sort_array(F.collect_list(F.struct("sub_id", "code")))
        .getField("code")
        .alias("codes")
    )


def pq_adc_topk(
    queries: DataFrame,
    codes: DataFrame,
    codebooks: DataFrame,
    m: int = 8,
    k: int = 3,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Asymmetric distance computation search: each query builds its
    m*ksub lookup table of exact subvector->codebook-entry distances
    (queries are few; the LUT frame broadcasts), and a candidate's
    approximate distance is the SUM of m table lookups on its codes —
    the raw corpus vectors are never touched at query time, only the
    m-byte codes. Plan: explode codes to (cand, sub_id, code), broadcast-
    join the LUT, one groupBy(query, cand) sum, top-k ascending."""
    lut = (
        pq_subvectors(queries, m, id_col, emb_col)
        .withColumnRenamed(id_col, "query_id")
        .join(
            F.broadcast(
                codebooks.select("sub_id", "code", F.col("subvec").alias("__cv"))
            ),
            "sub_id",
        )
        .select(
            "query_id",
            "sub_id",
            "code",
            _l2_rounded(F.col("subvec"), F.col("__cv")).alias("d2"),
        )
    )
    cand = codes.select(
        F.col(id_col).alias("cand_id"),
        F.posexplode(F.col("codes")).alias("sub_id", "code"),
    )
    pairs = (
        cand.join(F.broadcast(lut), ["sub_id", "code"])
        .filter(F.col("cand_id") != F.col("query_id"))
        .groupBy("query_id", "cand_id")
        .agg(F.round(F.sum("d2"), 6).alias("adc_d2"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_d2").asc(), F.col("cand_id").asc()
    )
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", F.col("rnk").cast("int").alias("rnk"), "cand_id", "adc_d2")
    )


def ivf_topk(
    emb: DataFrame,
    cen: DataFrame,
    query_pred,
    k: int = 3,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    nprobe: int = 1,
) -> DataFrame:
    """Top-k cosine neighbors probing the query's ``nprobe`` nearest
    inverted lists (candidates always live in exactly one list — their
    rank-1 assignment). nprobe is the standard IVF recall lever: a query
    near a Voronoi boundary finds neighbors that were quantized into the
    adjacent cell.

    The search join is on centroid_id, so candidate pairs shuffle within
    lists instead of the full cross join; cost scales linearly in nprobe.
    """
    # the QUERY side probes its nprobe nearest lists; the CANDIDATE side
    # keeps each vector in exactly its rank-1 list (otherwise candidates
    # would be duplicated across lists, changing the index itself)
    probes = assign_ranked(emb, cen, nprobe, id_col, emb_col)
    lists = probes.filter(F.col("__crank") == 1).drop("__crank")
    # norms are per-VECTOR, so fold them once on each side of the join —
    # folding inside the cosine would redo 2 of the 3 array folds per
    # candidate PAIR (same values either way; only the plan changes)
    q = probes.filter(query_pred).select(
        F.col(id_col).alias("query_id"),
        F.col("centroid_id").alias("__qc"),
        F.col(emb_col).alias("__qe"),
        F.sqrt(dot_rounded(F.col(emb_col), F.col(emb_col))).alias("__qn"),
    )
    c = lists.select(
        F.col(id_col).alias("cand_id"),
        F.col("centroid_id").alias("__cc"),
        F.col(emb_col).alias("__ce"),
        F.sqrt(dot_rounded(F.col(emb_col), F.col(emb_col))).alias("__cn"),
    )
    pairs = q.join(
        c, (F.col("__cc") == F.col("__qc")) & (F.col("cand_id") != F.col("query_id"))
    )
    cosine = dot_rounded(F.col("__qe"), F.col("__ce")) / (
        F.col("__qn") * F.col("__cn")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("cand_id"))
    return (
        pairs.withColumn("cosine", cosine)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "query_id",
            F.col("rnk").cast("int").alias("rnk"),
            "cand_id",
            F.round("cosine", 6).alias("cosine"),
        )
    )
