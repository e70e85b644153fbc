"""Unit tests for the IVF k-means ANN operator (operators/ann.py)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from dataquality_box_spark.operators.ann import (
    assign_to_centroids,
    ivf_kmeans_centroids,
    ivf_topk,
)

DIM = 64


def _vec(axis: int, wobble: float) -> list[float]:
    v = [0.01] * DIM
    v[axis] = 1.0 + wobble
    return v


def _embeddings(spark):
    # two well-separated clusters: axis-0 heavy (ids 0-4), axis-1 heavy (5-9)
    rows = pd.DataFrame(
        {
            "vec_id": list(range(10)),
            "embedding": [_vec(0, i * 0.01) for i in range(5)]
            + [_vec(1, i * 0.01) for i in range(5)],
        }
    )
    return spark.createDataFrame(rows)


def test_kmeans_separates_clusters(spark):
    e = _embeddings(spark)
    # hash-spread seed picks ids 6 and 9 here — both in the axis-1
    # cluster; one Lloyd step still pulls a centroid to the axis-0
    # cluster via nearest-assignment majority
    cen = ivf_kmeans_centroids(e, k=2, iters=2)
    assign = assign_to_centroids(e, cen).toPandas()
    groups = assign.groupby("centroid_id")["vec_id"].apply(set).to_dict()
    assert set(map(frozenset, groups.values())) == {
        frozenset(range(5)),
        frozenset(range(5, 10)),
    }


def test_ivf_topk_probes_own_list_only(spark):
    e = _embeddings(spark)
    cen = ivf_kmeans_centroids(e, k=2, iters=2)
    top = ivf_topk(e, cen, F.col("vec_id") < 2, k=3).toPandas()
    # neighbors of axis-0 queries are all within the axis-0 list
    assert set(top["query_id"]) == {0, 1}
    assert set(top["cand_id"]) <= set(range(5))
    assert (top.groupby("query_id")["rnk"].max() == 3).all()


def test_kmeans_centroids_are_rounded(spark):
    e = _embeddings(spark)
    cen = ivf_kmeans_centroids(e, k=2, iters=1).toPandas()
    for emb in cen["embedding"]:
        assert all(abs(v - round(v, 4)) < 1e-12 for v in emb)


def test_multi_probe_improves_boundary_recall(spark):
    """A query vector between the two clusters finds its cross-cluster
    true neighbors only when it probes both lists (nprobe=2); candidates
    are never duplicated across lists."""
    rows = pd.DataFrame(
        {
            "vec_id": list(range(10)) + [99],
            "embedding": [_vec(0, i * 0.01) for i in range(5)]
            + [_vec(1, i * 0.01) for i in range(5)]
            # boundary query: equal pull toward both clusters
            + [[0.01] * DIM],
        }
    )
    e = spark.createDataFrame(rows)
    cen = ivf_kmeans_centroids(e.filter("vec_id < 10"), k=2, iters=2)
    pred = F.col("vec_id") == 99
    top1 = ivf_topk(e, cen, pred, k=10, nprobe=1).toPandas()
    top2 = ivf_topk(e, cen, pred, k=10, nprobe=2).toPandas()
    # nprobe=1 sees only one cluster's list; nprobe=2 sees both
    assert set(top1["cand_id"]).issubset(set(range(5))) or set(
        top1["cand_id"]
    ).issubset(set(range(5, 10)))
    assert len(top2) == 10  # every other vector reachable, no duplicates
    assert set(top2["cand_id"]) == set(range(10))
    assert top2["cand_id"].is_unique


def _brute_topk(pdf, query_id, k):
    import numpy as np

    q = np.array(pdf.set_index("vec_id").loc[query_id, "embedding"])
    sims = {}
    for vid, emb in zip(pdf["vec_id"], pdf["embedding"]):
        if vid == query_id:
            continue
        v = np.array(emb)
        sims[vid] = float(q @ v / (np.linalg.norm(q) * np.linalg.norm(v)))
    return {v for v, _ in sorted(sims.items(), key=lambda t: (-t[1], t[0]))[:k]}


def test_hash_seed_recall_not_worse_than_first_k(spark):
    """Adversarial id order: the first K ids all sit in ONE cluster (the
    insertion-correlated case). Hash-spread seeding must reach recall >=
    the first-K seed on boundary queries after the same iteration budget."""
    import pandas as pd

    # ids 0-3 = axis-0 cluster (the first-K trap), 4-11 split over axes 1-2
    rows = pd.DataFrame(
        {
            "vec_id": list(range(12)),
            "embedding": [_vec(0, i * 0.01) for i in range(4)]
            + [_vec(1, i * 0.01) for i in range(4)]
            + [_vec(2, i * 0.01) for i in range(4)],
        }
    )
    e = spark.createDataFrame(rows)
    pdf = rows

    def recall(seed_method):
        cen = ivf_kmeans_centroids(e, k=3, iters=1, seed_method=seed_method)
        got = ivf_topk(e, cen, F.col("vec_id") % 4 == 0, k=3).toPandas()
        hits = total = 0
        for qid in (0, 4, 8):
            truth = _brute_topk(pdf, qid, 3)
            found = set(got[got["query_id"] == qid]["cand_id"])
            hits += len(truth & found)
            total += len(truth)
        return hits / total

    r_hash, r_first = recall("hash"), recall("first")
    assert r_hash >= r_first
    assert r_hash == 1.0  # spread seeds land one per cluster here


def test_kmeans_tol_stops_early_and_matches_fixed_iters(spark):
    """tol > 0: iteration stops once centroids move < tol. Both seeds
    start in one cluster, so rounds 1-2 move centroids and round 3 is the
    zero-movement confirmation — a 10-iteration budget runs exactly 3
    update rounds and yields the same centroids as the fixed 2-iteration
    run (round 3 changes nothing)."""
    import dataquality_box_spark.operators.ann as ann

    e = _embeddings(spark)
    calls = []
    real_update = ann.update_centroids

    def counting_update(assign, emb_col="embedding"):
        calls.append(1)
        return real_update(assign, emb_col)

    fixed = {
        r["centroid_id"]: r["embedding"]
        for r in ivf_kmeans_centroids(e, k=2, iters=2, tol=0.0).collect()
    }
    ann.update_centroids, n0 = counting_update, len(calls)
    try:
        conv = {
            r["centroid_id"]: r["embedding"]
            for r in ivf_kmeans_centroids(e, k=2, iters=10, tol=1e-6).collect()
        }
    finally:
        ann.update_centroids = real_update
    assert len(calls) - n0 == 3  # 2 productive + 1 confirming, not 10
    assert conv == fixed


def _clustered_vectors(spark, n_clusters=5, per_cluster=40, dim=16, noise=0.01):
    """Seeded clusters far apart with tiny within-cluster noise."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(7)
    centers = rng.normal(0, 10.0, (n_clusters, dim))
    rows = []
    for cl in range(n_clusters):
        for j in range(per_cluster):
            v = centers[cl] + rng.normal(0, noise, dim)
            rows.append((cl * per_cluster + j, [float(x) for x in v], cl))
    pdf = pd.DataFrame(rows, columns=["vec_id", "embedding", "cluster"])
    return spark.createDataFrame(pdf), pdf


def test_pq_encode_shape_and_determinism(spark):
    """Codes are m ints < ksub per vector; two independent train+encode
    runs over the same input produce byte-identical codebooks and codes
    (everything is seeded hashing + rounded means)."""
    from dataquality_box_spark.operators.ann import pq_encode, pq_train_codebooks

    df, _ = _clustered_vectors(spark)

    def run():
        cb = pq_train_codebooks(df, m=4, ksub=8, iters=2)
        codes = pq_encode(df, cb, m=4)
        return (
            {(r["sub_id"], r["code"]): tuple(r["subvec"]) for r in cb.collect()},
            {r["vec_id"]: tuple(r["codes"]) for r in codes.collect()},
        )

    cb1, codes1 = run()
    cb2, codes2 = run()
    assert cb1 == cb2 and codes1 == codes2
    assert all(len(c) == 4 and all(0 <= x < 8 for x in c) for c in codes1.values())
    assert len(codes1) == 200


def test_pq_adc_recall_on_clustered_corpus(spark):
    """ADC search over m-byte codes must recover same-cluster neighbors:
    with tight, well-separated clusters the top-k by approximate distance
    stays inside the query's cluster (recall 1.0 vs exact L2 truth)."""
    from pyspark.sql import functions as F

    from dataquality_box_spark.operators.ann import (
        pq_adc_topk,
        pq_encode,
        pq_train_codebooks,
    )

    df, pdf = _clustered_vectors(spark)
    cb = pq_train_codebooks(df, m=4, ksub=8, iters=2)
    codes = pq_encode(df, cb, m=4)
    queries = df.filter(F.col("vec_id") % 40 == 0).select("vec_id", "embedding")

    got = pq_adc_topk(queries, codes, cb, m=4, k=5).collect()
    cluster_of = dict(zip(pdf["vec_id"], pdf["cluster"]))
    assert len(got) == 5 * 5  # 5 queries x top-5
    for r in got:
        assert cluster_of[r["cand_id"]] == cluster_of[r["query_id"]], (
            r["query_id"], r["cand_id"])
        assert r["adc_d2"] >= 0.0


def test_pq_codebook_covers_subspaces(spark):
    from dataquality_box_spark.operators.ann import pq_train_codebooks

    df, _ = _clustered_vectors(spark)
    cb = pq_train_codebooks(df, m=4, ksub=8, iters=1).collect()
    subs = {r["sub_id"] for r in cb}
    assert subs == {0, 1, 2, 3}
    # every surviving codebook entry keeps the subvector width (16/4)
    assert all(len(r["subvec"]) == 4 for r in cb)


def test_semdedup_drops_paraphrase_keeps_first(spark):
    from dataquality_box_spark.operators.dedup import semdedup

    e = _embeddings(spark)
    cen = ivf_kmeans_centroids(e, k=2, iters=2)
    out = {r["vec_id"]: r for r in semdedup(e, cen, tau=0.999).collect()}
    # one row per input vector, even pair-free ones
    assert set(out) == set(range(10))
    # within each cluster the wobbled copies are near-identical: the
    # lowest id in each cluster must survive, and every dropped vector
    # must carry a cosine above the gate
    for vid, r in out.items():
        if not r["keep"]:
            assert r["max_dup_cosine"] >= 0.999
    kept = {v for v, r in out.items() if r["keep"]}
    assert 0 in kept and 5 in kept
    # keep decisions are cluster-local: both clusters retain >= 1 vector
    by_cluster = {}
    for v, r in out.items():
        by_cluster.setdefault(r["centroid_id"], []).append(r["keep"])
    assert all(any(ks) for ks in by_cluster.values())


def _one_cluster_centroid(spark):
    return spark.createDataFrame(
        pd.DataFrame({"centroid_id": [0], "embedding": [_vec(0, 0.0)]})
    )


def test_semdedup_mega_cluster_exact_collapse(spark):
    """A mega-cluster of IDENTICAL vectors (the case no k-means split can
    separate) collapses through the exact-duplicate short-circuit: one
    representative enters the pairwise join, everything else drops at
    cosine 1.0 — no sz^2 blowup, no recursion."""
    from dataquality_box_spark.operators.ann import assign_to_centroids
    from dataquality_box_spark.operators.dedup import (
        _split_mega_clusters,
        semdedup,
    )

    n = 200
    e = spark.createDataFrame(
        pd.DataFrame({"vec_id": list(range(n)), "embedding": [_vec(0, 0.0)] * n})
    )
    cen = _one_cluster_centroid(spark)

    lists = assign_to_centroids(e, cen)
    refined = _split_mega_clusters(lists, 20, "vec_id", "embedding")
    reps = refined.filter(~F.col("__exact_dup"))
    assert reps.count() == 1  # exact collapse caught all but the min id

    out = {r["vec_id"]: r for r in semdedup(e, cen, tau=0.95, max_cluster=20).collect()}
    assert set(out) == set(range(n))  # one row per input vector
    assert out[0]["keep"] and out[0]["max_dup_cosine"] is None
    for vid in range(1, n):
        assert not out[vid]["keep"]
        assert out[vid]["max_dup_cosine"] == 1.0


def test_semdedup_mega_cluster_voronoi_split_bounds_pairs(spark):
    """A mega-cluster of DISTINCT near-identical vectors splits into
    Voronoi cells of <= max_cluster, bounding the pairwise population to
    n * max_cluster (vs n^2 unsplit); dedup decisions stay cell-local
    keep-first."""
    from dataquality_box_spark.operators.ann import assign_to_centroids
    from dataquality_box_spark.operators.dedup import (
        _split_mega_clusters,
        semdedup,
    )

    n, cap = 200, 30
    vecs = []
    for i in range(n):
        v = _vec(0, 0.0)
        v[1] = 0.01 + i * 1e-4  # distinct, tightly packed
        v[2] = 0.01 + (i % 7) * 1e-3
        vecs.append(v)
    e = spark.createDataFrame(pd.DataFrame({"vec_id": list(range(n)), "embedding": vecs}))
    cen = _one_cluster_centroid(spark)

    lists = assign_to_centroids(e, cen)
    refined = _split_mega_clusters(lists, cap, "vec_id", "embedding")
    sizes = [
        r["count"]
        for r in refined.filter(~F.col("__exact_dup")).groupBy("__cid").count().collect()
    ]
    assert sum(sizes) == n and max(sizes) <= cap
    assert sum(s * s for s in sizes) <= n * cap  # the sz^2 bound

    out = {r["vec_id"]: r for r in semdedup(e, cen, tau=0.99, max_cluster=cap).collect()}
    assert set(out) == set(range(n))
    assert all(r["centroid_id"] == 0 for r in out.values())  # coarse id preserved
    # near-identical within every cell: exactly one survivor per cell,
    # and the globally smallest id is always among them
    assert sum(1 for r in out.values() if r["keep"]) == len(sizes)
    assert out[0]["keep"]


def test_semdedup_unsplittable_raises_k_scaling(spark):
    """Depth exhaustion raises loudly, naming SemDeDup's K-scaling
    regime, instead of quietly running an oversized pairwise join."""
    import pytest

    from dataquality_box_spark.operators.ann import assign_to_centroids
    from dataquality_box_spark.operators.dedup import _split_mega_clusters

    vecs = []
    for i in range(40):
        v = _vec(0, 0.0)
        v[1] = 0.01 + i * 1e-4
        vecs.append(v)
    e = spark.createDataFrame(pd.DataFrame({"vec_id": list(range(40)), "embedding": vecs}))
    lists = assign_to_centroids(e, _one_cluster_centroid(spark))
    with pytest.raises(ValueError, match="K-scaling"):
        _split_mega_clusters(lists, 5, "vec_id", "embedding", max_depth=0)


def test_semdedup_zero_vector_mega_cluster_completes(spark):
    """A mega-cluster of all-zero embeddings (failed-embedding rows) is
    unsplittable by Voronoi AND pointless to pair (cosine with anything
    is NULL) — the __zero exclusion routes it around both the splitter
    and the pairwise join, so the guarded path completes where it would
    otherwise raise, and every zero row keeps with NULL cosine (the same
    verdict the unguarded join path produces for them)."""
    from dataquality_box_spark.operators.ann import assign_to_centroids
    from dataquality_box_spark.operators.dedup import (
        _split_mega_clusters,
        semdedup,
    )

    n_zero, cap = 60, 10
    zeros = [[0.0] * DIM] * n_zero
    normals = [_vec(0, 0.0), _vec(0, 0.0)]  # one exact-dup pair
    e = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": list(range(n_zero + 2)),
                "embedding": zeros + normals,
            }
        )
    )
    cen = _one_cluster_centroid(spark)

    refined = _split_mega_clusters(
        assign_to_centroids(e, cen), cap, "vec_id", "embedding"
    )
    assert refined.filter(F.col("__zero")).count() == n_zero  # all marked
    # in-play (pair-join) population is bounded by cap despite the
    # unsplittable zero block
    in_play = refined.filter(~F.col("__exact_dup") & ~F.col("__zero"))
    assert in_play.count() == 1  # the exact-dup pair collapsed to one rep

    out = {
        r["vec_id"]: r
        for r in semdedup(e, cen, tau=0.95, max_cluster=cap).collect()
    }
    assert set(out) == set(range(n_zero + 2))
    for vid in range(n_zero):
        assert out[vid]["keep"] and out[vid]["max_dup_cosine"] is None
    assert out[n_zero]["keep"]  # min-id rep of the exact pair
    assert not out[n_zero + 1]["keep"]  # its exact dup drops at 1.0


def test_pq_subvectors_rejects_indivisible_m(spark):
    """ADVICE guard: dim % m != 0 raises instead of silently truncating
    the trailing coordinates out of PQ training/encoding/ADC."""
    import pytest

    from dataquality_box_spark.operators.ann import pq_subvectors

    e = _embeddings(spark)  # DIM=64
    with pytest.raises(Exception, match="not divisible"):
        pq_subvectors(e, m=5).collect()
    # dividing m still works and keeps full width
    rows = pq_subvectors(e, m=4).collect()
    assert all(len(r["subvec"]) == DIM // 4 for r in rows)
