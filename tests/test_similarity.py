"""Similarity-search tests: exact top-k ordering, self-exclusion, and the
LSH path agreeing with brute force on an unambiguous nearest neighbor."""

import pyspark.sql.functions as F
from pyspark.sql.types import ArrayType, FloatType, LongType, StructField, StructType

from streaming_feature_store_spark.operators.similarity import (
    cosine_topk,
    lsh_cosine_topk,
)

SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
    ]
)

VECS = [
    (0, [1.0, 0.0, 0.0, 0.0]),
    (1, [0.99, 0.1, 0.0, 0.0]),   # closest to 0
    (2, [0.0, 1.0, 0.0, 0.0]),
    (3, [-1.0, 0.0, 0.0, 0.0]),   # antipode of 0
]


def _emb(spark):
    return spark.createDataFrame(VECS, SCHEMA)


def test_cosine_topk_ordering(spark):
    emb = _emb(spark)
    out = (
        cosine_topk(emb, emb.filter(F.col("vec_id") == 0), k=3)
        .orderBy("rank")
        .collect()
    )
    assert [r["nbr_id"] for r in out] == [1, 2, 3]
    assert out[0]["cosine"] > 0.99
    assert out[2]["cosine"] == -1.0
    assert all(r["nbr_id"] != 0 for r in out)  # self excluded


def test_lsh_agrees_on_nearest(spark):
    emb = _emb(spark)
    q = emb.filter(F.col("vec_id") == 0)
    exact = cosine_topk(emb, q, k=1).collect()[0]
    approx = lsh_cosine_topk(emb, q, dim=4, k=1, bits=4).collect()
    # vec 1 shares vec 0's bucket under any sign-LSH (cos ≈ 0.995)
    assert approx and approx[0]["nbr_id"] == exact["nbr_id"] == 1


def test_embedding_near_dups_finds_planted_pair(spark):
    """Dedup member: a near-identical pair crosses the threshold, nothing
    else does, and the reported cosine is the exact one."""
    from streaming_feature_store_spark.operators.similarity import (
        embedding_near_dups,
    )

    rows = [
        (0, [1.0, 0.02, 0.0, 0.01]),
        (1, [0.99, 0.0, 0.01, 0.0]),  # near-dup of 0 (cos ≈ 0.9997)
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.3, 0.3, 0.9, 0.1]),
    ]
    out = embedding_near_dups(
        spark.createDataFrame(rows, SCHEMA), dim=4, threshold=0.99, bits=4
    ).collect()
    assert [(r["vec_id_a"], r["vec_id_b"]) for r in out] == [(0, 1)]
    assert out[0]["cosine"] > 0.999


def test_ivf_topk_matches_exact_on_testdata(spark):
    """IVF with nprobe=nlist degenerates to exact search (every cell is
    probed), so its top-3 must equal brute force bit-for-bit; with
    nprobe=4 of 8 cells a GENUINE near-duplicate (cosine ≈ 0.9995) must
    still be retrieved — nearly-collinear vectors share an argmax cell.
    No claim is made for background-level neighbors (cosine ~0.5): missing
    those under partial probing is the ANN trade, not a bug."""
    from streaming_feature_store_spark.operators.similarity import ivf_topk
    from streaming_feature_store_spark.sources.file import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    q = emb.filter(F.col("vec_id") < 5)
    exact = cosine_topk(emb, q, k=3).orderBy("query_id", "rank").collect()
    full = (
        ivf_topk(emb, q, dim=64, k=3, nlist=8, nprobe=8)
        .orderBy("query_id", "rank")
        .collect()
    )
    assert [tuple(r) for r in full] == [tuple(r) for r in exact]

    twin = emb.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x * 1.001).alias("embedding"),
    )
    probed = ivf_topk(
        emb.unionByName(twin), q, dim=64, k=1, nlist=8, nprobe=4
    ).collect()
    assert {r["query_id"]: r["nbr_id"] for r in probed} == {
        i: i + 1_000_000 for i in range(5)
    }


def test_assign_clusters_and_balanced_sample(spark):
    """Two well-separated groups in 2-D; seeds are the two lowest ids, so
    assignment must split the groups exactly, and the per-cluster quota
    caps each cluster independently."""
    from streaming_feature_store_spark.operators.curation import (
        cluster_balanced_sample,
    )
    from streaming_feature_store_spark.operators.similarity import assign_clusters

    vecs = spark.createDataFrame(
        [
            (0, [0.0, 0.0]),
            (1, [10.0, 10.0]),
            (2, [0.5, 0.0]),
            (3, [10.0, 10.5]),
            (4, [0.0, 0.6]),
            (5, [9.5, 10.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    got = {
        r["vec_id"]: r["cluster_id"]
        for r in assign_clusters(vecs, k=2).collect()
    }
    assert got == {0: 0, 2: 0, 4: 0, 1: 1, 3: 1, 5: 1}

    samp = cluster_balanced_sample(vecs, k=2, per_cluster=2).collect()
    by_cluster = {}
    for r in samp:
        by_cluster.setdefault(r["cluster_id"], []).append(r["vec_id"])
    assert {len(v) for v in by_cluster.values()} == {2}
    assert set(by_cluster) == {0, 1}


def test_train_centroids_and_trained_ivf(spark):
    """k-means centroids on two well-separated groups land on the group
    means, and ivf_topk with the trained centroids still returns the exact
    nearest neighbor for a probe query."""
    from streaming_feature_store_spark.operators.similarity import (
        ivf_topk,
        train_centroids,
    )

    # angular spread within each group: cosine is scale-invariant, so the
    # second component must vary with i or every group member ties at 1.0
    rows = [(i, [1.0, float(i % 7) / 10.0]) for i in range(20)]
    rows += [(100 + i, [-10.0, -10.0 - float(i % 7)]) for i in range(20)]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = train_centroids(vecs, k=2, max_iter=5)
    got = sorted(
        [r["embedding"] for r in cents.collect()], key=lambda v: v[0]
    )
    assert abs(got[0][0] + 10.0) < 0.5 and got[0][1] < -10.0
    assert abs(got[1][0] - 1.0) < 0.2 and abs(got[1][1] - 0.3) < 0.2

    q = vecs.filter(F.col("vec_id") == 0)
    out = ivf_topk(
        vecs, q, dim=2, k=1, nlist=2, nprobe=1, centroids=cents
    ).collect()
    assert out[0]["nbr_id"] == 7  # vec 7 is identical to vec 0


def test_cosine_topk_blas_matches_expression_path(spark):
    """The GEMM all-pairs kernel must agree row-for-row with the codegen
    expression path on a leave-one-out top-2 over a seeded random corpus
    (both rank on the 6-decimal-rounded cosine with id tiebreaks)."""
    import random

    from streaming_feature_store_spark.operators.similarity import (
        cosine_topk_blas,
    )

    rng = random.Random(7)
    vecs = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)
    ]
    emb = spark.createDataFrame(vecs, SCHEMA).repartition(4)
    expected = {
        (r["query_id"], r["rank"]): (r["nbr_id"], r["cosine"])
        for r in cosine_topk(emb, emb, k=2).collect()
    }
    got = {
        (r["query_id"], r["rank"]): (r["nbr_id"], r["cosine"])
        for r in cosine_topk_blas(emb, k=2).collect()
    }
    assert set(got) == set(expected)
    for key, (nbr, cos) in got.items():
        enbr, ecos = expected[key]
        assert nbr == enbr, (key, nbr, enbr)
        assert abs(cos - ecos) < 1e-9


def test_random_projection_preserves_neighbor_structure(spark):
    """JL contract: the ±1 sign projection approximately preserves
    pairwise squared distances (Achlioptas 2003). On a random corpus the
    projected/original distance ratio must concentrate around 1 and the
    distance ORDER must stay strongly correlated — the property that
    makes projecting before LSH/IVF safe when candidates are re-scored
    exactly afterwards."""
    import numpy as np

    from streaming_feature_store_spark.operators.similarity import (
        projection_signs,
        random_projection,
    )

    rng = np.random.default_rng(5)
    vecs = rng.normal(size=(30, 64)).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(30)],
        "vec_id long, embedding array<float>",
    )
    out = random_projection(df, dim=64, out_dim=16, seed=0).collect()
    proj = np.zeros((30, 16))
    for r in out:
        proj[r["vec_id"]] = r["embedding"]

    # exactness: components equal the numpy replay of the same signs
    signs = np.array(projection_signs(64, 16, seed=0))  # (16, 64)
    want = vecs.astype("float64") @ signs.T / np.sqrt(16)
    assert np.max(np.abs(proj - want)) < 1e-9

    # JL distortion: squared-distance ratios concentrated around 1
    d_orig = ((vecs[:, None, :] - vecs[None, :, :]) ** 2).sum(-1)
    d_proj = ((proj[:, None, :] - proj[None, :, :]) ** 2).sum(-1)
    iu = np.triu_indices(30, k=1)
    ratios = d_proj[iu] / d_orig[iu]
    assert 0.8 < np.median(ratios) < 1.25
    assert np.corrcoef(d_orig[iu], d_proj[iu])[0, 1] > 0.5


def test_random_projection_deterministic_across_seeds(spark):
    from streaming_feature_store_spark.operators.similarity import (
        projection_signs,
    )

    a = projection_signs(8, 4, seed=0)
    b = projection_signs(8, 4, seed=0)
    c = projection_signs(8, 4, seed=1)
    assert a == b
    assert a != c
    flat = [x for row in a for x in row]
    assert set(flat) == {1.0, -1.0}


def test_ivf_index_save_load_roundtrip(spark, tmp_path):
    """r9: persisted IVF index answers IDENTICALLY to the in-memory build
    (rank-for-rank, cosine-for-cosine) before and after reload — the
    retrieval-eval hot loop amortizes centroid pick + corpus assignment."""
    from streaming_feature_store_spark.operators.similarity import (
        ivf_topk,
        ivf_topk_persisted,
        save_ivf_index,
    )
    from streaming_feature_store_spark.sources.file import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    q = emb.filter(F.col("vec_id") < 8)
    path = str(tmp_path / "ivfidx")
    save_ivf_index(emb, path, nlist=8)
    live = (
        ivf_topk(emb, q, dim=64, k=3, nlist=8, nprobe=4)
        .orderBy("query_id", "rank")
        .collect()
    )
    loaded = (
        ivf_topk_persisted(spark, path, q, k=3, nprobe=4)
        .orderBy("query_id", "rank")
        .collect()
    )
    assert [tuple(r) for r in loaded] == [tuple(r) for r in live]
    # the cells table is physically partitioned by cell -> probe joins
    # can file-prune; sanity-check the layout exists as documented
    import os

    parts = [d for d in os.listdir(f"{path}/v=1/cells") if d.startswith("cell=")]
    assert len(parts) == 8
    # a second save is an idempotent overwrite
    save_ivf_index(emb, path, nlist=8)
    again = (
        ivf_topk_persisted(spark, path, q, k=3, nprobe=4)
        .orderBy("query_id", "rank")
        .collect()
    )
    assert [tuple(r) for r in again] == [tuple(r) for r in live]


def test_ivf_index_merge_appends_delta(spark, tmp_path):
    """r9: vectors added to a persisted IVF index are retrievable, and
    the post-merge index answers exactly like a fresh build over
    corpus ∪ delta with the SAME centroids."""
    from streaming_feature_store_spark.operators.similarity import (
        ivf_index_merge,
        ivf_topk,
        ivf_topk_persisted,
        save_ivf_index,
    )
    from streaming_feature_store_spark.sources.file import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    base = emb.filter(F.col("vec_id") % 7 != 0)
    delta = emb.filter(F.col("vec_id") % 7 == 0)
    path = str(tmp_path / "ivfidx")
    save_ivf_index(base, path, nlist=8)
    ivf_index_merge(spark, path, delta)

    q = emb.filter(F.col("vec_id") < 8)
    merged = (
        ivf_topk_persisted(spark, path, q, k=3, nprobe=4)
        .orderBy("query_id", "rank")
        .collect()
    )
    # fresh build over the union with the SAME centroid table
    cents = spark.read.parquet(f"{path}/v=1/centroids").orderBy("cell").select(
        F.col("cell").alias("vec_id"), F.col("vec").alias("embedding")
    )
    fresh = (
        ivf_topk(emb, q, dim=64, k=3, nlist=8, nprobe=4, centroids=cents)
        .orderBy("query_id", "rank")
        .collect()
    )
    assert [tuple(r) for r in merged] == [tuple(r) for r in fresh]
    # delta vectors are actually retrievable: an exact twin of a delta
    # vector must hit it at rank 1
    twin = delta.limit(1).select(
        (F.col("vec_id") + 500000).alias("vec_id"), "embedding"
    )
    hit = ivf_topk_persisted(spark, path, twin, k=1, nprobe=2).collect()
    want_id = delta.limit(1).collect()[0]["vec_id"]
    assert hit[0]["nbr_id"] == want_id and hit[0]["cosine"] == 1.0


def test_erase_from_ivf_index_surgical_rewrite(spark, tmp_path):
    """DSAR purge for the persisted ANN index: erased vectors are no
    longer retrievable, survivors answer exactly like a fresh build with
    the same centroids, and only the touched cell partitions rewrite."""
    import os

    from streaming_feature_store_spark.operators.similarity import (
        erase_from_ivf_index,
        ivf_topk,
        ivf_topk_persisted,
        save_ivf_index,
    )
    from streaming_feature_store_spark.sources.file import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    path = str(tmp_path / "ivfidx")
    save_ivf_index(emb, path, nlist=8)
    before = {
        d: sorted(os.listdir(f"{path}/v=1/cells/{d}"))
        for d in os.listdir(f"{path}/v=1/cells")
        if d.startswith("cell=")
    }
    erased = emb.filter(F.col("vec_id") % 9 == 0).select("vec_id")
    n_rewritten = erase_from_ivf_index(spark, path, erased)
    assert 0 < n_rewritten <= 8
    after = {
        d: sorted(os.listdir(f"{path}/v=1/cells/{d}"))
        for d in os.listdir(f"{path}/v=1/cells")
        if d.startswith("cell=")
    }
    untouched = [d for d in before if before[d] == after.get(d)]
    assert len(untouched) == 8 - n_rewritten  # surgical, not full rewrite
    q = emb.filter(F.col("vec_id") < 8)
    got = (
        ivf_topk_persisted(spark, path, q, k=3, nprobe=8)
        .orderBy("query_id", "rank")
        .collect()
    )
    cents = spark.read.parquet(f"{path}/v=1/centroids").orderBy("cell").select(
        F.col("cell").alias("vec_id"), F.col("vec").alias("embedding")
    )
    want = (
        ivf_topk(
            emb.filter(F.col("vec_id") % 9 != 0), q, dim=64, k=3,
            nlist=8, nprobe=8, centroids=cents,
        )
        .orderBy("query_id", "rank")
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert all(r["nbr_id"] % 9 != 0 for r in got)
