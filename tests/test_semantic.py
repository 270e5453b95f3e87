"""Semantic (k-means + SemDeDup) operator tests.

The DuckDB oracle already pins cross-engine exactness of the full
pipeline (tests/test_queries_oracle.py); these tests pin the semantics
independently: partition structure, and that the duplicate flag agrees
with a direct numpy cosine check inside each cluster.
"""

from __future__ import annotations

import numpy as np
import pytest

from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def semantic_result(spark):
    from data_lake_construction_and_querying_with_pyspark_spark.operators.semantic import (
        semantic_dedup_embeddings,
    )

    rows = semantic_dedup_embeddings(spark, SF_SMOKE).collect()
    spark.catalog.clearCache()
    return rows


def _vectors(spark):
    from data_lake_construction_and_querying_with_pyspark_spark.sources.readers import load_table

    return {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in load_table(spark, SF_SMOKE, "embeddings").collect()
    }


def test_semantic_partition_structure(spark, semantic_result):
    from data_lake_construction_and_querying_with_pyspark_spark.operators.semantic import derive_k

    vecs = _vectors(spark)
    ids = [r["vec_id"] for r in semantic_result]
    assert sorted(ids) == sorted(vecs)  # exactly one row per vector
    cells = {r["cell_id"] for r in semantic_result}
    assert cells <= set(range(derive_k(len(vecs))))
    assert len(cells) > 1  # k-means actually split the corpus


def test_semantic_dup_flag_matches_numpy_cosine(spark, semantic_result):
    """is_semantic_dup == ∃ lower-id same-cluster vector with cosine ≥ τ,
    recomputed directly in numpy from the raw embeddings. Pairs within
    1e-9 of the threshold are skipped (fold-order float divergence)."""
    from data_lake_construction_and_querying_with_pyspark_spark.operators.semantic import TAU

    vecs = _vectors(spark)
    by_cell: dict[int, list[int]] = {}
    for r in sorted(semantic_result, key=lambda r: r["vec_id"]):
        by_cell.setdefault(r["cell_id"], []).append(r["vec_id"])
    flags = {r["vec_id"]: r["is_semantic_dup"] for r in semantic_result}

    for cell, members in by_cell.items():
        for idx, i in enumerate(members):
            cosines = []
            for j in members[:idx]:
                vi, vj = vecs[i], vecs[j]
                cosines.append(
                    float(vi @ vj) / (np.linalg.norm(vi) * np.linalg.norm(vj))
                )
            if any(abs(c - TAU) < 1e-9 for c in cosines):
                continue  # boundary pair: engines may disagree in the last ulp
            expected = any(c >= TAU for c in cosines)
            assert flags[i] == expected, (i, cell, max(cosines, default=None))


def test_scaled_cosine_pairs_recover_planted_dup(spark):
    """embedding_cosine_pairs_scaled (random-hyperplane tables, the
    production-selectivity variant) must recover a planted near-
    identical pair at tau=0.9 and never plan a cartesian product."""
    import pyspark.sql.functions as F

    from data_lake_construction_and_querying_with_pyspark_spark.operators.dedup import (
        embedding_cosine_pairs_scaled,
    )
    from data_lake_construction_and_querying_with_pyspark_spark.sources.readers import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    # plant: vec_id 9001 = copy of vec 1 nudged +0.01 per dim (cos ≈ 1)
    clone = emb.filter(F.col("vec_id") == 1).select(
        F.lit(9001).cast("long").alias("vec_id"),
        F.transform("embedding", lambda x: x + F.lit(0.01)).alias("embedding"),
        "label",
    )
    planted = emb.select("vec_id", "embedding", "label").unionByName(clone)
    out = embedding_cosine_pairs_scaled(spark, planted, tau=0.9)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    pairs = {(r["vec_a"], r["vec_b"]) for r in out.collect()}
    spark.catalog.clearCache()
    assert (1, 9001) in pairs


def test_shortlist_assign_equals_flat_when_probes_cover_all_anchors(spark):
    """With nprobe ≥ m every coarse bucket is probed, so the shortlist
    contains all k centroids and the assignment must equal flat Lloyd's
    EXACTLY (fixture k=8 → m=2): the registered path's approximation is
    provably inactive at fixture scale, which is why the driver's
    sf0.01 hash check stays meaningful for the flat semantics too."""
    from data_lake_construction_and_querying_with_pyspark_spark.operators.semantic import (
        SEM_NPROBE,
        coarse_m,
        semantic_dedup,
    )
    from data_lake_construction_and_querying_with_pyspark_spark.sources.readers import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    k = 8
    assert SEM_NPROBE >= coarse_m(k)
    short = {tuple(r) for r in semantic_dedup(spark, emb, k=k).collect()}
    flat = {tuple(r) for r in semantic_dedup(spark, emb, k=k, flat_assign=True).collect()}
    spark.catalog.clearCache()
    assert short == flat


def test_shortlist_assign_recovers_planted_dups_like_flat(spark):
    """On a corpus with REAL duplicate structure (the scale probe's
    generator: uniform vectors, every 20th pair near-identical or
    exact), the shortlist assignment must recover planted duplicates
    as well as flat Lloyd's at the production threshold. k=31 → m=5
    anchors, nprobe=2: only 2/5 of the coarse buckets are probed, so
    the approximation is genuinely active. (Raw cell-id agreement vs
    flat is NOT asserted: on near-orthogonal noise the argmin is
    arbitrary among near-equal distances — measured ~35% agreement —
    and SemDeDup's output quality rides on pair recovery, not on which
    of two equidistant cells a noise vector lands in. Pair members are
    near-identical, so their anchor distances — hence probed buckets
    and final cell — coincide; both assignments split the same ~2% of
    pairs that straddle a genuine distance tie.)"""
    from scripts.scale_probe import build_embeddings
    from data_lake_construction_and_querying_with_pyspark_spark.operators.semantic import (
        SEM_NPROBE,
        coarse_m,
        derive_k,
        semantic_dedup,
    )

    n = 2000
    emb = build_embeddings(spark, n)
    k = derive_k(n)
    assert coarse_m(k) > SEM_NPROBE  # the approximation is actually active
    # ground truth: the higher-id member of every exact/near pair group
    planted = {d for d in range(n) if d % 2 == 1 and (d // 2) % 20 < 2}

    def recovered(flat):
        out = semantic_dedup(spark, emb, k=k, tau=0.95, flat_assign=flat)
        ids = {r["vec_id"] for r in out.filter("is_semantic_dup").collect()}
        spark.catalog.clearCache()
        return len(ids & planted)

    flat_rec, short_rec = recovered(True), recovered(False)
    assert flat_rec >= 0.95 * len(planted)  # the baseline itself is sane
    # measured: flat 98/100, shortlist 98/100 (different 2 missed)
    assert short_rec >= flat_rec - 1, (
        f"shortlist recovered {short_rec}, flat {flat_rec}, of {len(planted)} planted"
    )


def test_driver_bucketing_matches_distributed_subtree(spark, monkeypatch):
    """r12: shortlist_assign's driver-side anchor/bucket computation
    (_driver_anchor_buckets — pure-Python sequential folds + literal
    anchor array) must be BITWISE identical to the distributed subtree
    it replaces. Forcing the op budget to 0 disables the driver path;
    the two full semantic_dedup outputs must agree exactly, floats
    included (struct.pack comparison, the PageRank gate-test pattern).
    The seed driver gate is forced off in the distributed leg too, so
    BOTH r12 gates are covered by one equality."""
    import struct

    import data_lake_construction_and_querying_with_pyspark_spark.operators.semantic as sem
    from data_lake_construction_and_querying_with_pyspark_spark.sources.readers import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    k = sem.derive_k(emb.count())
    gated = {r["vec_id"]: (r["cell_id"], r["is_semantic_dup"])
             for r in sem.semantic_dedup(spark, emb, k=k).collect()}
    spark.catalog.clearCache()
    monkeypatch.setattr(sem, "_DRIVER_BUCKET_OPS", 0)
    monkeypatch.setattr(sem, "_SEED_COLLECT_GATE_K", 0)
    dist = {r["vec_id"]: (r["cell_id"], r["is_semantic_dup"])
            for r in sem.semantic_dedup(spark, emb, k=k).collect()}
    spark.catalog.clearCache()
    assert gated == dist and len(gated) > 0

    # and the raw d2/argmin layer: per-vector assigned cells + vsq bits
    base = sem._with_vsq(
        emb.select("vec_id", sem.F.transform("embedding", lambda x: x.cast("double")).alias("v"))
    )
    cents = sem._seed_centroids(spark, base, k)
    m = sem.coarse_m(k)
    monkeypatch.setattr(sem, "_DRIVER_BUCKET_OPS", sem._DRIVER_BUCKET_OPS or 2_000_000)
    monkeypatch.undo()
    a = {r["vec_id"]: (r["cell"], struct.pack("<d", r["vsq"]))
         for r in sem.shortlist_assign(base, cents, m).collect()}
    monkeypatch.setattr(sem, "_DRIVER_BUCKET_OPS", 0)
    b = {r["vec_id"]: (r["cell"], struct.pack("<d", r["vsq"]))
        for r in sem.shortlist_assign(base, cents, m).collect()}
    monkeypatch.undo()
    spark.catalog.clearCache()
    assert a == b


def test_kmeans_update_of_empty_centroid_table_is_empty(spark, monkeypatch):
    """Both seed paths attach driver rows, so an empty corpus gives
    dim 0 and the one wide update returns no centroids."""
    import data_lake_construction_and_querying_with_pyspark_spark.operators.semantic as sem

    base = sem._with_vsq(spark.createDataFrame([], "vec_id long, v array<double>"))
    assigned = base.select("vec_id", "v", sem.F.lit(0).alias("cell"))
    for gate in (sem._SEED_COLLECT_GATE_K, 0):
        monkeypatch.setattr(sem, "_SEED_COLLECT_GATE_K", gate)
        cents = sem._seed_centroids(spark, base, 8)
        assert sem._centroid_dim(cents) == 0
        assert sem.kmeans_update(assigned, sem._centroid_dim(cents)).collect() == []
