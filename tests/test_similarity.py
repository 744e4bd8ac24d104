"""Semantic tests for similarity search: exact knn golden on constructed
vectors, and the LSH invariant (identical vectors always collide) plus
planted-twin recall (promised in plans/similarity.py docstrings).
"""

from __future__ import annotations

import math

import pytest

from hpat_jl_spark.functions import similarity as S


@pytest.fixture(scope="module")
def vectors(spark):
    """8-dim unit-ish vectors: 0 and 1 nearly parallel, 2 orthogonal,
    3 anti-parallel; 10..29 pseudo-random noise."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),
        (1, [0.99, 0.1, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),
        (3, [-1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),
    ] + [
        (
            10 + i,
            [math.sin(i * 7 + j * 3) for j in range(8)],
        )
        for i in range(20)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_knn_exact_golden(vectors):
    q = vectors.filter("vec_id = 0")
    out = S.knn_bruteforce(q, vectors, k=2)
    got = [(r.neighbor_id, r.cosine_sim) for r in out.orderBy("rank").collect()]
    assert got[0][0] == 1  # nearly-parallel vector is rank 1
    assert got[0][1] > 0.99
    # anti-parallel vector must rank last overall (cosine -1); never in top-2
    assert 3 not in [n for n, _ in got]


def test_lsh_identical_vectors_collide(vectors):
    """A duplicated vector must land in the same bucket — LSH's defining
    invariant, independent of data distribution."""
    twins = vectors.union(vectors.selectExpr("vec_id + 1000 AS vec_id", "embedding"))
    b = S.lsh_buckets(twins, num_planes=8, dim=8)
    buckets = {r.vec_id: r.lsh_bucket for r in b.collect()}
    for vid in [0, 1, 2, 3, 10, 15, 29]:
        assert buckets[vid] == buckets[vid + 1000]


def test_lsh_arrow_buckets_bit_identical(vectors):
    """lsh_buckets_arrow (numpy int64 kernel) must equal lsh_buckets
    (codegen Column fold) exactly — same floor-quantize, same integer
    dot, same sign-pack; the kernel exists purely to skip the literal
    tree's codegen compile cost."""
    col = {r.vec_id: r.lsh_bucket
           for r in S.lsh_buckets(vectors, num_planes=6, dim=8).collect()}
    arw = {r.vec_id: r.lsh_bucket
           for r in S.lsh_buckets_arrow(vectors, num_planes=6, dim=8).collect()}
    assert col == arw


def test_lsh_fold_and_blas_same_candidates(vectors):
    """score='fold' and score='blas' must agree on the retrieved
    neighbor sets (same buckets → same candidates; scores may differ in
    the last ulp before rounding)."""
    q = vectors.filter("vec_id IN (0, 2)")
    fold = {(r.query_id, r.neighbor_id)
            for r in S.knn_lsh(q, vectors, k=3, num_planes=3, dim=8,
                               score="fold").collect()}
    blas = {(r.query_id, r.neighbor_id)
            for r in S.knn_lsh(q, vectors, k=3, num_planes=3, dim=8,
                               score="blas").collect()}
    assert fold == blas


def test_ivf_finds_planted_twin(vectors):
    """knn_ivf must place an identical twin in the same IVF cell and
    retrieve it at rank 1 with cosine 1.0."""
    twin = vectors.filter("vec_id = 0").selectExpr("600 AS vec_id", "embedding")
    cands = vectors.union(twin)
    out = S.knn_ivf(
        vectors.filter("vec_id = 0"), cands, k=3,
        n_centroids=4, n_probe=2,
    )
    top = out.filter("rank = 1").collect()[0]
    assert top.neighbor_id == 600
    assert top.cosine_sim == 1.0


def test_ivf_recall_reasonable(vectors):
    """Probing half the cells on small data should recover most of the
    exact top-3."""
    q = vectors.filter("vec_id IN (0, 2, 10)")
    exact = {
        (r.query_id, r.neighbor_id)
        for r in S.knn_bruteforce(q, vectors, k=3).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in S.knn_ivf(q, vectors, k=3, n_centroids=4, n_probe=2).collect()
    }
    assert len(exact & approx) / len(exact) >= 0.5


def test_lsh_finds_planted_twin(vectors):
    """knn_lsh must retrieve an exact twin (cosine 1.0) at rank 1."""
    twin = vectors.filter("vec_id = 0").selectExpr(
        "500 AS vec_id", "embedding"
    )
    cands = vectors.union(twin)
    out = S.knn_lsh(
        vectors.filter("vec_id = 0"), cands, k=3, num_planes=4, dim=8
    )
    top = out.filter("rank = 1").collect()[0]
    assert top.neighbor_id == 500
    assert top.cosine_sim == 1.0


def test_ivf_index_persists_and_prunes(spark, tmp_path):
    """Persisted IVF index: probing reads ONLY the probed hive
    partitions (PartitionFilters on __cell — storage-layer pruning, the
    100 TB ANN path) and returns the same neighbors as the in-memory
    IVF probe with identical quantizer parameters."""
    from pyspark.sql import functions as F

    from hpat_jl_spark.functions.similarity import (
        build_ivf_index,
        knn_ivf,
        query_ivf_index,
    )
    from hpat_jl_spark.tables import load_table

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    queries = emb.filter(F.col("vec_id") < 4)
    path = str(tmp_path / "ivf")
    build_ivf_index(emb, path, n_centroids=8, seed=7)
    out = query_ivf_index(spark, path, queries, k=3, n_probe=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "__cell" in plan
    got = {(r.query_id, r.rank): r.neighbor_id for r in out.collect()}
    mem = knn_ivf(queries, emb, k=3, n_centroids=8, n_probe=3, seed=7)
    want = {(r.query_id, r.rank): r.neighbor_id for r in mem.collect()}
    assert got == want and len(got) == 12


def test_multiprobe_lsh_improves_recall(spark):
    """Multi-probe (Hamming-1 bucket flips) must retrieve a superset of
    single-probe results and lift recall vs the exact baseline on the
    fixture embeddings."""
    from pyspark.sql import functions as F

    from hpat_jl_spark.tables import load_table

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    queries = emb.filter(F.col("vec_id") < 6)

    def pairs(df):
        return {(r.query_id, r.neighbor_id) for r in df.collect()}

    exact = pairs(S.knn_bruteforce(queries, emb, k=5))
    single = pairs(S.knn_lsh(queries, emb, k=5, num_planes=4))
    multi = pairs(S.knn_lsh(queries, emb, k=5, num_planes=4, multi_probe=1))
    # every single-probe candidate bucket is also probed under multi
    r_single = len(single & exact) / len(exact)
    r_multi = len(multi & exact) / len(exact)
    assert r_multi >= r_single
    assert r_multi >= 0.5  # 4 planes + 1-bit probes on near-isotropic data


def test_zero_vector_never_outranks_real_neighbors(spark):
    """ADVICE r01: an all-zero embedding divided by its own norm yields
    NaN cosine, and Spark sorts NaN above every double — so a zero
    vector would claim rank 1 for every query. The guarded kernels give
    zero vectors similarity 0.0 (ranked last, never NaN)."""
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0, 0.0]),   # true nearest to query
        (3, [0.0, 0.0, 0.0, 0.0]),   # zero vector
        (4, [0.0, 1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = S.knn_bruteforce(
        df.filter("vec_id = 1"), df, k=3
    ).orderBy("rank").collect()
    assert [r.neighbor_id for r in out[:1]] == [2]
    sims = {r.neighbor_id: r.cosine_sim for r in out}
    assert sims[3] == 0.0 and not math.isnan(sims[3])
    # zero vector must never claim rank 1 (ties at 0.0 with orthogonal
    # vectors are fine — id-ordered — but NaN-first would put it on top)
    assert out[0].neighbor_id != 3


def test_ivf_fit_sample_auto_caps(spark):
    """VERDICT r01: fit_sample=None must not collect the full candidate
    set — it auto-samples down to ~fit_cap vectors. With a tiny cap the
    quantizer still fits and knn results stay well-formed."""
    import numpy as np

    rng = np.random.default_rng(0)
    rows = [
        (i, [float(x) for x in rng.standard_normal(8)]) for i in range(400)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = S._fit_coarse_quantizer(
        df, "embedding", n_centroids=4, seed=1, max_iter=3,
        fit_sample=None, fit_cap=50,
    )
    assert cents.shape == (4, 8)
    # and the same call is deterministic (seeded sample + seeded kmeans)
    cents2 = S._fit_coarse_quantizer(
        df, "embedding", n_centroids=4, seed=1, max_iter=3,
        fit_sample=None, fit_cap=50,
    )
    assert (cents == cents2).all()


def test_pq_adc_exact_when_zero_quantization_error(spark):
    """Vectors whose subspace blocks come from a tiny pattern set (all
    equal-norm, so unit-normalization preserves the set) are encoded
    with ZERO quantization error once k-means recovers the patterns —
    then raw ADC scores (rerank=0) must equal the exact kernel's
    round-6 cosines on every pair."""
    pats = [
        [1.0, 0.0, 0.0, 0.0],
        [0.0, 1.0, 0.0, 0.0],
        [0.0, 0.0, 1.0, 0.0],
    ]
    rows = [
        (int(3 * i + j), pats[i] + pats[j])
        for i in range(3)
        for j in range(3)
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = vecs.filter("vec_id < 3")
    adc = S.knn_pq(
        q, vecs, k=8, n_subspaces=2, n_codes=4, rerank=0, fit_sample=None
    )
    exact = S.knn_bruteforce(q, vecs, k=8)
    got = {(r.query_id, r.neighbor_id): r.cosine_sim for r in adc.collect()}
    want = {(r.query_id, r.neighbor_id): r.cosine_sim for r in exact.collect()}
    assert got == want


def test_pq_rerank_recall_on_fixture(spark):
    """ADC shortlist + exact re-rank reaches ≥0.8 recall@10 even on the
    near-isotropic fixture embeddings (measured 0.95 with these
    parameters; raw ADC alone measures ~0.46 — the refine stage is
    what makes PQ usable on unclustered data)."""
    from pyspark.sql import functions as F

    from hpat_jl_spark.tables import load_table
    from tests.conftest import SF_SMOKE

    emb = load_table(spark, "embeddings", SF_SMOKE)
    q = emb.filter(F.col("vec_id") < 8)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in S.knn_bruteforce(q, emb, k=10).collect()
    }
    pq = {
        (r.query_id, r.neighbor_id)
        for r in S.knn_pq(
            q, emb, k=10, n_subspaces=16, n_codes=16, rerank=4
        ).collect()
    }
    assert len(exact & pq) / len(exact) >= 0.8


def test_pq_deterministic_across_runs(spark):
    """Seeded driver-side codebook fit + deterministic tiebreaks: two
    independent runs must produce identical rows (the property
    scripts/determinism_sweep.py enforces registry-wide)."""
    from pyspark.sql import functions as F

    from hpat_jl_spark.tables import load_table
    from tests.conftest import SF_SMOKE

    emb = load_table(spark, "embeddings", SF_SMOKE)
    q = emb.filter(F.col("vec_id") < 4)
    runs = [
        sorted(
            (r.query_id, r.rank, r.neighbor_id, r.cosine_sim)
            for r in S.knn_pq(q, emb, k=5, n_subspaces=8, n_codes=8).collect()
        )
        for _ in range(2)
    ]
    assert runs[0] == runs[1]


def test_pq_codes_are_m_small_ints(spark):
    """The encoded table is the compressed corpus: m int codes per id
    (the 100 TB artifact — 16 bytes/vector instead of 256)."""
    from pyspark.sql import functions as F

    from hpat_jl_spark.tables import load_table
    from tests.conftest import SF_SMOKE

    emb = load_table(spark, "embeddings", SF_SMOKE)
    books = S.fit_pq_codebooks(emb, n_subspaces=16, n_codes=16)
    assert books.shape == (16, 16, 4)
    codes = S.pq_encode(emb, books).collect()
    assert len(codes) == emb.count()
    for r in codes[:20]:
        assert len(r.codes) == 16
        assert all(0 <= c < 16 for c in r.codes)


def test_zscore_normalize_stats_and_zero_variance(spark):
    """Normalized dims have mean 0 / std 1; constant dims map to 0.0
    (guarded, not NaN); row identity is preserved."""
    rows = [(i, [float(i), 2.0 * i + 1.0, 7.0]) for i in range(8)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.vec_id: r.embedding for r in S.zscore_normalize(df).collect()}
    assert set(out) == set(range(8))
    d = len(rows[0][1])
    n = len(rows)
    for dim in range(d):
        vals = [out[i][dim] for i in range(8)]
        mean = sum(vals) / n
        var = sum((v - mean) ** 2 for v in vals) / n
        assert abs(mean) < 1e-9
        if dim == 2:
            assert vals == [0.0] * n  # zero-variance guard
        else:
            assert abs(var - 1.0) < 1e-9


def test_embedding_dedup_clusters_transitive_chain(spark):
    """a≈b and b≈c with cos(a,c) below threshold must still merge into
    ONE cluster (the transitivity pair-finding alone cannot give), and
    vectors with no near-dup pair stay out of the output entirely."""
    import numpy as np

    from hpat_jl_spark.functions.similarity import neardup_pairs
    from hpat_jl_spark.operators.iterative import connected_components
    from pyspark.sql import functions as F

    def vec(theta):
        v = np.zeros(4)
        v[0], v[1] = np.cos(theta), np.sin(theta)
        return [float(x) for x in v]

    # cos 0.28 rad ≈ 0.961 > 0.9; cos 0.56 rad ≈ 0.847 < 0.9
    rows = [
        (1, 0, vec(0.0)), (2, 0, vec(0.28)), (3, 0, vec(0.56)),
        (4, 0, vec(2.0)),           # isolated: no pair
        (5, 1, vec(0.0)),           # other bucket: never pairs with 1
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>"
    )
    pairs = neardup_pairs(df, bucket_col="label", threshold=0.9).select(
        "id_a", "id_b"
    )
    comp = connected_components(pairs, "id_a", "id_b")
    out = {
        r.canonical_id: r.cluster_size
        for r in comp.groupBy(F.col("component").alias("canonical_id"))
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .collect()
    }
    assert out == {1: 3}  # 1-2-3 chained; 4 and 5 absent


def test_ivf_portable_probes_own_cell_and_finds_neighbors(spark):
    """knn_ivf_portable: the probe ranking and the cell assignment use
    the same argmin, so a query's own cell must be its first probe —
    meaning same-cell neighbors are always reachable; and the
    approximate top-k overlaps the exact top-k (recall floor for 3/8
    cells probed on near-isotropic fixtures)."""
    from pyspark.sql import functions as F

    from hpat_jl_spark import registry
    from hpat_jl_spark.tables import load_table

    registry.load_all_plans()
    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, "embeddings", sf)
    queries = emb.filter(F.col("vec_id") < 8)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in S.knn_bruteforce(queries, emb, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in registry.REGISTRY["knn_ivf_portable"].fn(spark, sf).collect()
    }
    assert len(approx) > 0
    assert len(approx & exact) / len(exact) >= 0.2
    # determinism: the whole pipeline is exact integer + fixed literals
    approx2 = {
        (r.query_id, r.neighbor_id)
        for r in registry.REGISTRY["knn_ivf_portable"].fn(spark, sf).collect()
    }
    assert approx == approx2


def test_ivf_pq_arrow_projections_bit_identical(spark):
    """The Arrow-kernel integer projections used by knn_ivf_portable /
    knn_pq_portable must equal their Column-fold twins exactly (same
    floor-quantize, same int64 dots) — the kernels exist purely to skip
    fold-codegen compile cost, never to change a value."""
    from pyspark.sql import functions as F

    import hpat_jl_spark.plans.similarity as P
    from hpat_jl_spark.tables import load_table

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    px, py = P._ivf_proj_cols()
    col = {r.vec_id: (r.px, r.py) for r in emb.select(
        "vec_id", px.alias("px"), py.alias("py")).collect()}
    arw = {r.vec_id: (r.px, r.py)
           for r in P._ivf_project_arrow(emb).collect()}
    assert col == arw
    pq_col = {}
    for s_ in range(P._PQ_NSUB):
        qx, qy = P._pq_proj_exprs(s_)
        for r in emb.select("vec_id", qx.alias("px"), qy.alias("py")).collect():
            pq_col[(r.vec_id, s_)] = (r.px, r.py)
    pq_arw = {(r.vec_id, r.s): (r.px, r.py)
              for r in P._pq_project_arrow(emb).collect()}
    assert pq_col == pq_arw


def test_ivf_persisted_equals_in_memory_and_prunes(spark):
    """knn_ivf_persisted must return EXACTLY knn_ivf_portable's rows
    (same quantizer, storage-backed probe) and its candidate scan must
    prune at the storage layer (PartitionFilters on the cell directory
    column, not a post-scan filter)."""
    from hpat_jl_spark import registry

    registry.load_all_plans()
    sf = "/root/testdata/sf0.001"
    mem = registry.REGISTRY["knn_ivf_portable"].fn(spark, sf)
    disk = registry.REGISTRY["knn_ivf_persisted"].fn(spark, sf)
    assert sorted(map(tuple, mem.collect())) == sorted(map(tuple, disk.collect()))
    plan = disk._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan


def test_pq_portable_shortlist_contains_topk_and_deterministic(spark):
    """knn_pq_portable: ADC + rerank returns exactly k rows per query,
    overlaps the exact top-k (recall floor for 8-subspace × 8-code
    integer codebooks on noise), and is bit-stable across runs."""
    from pyspark.sql import functions as F

    from hpat_jl_spark import registry
    from hpat_jl_spark.tables import load_table

    registry.load_all_plans()
    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, "embeddings", sf)
    queries = emb.filter(F.col("vec_id") < 8)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in S.knn_bruteforce(queries, emb, k=5).collect()
    }
    rows = registry.REGISTRY["knn_pq_portable"].fn(spark, sf).collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r.knn_rank)
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in per_q.values())
    approx = {(r.query_id, r.neighbor_id) for r in rows}
    assert len(approx & exact) / len(exact) >= 0.15
    rows2 = registry.REGISTRY["knn_pq_portable"].fn(spark, sf).collect()
    assert {(r.query_id, r.neighbor_id, r.knn_rank) for r in rows} == {
        (r.query_id, r.neighbor_id, r.knn_rank) for r in rows2
    }


def test_semantic_dedup_star_expansion_equals_full_pairs(spark):
    """The late-r6 rep-dedup + star-edge shape of
    embedding_dedup_clusters must produce the same components as the
    definitional FULL within-bucket pair set — including a 4-way
    verbatim duplicate clique, a duplicated vector that also bridges to
    a distinct near neighbor, and zero-vector copies (which must NOT
    cluster: the kernel scores zero vectors 0 everywhere)."""
    import numpy as np

    from hpat_jl_spark.plans.similarity import (
        _NEARDUP_THRESHOLD,
        semantic_dedup_components,
    )

    rng = np.random.default_rng(11)
    rows = []
    # 8 well-separated random vectors in one bucket
    vecs = {}
    for i in range(8):
        v = rng.normal(size=16)
        vecs[i] = v / np.linalg.norm(v)
        rows.append((0, i, [float(x) for x in vecs[i]]))
    # 4-way verbatim clique of vector 2
    for j, vid in enumerate((100, 101, 102)):
        rows.append((0, vid, [float(x) for x in vecs[2]]))
        vecs[vid] = vecs[2]
    # a near neighbor of vector 2 (bridges the clique to a new vertex)
    near = vecs[2] + 0.05 * rng.normal(size=16)
    near /= np.linalg.norm(near)
    rows.append((0, 200, [float(x) for x in near]))
    vecs[200] = near
    # zero-vector copies: identical but must never pair
    rows += [(0, 300, [0.0] * 16), (0, 301, [0.0] * 16)]
    vecs[300] = np.zeros(16)
    vecs[301] = np.zeros(16)
    # same vector content in a DIFFERENT bucket must not link buckets
    rows.append((1, 400, [float(x) for x in vecs[2]]))
    vecs[400] = vecs[2]
    emb = spark.createDataFrame(
        rows, "label int, vec_id long, embedding array<float>"
    )

    # brute-force reference: full within-bucket pair set at float32
    # input precision (match the kernel's round-6 cosine), then
    # union-find
    by_bucket = {}
    for lbl, vid, v in rows:
        by_bucket.setdefault(lbl, []).append(vid)
    def unit(v):
        v = np.asarray(np.asarray(v, dtype=np.float32), dtype=np.float64)
        n = np.linalg.norm(v)
        return v / (n if n else 1.0)
    parent = {vid: vid for _, vid, _ in rows}
    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    touched = set()
    for lbl, ids in by_bucket.items():
        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                sim = round(float(unit(vecs[a]) @ unit(vecs[b])), 6)
                if sim > _NEARDUP_THRESHOLD:
                    touched |= {a, b}
                    ra, rb = find(a), find(b)
                    if ra != rb:
                        parent[max(ra, rb)] = min(ra, rb)
    expected = {}
    for v in touched:
        expected.setdefault(find(v), set()).add(v)
    expected_sets = {frozenset(s) for s in expected.values()}

    comp = semantic_dedup_components(emb).collect()
    got = {}
    for r in comp:
        got.setdefault(r.component, set()).add(r.vertex)
    got_sets = {frozenset(s) for s in got.values()}

    assert got_sets == expected_sets
    # sanity on the scenario itself: the clique+bridge formed one
    # cluster of {2,100,101,102,200}; zero vectors clustered nowhere
    assert frozenset({2, 100, 101, 102, 200}) in got_sets
    assert all(300 not in s and 301 not in s for s in got_sets)


# ---- the fused per-bucket SemDeDup kernel, driven with pandas only ----


def _bucket(rows):
    """One label bucket as the Arrow kernel receives it: float32
    embeddings (the table's array<float>), rows in arbitrary order."""
    import numpy as np
    import pandas as pd

    return pd.DataFrame(
        {
            "label": [0] * len(rows),
            "vec_id": [vid for vid, _ in rows],
            "embedding": [np.asarray(v, dtype=np.float32) for _, v in rows],
        }
    ).iloc[::-1]


def _clusters(out):
    got = {}
    for v, c in zip(out["vertex"], out["component"]):
        got.setdefault(int(c), set()).add(int(v))
    return got


@pytest.fixture
def gram_rows(monkeypatch):
    """Records how many rows each cosine_pairs call scored."""
    seen = []
    real = S.cosine_pairs

    def spy(ids, vecs, threshold, block=2048):
        seen.append(len(ids))
        return real(ids, vecs, threshold, block)

    monkeypatch.setattr(S, "cosine_pairs", spy)
    return seen


def test_semantic_dedup_bucket_clique_and_bridge_is_one_cluster(gram_rows):
    """A 4-way verbatim clique plus a near neighbour of it forms ONE
    cluster labeled with its min id; the gram scores only the distinct
    vectors (the copies rejoin as stars), and a far vector stays out."""
    import numpy as np

    v = np.array([1.0, 0.2, 0.0, 0.0])
    near = v + np.array([0.0, 0.0, 0.05, 0.0])
    far = np.array([0.0, 0.0, 0.0, 1.0])
    rows = [(7, v), (3, v), (12, v), (9, v), (20, near), (5, far)]
    out = S.semantic_dedup_bucket(_bucket(rows), threshold=0.9)
    assert _clusters(out) == {3: {3, 7, 9, 12, 20}}
    assert gram_rows == [3]  # reps 3, 5, 20 — not all six rows


def test_semantic_dedup_bucket_zero_copies_never_cluster(gram_rows):
    """Identical zero vectors are one representative, score 0 against
    everything (the zero-norm guard) and get no star edges."""
    zero = [0.0, 0.0, 0.0, 0.0]
    rows = [(1, zero), (2, zero), (3, zero), (4, [1.0, 0.0, 0.0, 0.0])]
    out = S.semantic_dedup_bucket(_bucket(rows), threshold=0.4)
    assert len(out) == 0
    assert gram_rows == [2]


def test_semantic_dedup_bucket_single_row_emits_nothing():
    out = S.semantic_dedup_bucket(_bucket([(42, [0.3, 0.4])]), threshold=0.4)
    assert list(out.columns) == ["vertex", "component"]
    assert len(out) == 0


def test_semantic_dedup_bucket_only_duplicates_is_one_star(gram_rows):
    """A bucket holding copies of one vector is a single star around
    its min id, found without a single scored pair."""
    v = [0.6, 0.8, 0.0]
    out = S.semantic_dedup_bucket(
        _bucket([(8, v), (4, v), (6, v)]), threshold=0.9
    )
    assert _clusters(out) == {4: {4, 6, 8}}
    assert gram_rows == [1]


def test_embedding_dedup_clusters_is_one_arrow_pass(spark):
    """Plan shape, a count that does not depend on the epoch: the whole
    rep-dedup → gram → star → union-find chain is ONE Arrow kernel
    behind ONE shuffle on label (the second exchange is the summary
    aggregate), and nothing is cached."""
    from hpat_jl_spark import registry
    from tests.conftest import SF_SMOKE

    registry.load_all_plans()
    df = registry.REGISTRY["embedding_dedup_clusters"].fn(spark, SF_SMOKE)
    df.collect()
    adaptive = df._jdf.queryExecution().executedPlan()
    plan = adaptive.executedPlan().toString()  # AQE's final plan only
    assert plan.count("FlatMapGroupsInPandas") == 1, plan
    assert "InMemoryRelation" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 2, plan
