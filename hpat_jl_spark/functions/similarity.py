"""Similarity search over an embedding column (array<float>).

Extension layer. Brute-force cosine top-k is the exact baseline; the
scale path is LSH bucketing (random hyperplanes → same-bucket candidates
only) — at 100 TB the cross product is never materialized; candidates
come from bucket joins exactly like MinHash dedup.

All arithmetic is double-precision, sequential fold over the vector
(deterministic, matches the DuckDB oracle's accumulation order).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hpat_jl_spark.operators.iterative import min_root_components


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product of two array<float> columns, in
    double. F.aggregate/zip_with are codegen'd higher-order functions —
    no Python in the loop."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _unit_rows(M):
    """Row-normalize with a zero-norm guard (ADVICE r01): a zero vector
    divided by its own norm yields NaN similarities, and Spark orders
    NaN ABOVE any double, so NaN rows would outrank every real neighbor
    under the desc sort. Substituting norm 1 leaves zero vectors with
    similarity 0 everywhere — ranked last, never NaN."""
    import numpy as np

    n = np.linalg.norm(M, axis=1, keepdims=True)
    return M / np.where(n == 0, 1.0, n)


def _unit_vec(v):
    """Scalar-vector twin of :func:`_unit_rows`."""
    import numpy as np

    n = np.linalg.norm(v)
    return v / (n if n != 0 else 1.0)


def knn_bruteforce(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Physical shape: the query set (small by contract — it's the probe
    side) is collected and shipped inside an Arrow mapInPandas kernel;
    each candidate batch scores against ALL queries with one numpy
    matmul (BLAS), then per-query top-k via window row_number. The
    scoring is partition-local — the only shuffle is the tiny per-query
    top-k. An all-Column higher-order-function formulation is ~10×
    slower: array lambdas are interpreted per element, not codegen'd.

    Output: (query_id, neighbor_id, cosine_sim, rank). Deterministic:
    ties broken by neighbor id on the ROUNDED similarity."""
    import numpy as np
    from pyspark.sql import Window

    out_empty_schema = (
        "query_id long, neighbor_id long, cosine_sim double, rank int"
    )
    q_rows = queries.select(id_col, vec_col).collect()
    if not q_rows:
        return queries.sparkSession.createDataFrame([], out_empty_schema)
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    Q = np.array([list(r[1]) for r in q_rows], dtype=np.float64)
    Qn = _unit_rows(Q)

    out_schema = "query_id long, neighbor_id long, cosine_sim double"

    def kernel(batches):
        for pdf in batches:
            M = _unit_rows(np.vstack(pdf[vec_col].to_numpy()).astype(np.float64))
            S = M @ Qn.T  # (batch, n_queries)
            ids = pdf[id_col].to_numpy()
            n_b, n_q = S.shape
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(q_ids, n_b),
                    "neighbor_id": np.tile(ids, n_q),
                    "cosine_sim": np.round(S.T.ravel(), 6),
                }
            )

    scored = (
        candidates.select(id_col, vec_col)
        .mapInPandas(kernel, out_schema)
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def cosine_pairs(ids, vecs, threshold: float, block: int = 2048):
    """(id_a, id_b, cosine_sim) arrays for every row pair i < j of one
    in-memory bucket whose cosine, rounded to 6 places, is > threshold.
    ``ids`` must be ascending, so id_a < id_b. One blocked numpy gram
    matrix: blocks bound the memory to block×n doubles. Rows are
    unit-normalized in double with the zero-norm guard, so a zero
    vector scores 0 against everything and never pairs. Pure numpy:
    the per-bucket body of :func:`neardup_pairs` and of
    :func:`semantic_dedup_bucket`."""
    ids = np.asarray(ids)
    n = len(ids)
    if n < 2:
        empty = np.empty(0, dtype=np.int64)
        return empty, empty, np.empty(0, dtype=np.float64)
    M = _unit_rows(np.vstack(vecs).astype(np.float64))
    cols = np.arange(n)
    ia, ib, sims = [], [], []
    for s in range(0, n, block):
        e = min(s + block, n)
        S = np.round(M[s:e] @ M.T, 6)  # (block, n)
        r, c = np.nonzero((S > threshold) & (cols > np.arange(s, e)[:, None]))
        ia.append(ids[s + r])
        ib.append(ids[c])
        sims.append(S[r, c])
    return np.concatenate(ia), np.concatenate(ib), np.concatenate(sims)


def neardup_pairs(
    df: DataFrame,
    bucket_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    block: int = 2048,
) -> DataFrame:
    """All within-bucket pairs with cosine > threshold, via applyInPandas
    per bucket: one blocked numpy gram matrix per group
    (:func:`cosine_pairs`) instead of a pair-exploded join (the
    Column-expression pair join evaluates an interpreted 64-term fold
    per pair — ~10× slower). Output ids ordered id_a < id_b."""

    def kernel(pdf):
        pdf = pdf.sort_values(id_col, ignore_index=True)
        ia, ib, sims = cosine_pairs(
            pdf[id_col].to_numpy(), pdf[vec_col].to_numpy(), threshold, block
        )
        return pd.DataFrame({"id_a": ia, "id_b": ib, "cosine_sim": sims})

    return df.select(bucket_col, id_col, vec_col).groupBy(bucket_col).applyInPandas(
        kernel, "id_a long, id_b long, cosine_sim double"
    )


def semantic_dedup_bucket(pdf: pd.DataFrame, threshold: float) -> pd.DataFrame:
    """(vertex, component) for ONE bucket (columns vec_id, embedding)
    of SemDeDup-style clustering: every vector joined to another by a
    chain of cosine > threshold pairs, labeled with its cluster's min
    id. Pure numpy/pandas — the whole per-bucket body of
    plans/similarity.semantic_dedup_components.

    Identical vectors score cosine exactly 1.0 and share every cross
    neighbor, so the gram runs over one REPRESENTATIVE per distinct
    vector (byte identity; the min id, since rows are sorted by id) and
    each copy rejoins by a rep→copy STAR edge. Stars give the same
    vertex set and connectivity as the full pair clique at O(n) rather
    than O(n²) edges. Zero vectors get no stars: the gram's zero-norm
    guard scores them 0 everywhere (never > threshold), so their copies
    must not link either. A single-row bucket emits no rows."""
    pdf = pdf.sort_values("vec_id", ignore_index=True)
    ids = pdf["vec_id"].to_numpy()
    if len(ids) < 2:
        return min_root_components([], [])
    V = np.ascontiguousarray(np.vstack(pdf["embedding"].to_numpy()))
    keys = V.view(np.dtype((np.void, V.dtype.itemsize * V.shape[1]))).ravel()
    _, first, inverse = np.unique(keys, return_index=True, return_inverse=True)
    rep = first[inverse.ravel()]  # row index of each row's representative
    is_rep = rep == np.arange(len(ids))
    ia, ib, _ = cosine_pairs(ids[is_rep], V[is_rep], threshold)
    star = ~is_rep & (V != 0).any(axis=1)
    return min_root_components(
        np.concatenate([ia, ids[rep[star]]]),
        np.concatenate([ib, ids[star]]),
    )


#: fixed-point scale for portable LSH: ×2^15 then floor. A power of two
#: so float32→double scaling is EXACT, and floor (unlike round) has no
#: cross-engine .5 tiebreak (CLAUDE.md known trap).
LSH_QUANT = 1 << 15


def portable_plane_weights(
    dim: int, num_planes: int, seed: int = 42
) -> list[list[int]]:
    """Deterministic integer hyperplane weights in [-128, 127], derived
    from md5 of "lshplane:{seed}:{plane}:{dim}" — pure data, computable
    by ANY engine (the DuckDB oracle inlines the same literals). Integer
    weights keep the projection in exact int64 arithmetic (|dot| ≤
    dim·2^15·128 ≈ 2^28), so the sign bit (= the bucket) can never flip
    on a float last-ulp difference between engines — the property that
    upgraded knn_lsh from rows-only to a full value-hash oracle. 8-bit
    weights quantize the plane DIRECTION finely enough that bucket
    quality matches gaussian planes (recall assertions in
    tests/test_similarity.py re-verified after the switch)."""
    import hashlib

    return [
        [
            int(
                hashlib.md5(
                    f"lshplane:{seed}:{p}:{d}".encode()
                ).hexdigest()[:15],
                16,
            )
            % 256
            - 128
            for d in range(dim)
        ]
        for p in range(num_planes)
    ]


def lsh_bucket_expr(vec_col: Column, planes: list[list[int]]) -> Column:
    """Bucket id = sign bits of integer projections, as ONE codegen'd
    Column (no Python): quantize each component to int64 with
    floor(v·2^15), dot with the integer plane weights via
    zip_with/aggregate, pack the sign bits. |dot| ≤ dim·2^15·128 ≈ 2^28
    — exact int64, identical in every engine."""
    q = F.transform(
        vec_col, lambda v: F.floor(v.cast("double") * LSH_QUANT).cast("long")
    )
    bucket = F.lit(0).cast("long")
    for p, row in enumerate(planes):
        w = F.array(*[F.lit(int(x)).cast("long") for x in row])
        d = F.aggregate(
            F.zip_with(q, w, lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        bucket = bucket + (d >= 0).cast("long") * F.lit(1 << p)
    return bucket


def lsh_bucket_sql(
    e: str, planes: list[list[int]], quant: int = LSH_QUANT
) -> str:
    """DuckDB twin of :func:`lsh_bucket_expr` over a DOUBLE[] column
    expression ``e`` — same quantization, same integer dots, same bit
    packing, with the plane weights inlined as list literals."""
    terms = []
    for p, row in enumerate(planes):
        lits = "[" + ", ".join(str(int(x)) for x in row) + "]"
        dot = (
            f"list_sum(list_transform(range(1, {len(row) + 1}), "
            f"i -> floor({e}[i] * {quant})::BIGINT * ({lits})[i]))"
        )
        terms.append(f"(CASE WHEN {dot} >= 0 THEN {1 << p} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


def lsh_buckets(
    df: DataFrame,
    vec_col: str = "embedding",
    num_planes: int = 16,
    seed: int = 42,
    dim: int = 64,
) -> DataFrame:
    """Random-hyperplane LSH: bucket key = sign bits of ``num_planes``
    fixed pseudo-random projections; same-bucket vectors are candidate
    near-neighbors, probing adjacent buckets (1-bit flips) trades
    recall for cost.

    The planes are PORTABLE integer weights (md5-derived, [-128, 127]) and
    the projection is exact int64 arithmetic on floor-quantized
    components — entirely codegen'd Column math (zip_with/aggregate),
    no Python, and bit-for-bit reproducible by the DuckDB oracle via
    :func:`lsh_bucket_sql`. Replaces the earlier gaussian-plane
    pandas_udf, whose RNG stream no other engine could replay (the
    reason knn_lsh sat at rows-only through r1-r3), and drops an Arrow
    exchange from the plan.

    Adds column ``lsh_bucket`` (bigint)."""
    planes = portable_plane_weights(dim, num_planes, seed)
    return df.withColumn("lsh_bucket", lsh_bucket_expr(F.col(vec_col), planes))


def lsh_buckets_arrow(
    df: DataFrame,
    vec_col: str = "embedding",
    num_planes: int = 16,
    seed: int = 42,
    dim: int = 64,
) -> DataFrame:
    """Bit-identical twin of :func:`lsh_buckets` computed in an Arrow
    kernel instead of a Column expression. The bucket is EXACT int64
    arithmetic either way — floor(v·2^15) quantization (IEEE double
    multiply, deterministic) then an integer dot and sign-bit pack — so
    numpy int64 matmul produces the same bucket as the codegen'd fold
    and the DuckDB twin (equality asserted in tests/test_similarity.py).
    Why it exists (r5): the literal-heavy Column form costs ~1 s of
    one-shot whole-stage-codegen compilation (num_planes × dim literal
    operands) regardless of data size; the kernel costs none, and the
    pass stays narrow (no shuffle) with one BLAS-free integer matmul
    per batch. Prefer this for interactive/one-shot plans; either is
    fine in long-running jobs where codegen amortizes."""
    planes = portable_plane_weights(dim, num_planes, seed)
    W = np.array(planes, dtype=np.int64)  # (planes, dim)
    pw = (1 << np.arange(num_planes, dtype=np.int64))
    cols = df.columns
    fields = ", ".join(f"`{c}` {t}" for c, t in df.dtypes)

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            M = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            Q = np.floor(M * LSH_QUANT).astype(np.int64)
            D = Q @ W.T  # exact: |dot| <= dim * 2^15-ish * 128 << 2^63
            out = pdf[cols].copy()
            out["lsh_bucket"] = ((D >= 0) * pw).sum(axis=1)
            yield out

    return df.mapInPandas(kernel, f"{fields}, lsh_bucket long")


def _fit_coarse_quantizer(
    candidates: DataFrame,
    vec_col: str,
    n_centroids: int,
    seed: int,
    max_iter: int,
    fit_sample: float | None,
    fit_cap: int = 100_000,
):
    """Deterministic coarse-quantizer fit: collect a (sampled) vector
    subset to the driver and run k-means++ + Lloyd in numpy. A
    sample-fit quantizer is the standard IVF practice at any scale
    (FAISS trains on ~100k sampled vectors); doing it driver-side with
    a fixed RNG makes the cells BIT-REPRODUCIBLE across runs — the
    distributed ML fit varies in the last ulp with aggregation order,
    which flips boundary assignments and makes ANN results flicker
    between identical runs (caught by scripts/determinism_sweep.py).

    ``fit_sample=None`` (the default everywhere) no longer means "fit on
    everything" — VERDICT r01 flagged that as an unbounded driver
    collect. It now means "auto": sample down to ~``fit_cap`` vectors,
    so the driver-side fit is O(1) in corpus size. Pass an explicit
    fraction to override."""
    import numpy as np

    if fit_sample is None:
        n = candidates.count()
        fit_sample = min(1.0, fit_cap / n) if n > fit_cap else None

    # keyword args required: sample(0.25, seed=s) binds 0.25 to
    # withReplacement and the compat shim silently DROPS the seed,
    # making every action draw a fresh sample (caught by
    # scripts/determinism_sweep.py)
    src = (
        candidates.sample(fraction=fit_sample, seed=seed)
        if fit_sample
        else candidates
    )
    X = np.array(
        [list(r[0]) for r in src.select(vec_col).collect()], dtype=np.float64
    )
    rng = np.random.default_rng(seed)
    cents = [X[int(rng.integers(len(X)))]]
    for _ in range(n_centroids - 1):
        C = np.array(cents)
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1).min(axis=1)
        probs = d2 / d2.sum() if d2.sum() > 0 else None
        cents.append(X[int(rng.choice(len(X), p=probs))])
    C = np.array(cents)
    for _ in range(max_iter):
        assign = ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1).argmin(1)
        newC = np.array(
            [
                X[assign == j].mean(0) if (assign == j).any() else C[j]
                for j in range(n_centroids)
            ]
        )
        if np.allclose(newC, C):
            break
        C = newC
    return C


def knn_ivf(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    max_iter: int = 5,
    fit_sample: float | None = None,
) -> DataFrame:
    """Approximate top-k via IVF (inverted-file) partitioning: KMeans
    centroids define cells; each candidate is assigned to its nearest
    cell; each query probes only its ``n_probe`` nearest cells and runs
    exact cosine there.

    Scale shape: the coarse quantizer (centroid fit) runs on a sample;
    assignment is one Arrow matmul pass; the probe is a broadcast join
    of (query, cell) pairs against the cell-partitioned candidates —
    at 100 TB candidates would be WRITTEN partitioned by cell so probes
    prune at the storage layer. Recall/cost dial = n_probe/n_centroids.
    """
    import numpy as np

    cents = _fit_coarse_quantizer(
        candidates, vec_col, n_centroids, seed, max_iter, fit_sample
    )

    def assign_kernel(batches):
        for pdf in batches:
            M = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            d = ((M[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            out = pdf[[id_col, vec_col]].copy()
            out["__cell"] = d.argmin(axis=1).astype(np.int32)
            yield out

    assigned = candidates.select(id_col, vec_col).mapInPandas(
        assign_kernel, f"{id_col} long, {vec_col} array<float>, __cell int"
    )

    q_rows = queries.select(id_col, vec_col).collect()
    if not q_rows:
        return queries.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, cosine_sim double, rank int"
        )
    qvecs = {
        int(r[0]): np.array(list(r[1]), dtype=np.float64) for r in q_rows
    }
    qnorm = {qid: _unit_vec(v) for qid, v in qvecs.items()}
    probes = []
    for qid, v in qvecs.items():
        d = ((cents - v) ** 2).sum(axis=1)
        for cell in np.argsort(d)[:n_probe]:
            probes.append((qid, int(cell)))
    probe_df = queries.sparkSession.createDataFrame(
        probes, "query_id long, __cell int"
    )

    def score_kernel(batches):
        for pdf in batches:
            M = _unit_rows(np.vstack(pdf[vec_col].to_numpy()).astype(np.float64))
            sims = np.empty(len(pdf))
            qids = pdf["query_id"].to_numpy()
            for i, qid in enumerate(qids):
                sims[i] = M[i] @ qnorm[int(qid)]
            yield pd.DataFrame(
                {
                    "query_id": qids,
                    "neighbor_id": pdf[id_col].to_numpy(),
                    "cosine_sim": np.round(sims, 6),
                }
            )

    from pyspark.sql import Window

    probed = assigned.join(F.broadcast(probe_df), "__cell").filter(
        F.col(id_col) != F.col("query_id")
    )
    scored = probed.select("query_id", id_col, vec_col).mapInPandas(
        score_kernel, "query_id long, neighbor_id long, cosine_sim double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def knn_lsh(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 8,
    dim: int = 64,
    multi_probe: int = 0,
    score: str = "blas",
) -> DataFrame:
    """Approximate top-k: only same-LSH-bucket pairs are scored. The
    bucket equi-join replaces the cross join — this is the 100 TB path
    (shuffle keyed on bucket, candidates meet only in their bucket).

    ``multi_probe`` > 0 additionally probes every bucket within that
    Hamming distance of the query's bucket (1 → num_planes extra
    buckets per query via single-bit flips) — the standard multi-probe
    LSH recall/cost dial: candidates stay put, only the tiny
    (query, bucket) probe table fans out, so recall rises without
    re-hashing or extra candidate shuffles.

    ``score`` picks the similarity arithmetic (r5, ADVICE r04):
      - ``'fold'``: the codegen'd Column-fold cosine — the SAME
        sequential left-fold the DuckDB oracle executes, so a rounded
        score can never diverge cross-engine on a last-ulp boundary
        (the reason the oracle-gated query uses it; also fully
        declarative — no driver collect, one Spark job).
      - ``'blas'``: numpy matmul inside an Arrow kernel — different
        accumulation order (SIMD/pairwise), faster per candidate; the
        production choice when the consumer doesn't need cross-engine
        bit-equality of rounded scores."""
    from pyspark.sql import Window

    # Arrow-kernel bucketing: bit-identical to the Column form (exact
    # int64 math) without its ~1 s literal-tree codegen compile (r5).
    qb = lsh_buckets_arrow(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")),
        "q_vec", num_planes, dim=dim,
    ).select("query_id", "q_vec", "lsh_bucket")
    cb = lsh_buckets_arrow(
        candidates.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
        ),
        "c_vec", num_planes, dim=dim,
    )
    if score == "fold":
        # Declarative path: expand multi-probe buckets as a Column
        # explode of bit flips, broadcast the (small) probe side, score
        # with the codegen'd fold, rank. No Python anywhere.
        variants = [F.col("lsh_bucket")]
        if multi_probe >= 1:
            variants += [
                F.col("lsh_bucket").bitwiseXOR(F.lit(1 << b))
                for b in range(num_planes)
            ]
        if multi_probe >= 2:
            variants += [
                F.col("lsh_bucket")
                .bitwiseXOR(F.lit(1 << b1))
                .bitwiseXOR(F.lit(1 << b2))
                for b1 in range(num_planes)
                for b2 in range(b1 + 1, num_planes)
            ]
        probe = qb.select(
            "query_id",
            "q_vec",
            F.explode(F.array_distinct(F.array(*variants))).alias("lsh_bucket"),
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("cosine_sim").desc(), F.col("neighbor_id")
        )
        return (
            cb.join(F.broadcast(probe), "lsh_bucket")
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .select(
                "query_id",
                "neighbor_id",
                F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6).alias(
                    "cosine_sim"
                ),
            )
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
        )
    # queries are the small probe side: ship their normalized vectors
    # into an Arrow kernel and score candidate batches with numpy (the
    # Column-fold cosine is interpreted per element — ~10× slower)
    q_rows = qb.collect()
    if not q_rows:
        return queries.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, cosine_sim double, rank int"
        )
    qnorm = {}
    for r in q_rows:
        v = np.array(list(r.q_vec), dtype=np.float64)
        qnorm[int(r.query_id)] = _unit_vec(v)
    probe_pairs = set()
    for r in q_rows:
        b = int(r.lsh_bucket)
        probe_pairs.add((int(r.query_id), b))
        if multi_probe >= 1:
            for bit in range(num_planes):
                probe_pairs.add((int(r.query_id), b ^ (1 << bit)))
        if multi_probe >= 2:
            for b1 in range(num_planes):
                for b2 in range(b1 + 1, num_planes):
                    probe_pairs.add(
                        (int(r.query_id), b ^ (1 << b1) ^ (1 << b2))
                    )
    probe = queries.sparkSession.createDataFrame(
        sorted(probe_pairs), "query_id long, lsh_bucket long"
    )

    def score_kernel(batches):
        for pdf in batches:
            M = _unit_rows(np.vstack(pdf["c_vec"].to_numpy()).astype(np.float64))
            sims = np.empty(len(pdf))
            qids = pdf["query_id"].to_numpy()
            for i, qid in enumerate(qids):
                sims[i] = M[i] @ qnorm[int(qid)]
            yield pd.DataFrame(
                {
                    "query_id": qids,
                    "neighbor_id": pdf["neighbor_id"].to_numpy(),
                    "cosine_sim": np.round(sims, 6),
                }
            )

    scored = (
        cb.join(F.broadcast(probe), "lsh_bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "c_vec")
        .mapInPandas(score_kernel, "query_id long, neighbor_id long, cosine_sim double")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def build_ivf_index(
    candidates: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    seed: int = 42,
    max_iter: int = 5,
    fit_sample: float | None = None,
) -> None:
    """Persist an IVF index: candidate vectors written as Parquet
    partitioned BY CELL (hive layout ``data/__cell=N/``), centroids
    alongside. This is the storage form of the 100 TB ANN path: a probe
    of p cells reads only p/n_centroids of the corpus — the pruning
    happens in the file listing (PartitionFilters), before any I/O.

    Reuses the same coarse quantizer as :func:`knn_ivf` (sampled KMeans
    fit, few Lloyd iterations) and the same Arrow assignment kernel, so
    an in-memory probe and an on-disk probe return identical results
    for the same (seed, n_centroids)."""
    import numpy as np

    cents = _fit_coarse_quantizer(
        candidates, vec_col, n_centroids, seed, max_iter, fit_sample
    )

    def assign_kernel(batches):
        for pdf in batches:
            M = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            d = ((M[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            out = pdf[[id_col, vec_col]].copy()
            out["__cell"] = d.argmin(axis=1).astype(np.int32)
            yield out

    assigned = candidates.select(id_col, vec_col).mapInPandas(
        assign_kernel, f"{id_col} long, {vec_col} array<float>, __cell int"
    )
    assigned.write.mode("overwrite").partitionBy("__cell").parquet(f"{path}/data")
    spark = candidates.sparkSession
    cent_rows = [(int(i), [float(x) for x in c]) for i, c in enumerate(cents)]
    spark.createDataFrame(
        cent_rows, "cell int, centroid array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")


def query_ivf_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 4,
) -> DataFrame:
    """Probe a persisted IVF index: nearest ``n_probe`` cells per query
    from the stored centroids, then scan ONLY those hive partitions
    (`__cell IN (...)` becomes PartitionFilters — directories outside
    the probe set are never listed or read) and score exact cosine.

    Returns (query_id, neighbor_id, cosine_sim, rank)."""
    import numpy as np
    from pyspark.sql import Window

    cent_rows = spark.read.parquet(f"{path}/centroids").collect()
    cents = np.zeros((len(cent_rows), len(cent_rows[0].centroid)))
    for r in cent_rows:
        cents[r.cell] = np.array(r.centroid)

    q_rows = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    ).collect()
    if not q_rows:
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, cosine_sim double, rank int"
        )
    qnorm = {}
    probes = []
    for r in q_rows:
        v = np.array(list(r.qv), dtype=np.float64)
        qnorm[int(r.query_id)] = _unit_vec(v)
        d = ((cents - v) ** 2).sum(axis=1)
        for cell in np.argsort(d)[:n_probe]:
            probes.append((int(r.query_id), int(cell)))
    probe_df = spark.createDataFrame(probes, "query_id long, __cell int")
    cells = sorted({c for _, c in probes})

    data = spark.read.parquet(f"{path}/data").filter(F.col("__cell").isin(cells))

    def score_kernel(batches):
        for pdf in batches:
            M = _unit_rows(np.vstack(pdf[vec_col].to_numpy()).astype(np.float64))
            sims = np.empty(len(pdf))
            qids = pdf["query_id"].to_numpy()
            for i, qid in enumerate(qids):
                sims[i] = M[i] @ qnorm[int(qid)]
            yield pd.DataFrame(
                {
                    "query_id": qids,
                    "neighbor_id": pdf[id_col].to_numpy(),
                    "cosine_sim": np.round(sims, 6),
                }
            )

    probed = data.join(F.broadcast(probe_df), "__cell").filter(
        F.col(id_col) != F.col("query_id")
    )
    scored = probed.select("query_id", id_col, vec_col).mapInPandas(
        score_kernel, "query_id long, neighbor_id long, cosine_sim double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def _kmeans_np(X, k: int, rng, max_iter: int = 20):
    """Driver-side kmeans++ + Lloyd on a numpy sample (the shared
    fit kernel for PQ codebooks; deterministic for a fixed rng —
    same rationale as _fit_coarse_quantizer). Empty clusters keep
    their previous centroid."""
    import numpy as np

    k = min(k, len(X))
    cents = [X[int(rng.integers(len(X)))]]
    for _ in range(k - 1):
        C = np.array(cents)
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1).min(axis=1)
        probs = d2 / d2.sum() if d2.sum() > 0 else None
        cents.append(X[int(rng.choice(len(X), p=probs))])
    C = np.array(cents)
    for _ in range(max_iter):
        assign = ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1).argmin(1)
        newC = np.array(
            [
                X[assign == j].mean(0) if (assign == j).any() else C[j]
                for j in range(k)
            ]
        )
        if np.allclose(newC, C):
            break
        C = newC
    return C


def fit_pq_codebooks(
    candidates: DataFrame,
    vec_col: str = "embedding",
    n_subspaces: int = 8,
    n_codes: int = 16,
    seed: int = 7,
    max_iter: int = 20,
    fit_sample: float | None = None,
    fit_cap: int = 100_000,
):
    """Product-quantization codebooks (Jégou, Douze & Schmid, TPAMI
    2011): split the UNIT-normalized vector into ``n_subspaces``
    contiguous blocks and k-means each block independently to
    ``n_codes`` centroids. Returns an (m, n_codes, d/m) ndarray.

    Fit is driver-side on a row-capped sample (same contract as
    _fit_coarse_quantizer: FAISS-style ~100k-vector training set, O(1)
    in corpus size, bit-reproducible for a fixed seed). Normalizing
    BEFORE splitting makes inner products over codes approximate
    cosine directly — no per-query norm correction needed."""
    import numpy as np

    if fit_sample is None:
        n = candidates.count()
        fit_sample = min(1.0, fit_cap / n) if n > fit_cap else None
    src = (
        candidates.sample(fraction=fit_sample, seed=seed)
        if fit_sample
        else candidates
    )
    X = np.array(
        [list(r[0]) for r in src.select(vec_col).collect()], dtype=np.float64
    )
    X = _unit_rows(X)
    d = X.shape[1]
    if d % n_subspaces:
        raise ValueError(f"dim {d} not divisible by n_subspaces {n_subspaces}")
    dsub = d // n_subspaces
    rng = np.random.default_rng(seed)
    books = [
        _kmeans_np(X[:, j * dsub : (j + 1) * dsub], n_codes, rng, max_iter)
        for j in range(n_subspaces)
    ]
    return np.stack(books)


def pq_encode(
    candidates: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode each vector to its per-subspace nearest-centroid code — an
    (id, codes array<int>) table of m small ints per vector. THIS is
    the 100 TB story: a 64-dim float32 embedding is 256 bytes; its
    8-subspace code is 8 bytes (32×), so the scored corpus fits where
    the raw vectors never would, and the scoring scan reads ONLY the
    code column (column pruning does the rest). One mapInPandas pass,
    no shuffle; codebooks ship in the closure (m·k·d/m doubles — KB)."""
    import numpy as np

    C = codebooks  # (m, k, dsub)
    m, _, dsub = C.shape

    def kernel(batches):
        for pdf in batches:
            M = _unit_rows(np.vstack(pdf[vec_col].to_numpy()).astype(np.float64))
            codes = np.empty((len(M), m), dtype=np.int32)
            for j in range(m):
                sub = M[:, j * dsub : (j + 1) * dsub]
                # (batch, k) squared distances via expansion; argmin code
                d2 = (
                    (sub**2).sum(1, keepdims=True)
                    - 2.0 * sub @ C[j].T
                    + (C[j] ** 2).sum(1)[None, :]
                )
                codes[:, j] = d2.argmin(1)
            yield pd.DataFrame(
                {id_col: pdf[id_col].to_numpy(), "codes": list(codes)}
            )

    return candidates.select(id_col, vec_col).mapInPandas(
        kernel, f"{id_col} long, codes array<int>"
    )


def knn_pq(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    n_subspaces: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
    fit_sample: float | None = None,
    rerank: int = 4,
) -> DataFrame:
    """Approximate top-k cosine neighbors via product quantization with
    asymmetric distance computation (ADC): the query stays exact, each
    candidate is looked up through its codes — score ≈ Σ_j
    LUT[j, code_j] where LUT[j, c] = q_sub_j · codebook[j][c]. Per
    candidate the work is m table lookups + adds instead of a d-wide
    dot product, over an m-byte row instead of a 4d-byte one.

    ``rerank`` enables the FAISS refine stage: ADC picks a k·rerank
    shortlist per query (code-column scan only), then the exact kernel
    re-scores just the shortlisted vectors — so the final top-k has
    exact scores and near-exact recall while the corpus-wide pass still
    reads only codes. ``rerank=0`` returns raw ADC scores.

    Same probe contract as knn_bruteforce (small collected query side);
    same deterministic output shape (round-6 scores, neighbor-id
    tiebreak). Composes with IVF (encode per cell) for the full
    FAISS-style IVF-PQ layout; kept orthogonal here so each mechanism
    is independently testable."""
    import numpy as np
    from pyspark.sql import Window

    books = fit_pq_codebooks(
        candidates,
        vec_col=vec_col,
        n_subspaces=n_subspaces,
        n_codes=n_codes,
        seed=seed,
        fit_sample=fit_sample,
    )
    codes = pq_encode(candidates, codebooks=books, id_col=id_col, vec_col=vec_col)

    q_rows = queries.select(id_col, vec_col).collect()
    out_schema = "query_id long, neighbor_id long, cosine_sim double"
    if not q_rows:
        return queries.sparkSession.createDataFrame([], out_schema + ", rank int")
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    Q = _unit_rows(np.array([list(r[1]) for r in q_rows], dtype=np.float64))
    m, _, dsub = books.shape
    # (n_queries, m, n_codes) lookup tables — the only query-side state
    lut = np.einsum("qjd,jkd->qjk", Q.reshape(len(Q), m, dsub), books)

    def kernel(batches):
        for pdf in batches:
            codes_mat = np.vstack(pdf["codes"].to_numpy())  # (batch, m)
            ids = pdf[id_col].to_numpy()
            cols = np.arange(m)
            for qi in range(len(q_ids)):
                s = lut[qi][cols[None, :], codes_mat].sum(axis=1)
                yield pd.DataFrame(
                    {
                        "query_id": np.full(len(ids), q_ids[qi]),
                        "neighbor_id": ids,
                        "cosine_sim": np.round(s, 6),
                    }
                )

    scored = (
        codes.mapInPandas(kernel, out_schema)
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    adc_topk = scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= (k * rerank if rerank else k)
    )
    if not rerank:
        return adc_topk
    # FAISS-style refine: ADC ranks a shortlist of k·rerank per query,
    # then the EXACT kernel re-scores only those ids — the full-width
    # vectors are touched for O(queries · k · rerank) rows, never the
    # corpus. The semi-join keeps the scan code-column-only.
    shortlist = adc_topk.select(F.col("neighbor_id").alias(id_col)).distinct()
    cand_short = candidates.join(F.broadcast(shortlist), id_col, "semi")
    return knn_bruteforce(
        queries, cand_short, k=k, id_col=id_col, vec_col=vec_col
    )


def zscore_normalize(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Per-dimension z-score normalization of a fixed-dim vector column
    (the feature-scaling pass run before training / before distance
    computations that assume isotropic features).

    Scale shape: posexplode → per-dimension partial+final avg/stddev
    (shuffle carries d rows per map partition after combine, never the
    vectors), collapse the d-row stats table into ONE row of
    dimension-ordered arrays, and broadcast that single row back — the
    normalization itself is then a row-local double ``zip_with``, so
    the corpus is rewritten in one map pass with no second shuffle and
    no Python. Zero-variance dimensions normalize to 0.0 (guarded, not
    NaN — same convention as `_unit_rows`).
    """
    ex = df.select(F.posexplode(vec_col).alias("pos", "val")).withColumn(
        "val", F.col("val").cast("double")
    )
    stats = ex.groupBy("pos").agg(
        F.avg("val").alias("m"), F.stddev_pop("val").alias("s")
    )
    one = stats.groupBy().agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("pos", "m"))), lambda t: t["m"]
        ).alias("_means"),
        F.transform(
            F.sort_array(F.collect_list(F.struct("pos", "s"))), lambda t: t["s"]
        ).alias("_stds"),
    )
    centered = F.zip_with(
        F.col(vec_col).cast("array<double>"), F.col("_means"), lambda x, m: x - m
    )
    z = F.zip_with(
        centered,
        F.col("_stds"),
        lambda c, s: F.when(s == 0, F.lit(0.0)).otherwise(c / s),
    )
    return (
        df.join(F.broadcast(one))
        .withColumn(vec_col, z)
        .drop("_means", "_stds")
    )
