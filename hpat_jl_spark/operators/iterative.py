"""Iterative relational algorithms with checkpointed lineage — the
reference's entry point C (`@acc hpat_checkpoint`, reference
src/HPAT.jl:221-275 + src/checkpoint.jl: snapshot live loop state every
sqrt(2·cost·MTTF) hours and generate a _restart twin).

Spark's equivalents are (a) automatic task re-execution for transient
failures, and (b) `localCheckpoint`/`checkpoint` to truncate lineage in
loops — without it, iteration k's plan contains all k-1 predecessors
and planning time grows superlinearly. `connected_components` below is
the canonical iterative-relational demo (label propagation to
fixpoint).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
    checkpoint_every: int = 5,
) -> DataFrame:
    """Label propagation: every vertex converges to the minimum vertex
    id in its component. Returns (vertex, component).

    Per iteration: candidate labels flow across edges (both directions),
    vertices take the min of their own and neighbors' labels; stop at
    the fixpoint. r12: ONE Spark action per round, down from two-plus —
    the ×100 profile of embedding_dedup_clusters showed the fixpoint's
    wall is the per-round JOB floor (62 jobs inside a ~13 s wall of
    8-9 core-s of actual work), not data volume. The round's labels are
    materialized by a lazy ``localCheckpoint`` whose first action is
    the convergence witness itself: ``sum(component)`` as exact
    decimal(38,0). Labels are per-vertex non-increasing (new = min of
    old and neighbors'), so the sum is strictly decreasing until, and
    constant exactly at, the fixpoint — the same stop condition as the
    old join-new-vs-old changed-count, without that extra per-round
    join job. Lineage still truncates every round (the lazy checkpoint
    stores blocks during the witness job — no separate eager job);
    ``checkpoint_every`` is kept for API compatibility. Old rounds'
    RDD blocks are freed by the ContextCleaner when their Python refs
    drop (RDD blocks, not CacheManager entries — the r6 session-
    lifetime accumulation trap applies to Dataset.persist only).
    """
    both = edges.select(
        F.col(src).alias("a"), F.col(dst).alias("b")
    ).union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
    # materialize the edge set ONCE: every iteration re-reads it, and
    # without this the full upstream pipeline that derived the edges
    # (e.g. MinHash banding) re-executes per iteration — at sf0.1 that
    # was ~7× the whole algorithm's cost
    both = both.localCheckpoint(eager=True)
    labels = (
        both.select(F.col("a").alias("vertex"))
        .distinct()
        .withColumn("component", F.col("vertex"))
    )
    prev_sum = None
    for i in range(max_iter):
        neighbor_labels = (
            both.join(labels, both.a == labels.vertex)
            .select(F.col("b").alias("vertex"), F.col("component"))
        )
        # NOTE r12: pointer jumping (component := component's component
        # via a per-round self-join) was tried here to cut the round
        # count — it worked (20 → 4 rounds on embedding_dedup_clusters'
        # cosine chains at sf0.1) but each jump round cost ~8 AQE
        # query-stage jobs versus ~1 for this plain propagation round
        # (two extra joins → broadcast/exchange materialization jobs),
        # and total wall went 3.1-3.8 s → 4.4-6.3 s. In the job-floor
        # regime JOBS, not rounds, are the wall — keep rounds simple.
        new_labels = (
            labels.select("vertex", "component")
            .union(neighbor_labels)
            .groupBy("vertex")
            .agg(F.min("component").alias("component"))
        )
        new_labels = new_labels.localCheckpoint(eager=False)
        # the witness job computes every partition, so it also fills
        # the lazy checkpoint's blocks for round i+1 to read. decimal
        # keeps the sum exact for any int64 vertex-id domain (≤1e12
        # rows × 2^63 fits decimal(38,0) with 7 digits to spare).
        cur_sum = new_labels.agg(
            F.sum(F.col("component").cast("decimal(38,0)")).alias("s")
        ).collect()[0][0]
        labels = new_labels
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels


def bucketed_components(
    edges: DataFrame,
    bucket_col: str,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """(vertex, component) for a graph whose edges are BUCKET-LOCAL by
    construction: no edge crosses a ``bucket_col`` value, so connected
    components decompose exactly into per-bucket problems and the
    whole computation is ONE shuffle + one Arrow kernel — a per-bucket
    union-find — instead of a diameter-bounded join fixpoint.

    This is the right CC for SemDeDup-shaped clustering, where pairs
    only ever form inside an IVF/LSH/label bucket (the gram kernel's
    own grouping): connected_components() above spent ~20 one-hop
    propagation rounds (one Spark action each, profiled as THE wall at
    every tier — job floor, not data) to rediscover a partition the
    bucketing already proves. Component = min vertex id, matching the
    fixpoint's labeling: union-by-min-root keeps every set's root at
    its minimum member, so the result is identical to the global
    min-label fixpoint on the same (bucket-disjoint) edge set.

    Scale: the per-task residency is one bucket's edge set — the same
    bucket-size bound the gram kernel already carries (at 100 TB the
    bucket is an IVF cell / LSH band, sized by construction). For a
    graph with genuinely cross-bucket edges use connected_components().
    """
    return (
        edges.select(bucket_col, src, dst)
        .groupBy(bucket_col)
        .applyInPandas(
            lambda pdf: min_root_components(pdf[src], pdf[dst]),
            "vertex long, component long",
        )
    )


def min_root_components(src, dst) -> pd.DataFrame:
    """(vertex, component) over one in-memory edge list: union-find
    with union-by-min-root, so every set's root stays its MINIMUM
    member and component = min vertex id — the labeling of the global
    min-label fixpoint (connected_components) on the same edges.
    Membership is every vertex an edge touches; a self-loop makes its
    vertex a singleton member. Pure Python/pandas: the per-bucket body
    of :func:`bucketed_components` and of the fused SemDeDup kernel
    (functions/similarity.semantic_dedup_bucket)."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for a, b in zip(np.asarray(src), np.asarray(dst)):
        a, b = int(a), int(b)
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra  # attach larger root under smaller:
            #                  every root stays its set's MIN id
    verts = list(parent)
    return pd.DataFrame(
        {
            "vertex": np.array(verts, dtype=np.int64),
            "component": np.array([find(v) for v in verts], dtype=np.int64),
        }
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    max_iter: int = 15,
    tol: float = 1e-6,
) -> DataFrame:
    """Power-iteration PageRank over an edge list. Returns
    (vertex, rank), ranks summing to ~|V|.

    Per iteration: contributions = rank/out_degree flow along edges,
    one shuffle on dst; dangling vertices (no out-edges) keep their
    base share via the damping term. Ranks localCheckpoint every
    iteration (the convergence delta is an action anyway — same
    rationale as connected_components); out-degrees are computed once
    and cached. Stops when max |Δrank| < tol.
    """
    e = edges.select(F.col(src).alias("esrc"), F.col(dst).alias("edst"))
    e = e.localCheckpoint(eager=True)
    verts = (
        e.select(F.col("esrc").alias("vertex"))
        .union(e.select(F.col("edst").alias("vertex")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    degs = e.groupBy(F.col("esrc").alias("vertex")).agg(
        F.count(F.lit(1)).alias("out_deg")
    ).localCheckpoint(eager=True)
    ranks = verts.withColumn("rank", F.lit(1.0))
    for _ in range(max_iter):
        contribs = (
            e.join(ranks, e.esrc == ranks.vertex)
            .join(degs, "vertex")
            .select(
                F.col("edst").alias("vertex"),
                (F.col("rank") / F.col("out_deg")).alias("contrib"),
            )
            .groupBy("vertex")
            .agg(F.sum("contrib").alias("inflow"))
        )
        new_ranks = (
            verts.join(contribs, "vertex", "left")
            .select(
                "vertex",
                (
                    F.lit(1.0 - damping)
                    + F.lit(damping) * F.coalesce(F.col("inflow"), F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
        delta = (
            new_ranks.alias("n")
            .join(ranks.alias("o"), "vertex")
            .agg(F.max(F.abs(F.col("n.rank") - F.col("o.rank"))).alias("d"))
            .collect()[0].d
        )
        ranks = new_ranks
        if delta is not None and delta < tol:
            break
    return ranks


def mttf_snapshot_interval(snapshot_cost_s: float, mttf_s: float) -> float:
    """Young's optimal checkpoint interval sqrt(2·cost·MTTF) — the
    formula the reference derives its snapshot cadence from (reference
    src/checkpoint.jl:100-231: checkpoint time is measured, MTTF is a
    config input, and the next interval balances snapshot overhead
    against expected recomputation loss)."""
    import math

    return math.sqrt(2.0 * max(snapshot_cost_s, 0.0) * max(mttf_s, 0.0))


def checkpointed_loop(
    state: DataFrame,
    step_fn,
    path: str,
    max_iter: int = 20,
    snapshot_every: int | None = 5,
    converged=None,
    mttf_seconds: float = 4 * 3600.0,
) -> DataFrame:
    """Resumable iterative loop — the batch twin of the reference's
    checkpoint/restart entry point (reference src/HPAT.jl:246-275 +
    310-328 `HPAT.restart`, src/checkpoint.jl:100-231: snapshot live
    loop state on a cost/MTTF cadence, then a generated _restart
    program reloads the last snapshot and continues the loop).

    ``step_fn(state, i) -> DataFrame`` advances one iteration;
    ``converged(old, new) -> bool`` (optional) stops early. Every
    ``snapshot_every`` iterations (and at convergence/exhaustion) the
    state is written DURABLY to ``path/iter_NNNNN`` through the Hadoop
    FS layer (works on any storage, not just local disk), then a 1-row
    ``_latest`` pointer is overwritten — in that order, so a crash
    between the two leaves the pointer on the previous complete
    snapshot. Calling again with the same ``path`` resumes from the
    pointer instead of iteration 0.

    ``snapshot_every=None`` derives the cadence the reference's way
    (src/checkpoint.jl:100-231): snapshot after the first step to
    MEASURE the snapshot cost, then snapshot whenever wall time since
    the last snapshot exceeds Young's sqrt(2·cost·MTTF)
    (:func:`mttf_snapshot_interval`, ``mttf_seconds`` defaults to a
    4-hour node MTTF — roughly a 1000-node cluster of 6-month-MTTF
    machines). Each snapshot re-measures its cost, so the cadence
    adapts as state grows.

    This is belt-and-braces beyond Spark's own task retry: task retry
    survives executor loss within a job, while the snapshot survives
    DRIVER loss — the case the reference's MTTF model actually targets
    at 1000-node scale. localCheckpoint still truncates lineage every
    iteration so plan depth stays constant between snapshots."""
    spark = state.sparkSession
    start = 0
    try:
        rows = spark.read.parquet(f"{path}/_latest").collect()
    except Exception:
        rows = []
    if rows:
        ptr = max(rows, key=lambda r: r.next_iter)
        state = spark.read.parquet(ptr.snapshot_dir)
        if ptr.done:
            # restart of a CONVERGED loop is a no-op (the reference's
            # _restart program likewise returns the final snapshot)
            return state
        start = int(ptr.next_iter)
    state = state.localCheckpoint(eager=True)

    def _snapshot(st: DataFrame, next_iter: int, done: bool) -> None:
        snap = f"{path}/iter_{next_iter:05d}"
        st.write.mode("overwrite").parquet(snap)
        spark.createDataFrame(
            [(next_iter, snap, done)],
            "next_iter int, snapshot_dir string, done boolean",
        ).coalesce(1).write.mode("overwrite").parquet(f"{path}/_latest")

    import time

    adaptive = snapshot_every is None
    interval: float | None = None  # unknown until first snapshot measured
    last_snap = time.monotonic()
    for i in range(start, max_iter):
        new_state = step_fn(state, i).localCheckpoint(eager=True)
        done = bool(converged(state, new_state)) if converged else False
        state = new_state
        if adaptive:
            due = interval is None or (time.monotonic() - last_snap) >= interval
        else:
            due = (i + 1) % snapshot_every == 0
        if done or due or i == max_iter - 1:
            t0 = time.monotonic()
            _snapshot(state, i + 1, done)
            if adaptive:
                interval = mttf_snapshot_interval(
                    time.monotonic() - t0, mttf_seconds
                )
                last_snap = time.monotonic()
        if done:
            break
    return state


def checkpointed_pagerank(
    edges: DataFrame,
    path: str,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    max_iter: int = 15,
    tol: float = 1e-6,
    snapshot_every: int = 5,
) -> DataFrame:
    """:func:`pagerank` re-expressed over :func:`checkpointed_loop`:
    rank state snapshots to ``path`` every ``snapshot_every``
    iterations and a rerun after a driver kill resumes from the last
    snapshot (pinned by tests/test_checkpoint_restart.py against the
    uninterrupted run). Same per-iteration plan as pagerank: one
    shuffle on dst for the contribution aggregation."""
    e = edges.select(F.col(src).alias("esrc"), F.col(dst).alias("edst"))
    e = e.localCheckpoint(eager=True)
    verts = (
        e.select(F.col("esrc").alias("vertex"))
        .union(e.select(F.col("edst").alias("vertex")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    degs = e.groupBy(F.col("esrc").alias("vertex")).agg(
        F.count(F.lit(1)).alias("out_deg")
    ).localCheckpoint(eager=True)

    def step(ranks: DataFrame, i: int) -> DataFrame:
        contribs = (
            e.join(ranks, e.esrc == ranks.vertex)
            .join(degs, "vertex")
            .select(
                F.col("edst").alias("vertex"),
                (F.col("rank") / F.col("out_deg")).alias("contrib"),
            )
            .groupBy("vertex")
            .agg(F.sum("contrib").alias("inflow"))
        )
        return verts.join(contribs, "vertex", "left").select(
            "vertex",
            (
                F.lit(1.0 - damping)
                + F.lit(damping) * F.coalesce(F.col("inflow"), F.lit(0.0))
            ).alias("rank"),
        )

    def close_enough(old: DataFrame, new: DataFrame) -> bool:
        d = (
            new.alias("n")
            .join(old.alias("o"), "vertex")
            .agg(F.max(F.abs(F.col("n.rank") - F.col("o.rank"))).alias("d"))
            .collect()[0]
            .d
        )
        return d is not None and d < tol

    init = verts.withColumn("rank", F.lit(1.0))
    return checkpointed_loop(
        init,
        step,
        path,
        max_iter=max_iter,
        snapshot_every=snapshot_every,
        converged=close_enough,
    )
