"""Closed-loop batch workloads: one client runs the workload's
registered queries back to back, each writing to the noop sink.

Every execution calls the registered function afresh (its py4j plan
build is part of the query), ``spark.catalog.clearCache()`` runs before
each query, and the jobs of each execution are tagged with a job group
named after the query and pass. The query order of each pass is
shuffled by ``--seed``.

The first pass of a fresh session collects every result to the driver
(what a one-off job pays). Three untimed warm-up passes follow. Warm
passes then run back to back until those during which the hypervisor
stole at most ``box.STEAL_LIMIT`` of the CPU time cover ``--seconds``
(and are at least three), or until three times ``--seconds`` are up.
Only those quiet passes make the warm figures, unless no pass was
quiet.
Each query record also keeps its wall as the loop's own clock sees it
(``loop_s``, from before clearCache to the end of the write), which
the traced run holds its spans against. The collected results are
compared with their DuckDB oracles once the session has stopped,
outside every timer and the RSS sampler's window.
"""

from __future__ import annotations

import gc
import random
import sys
import time
import traceback

import box
from stats import percentile

WARMUP_PASSES = 3
MIN_WARM_PASSES = 3
MAX_STRETCH = 3.0


def _order(names: list[str], seed: int, pass_idx: int) -> list[str]:
    order = list(names)
    random.Random(f"{seed}:{pass_idx}").shuffle(order)
    return order


def _run_pass(spark, tracer, fns, names, sf_dir, pass_idx, collect, log):
    """One pass over ``names``; returns (wall_s, query records, outputs)."""
    sc = spark.sparkContext
    records, outputs = [], {}
    with tracer.span(f"pass {pass_idx}", "pass", cold=collect):
        t_pass = time.perf_counter()
        for name in names:
            t_loop = time.perf_counter()
            spark.catalog.clearCache()
            group = f"{name}#{pass_idx}"
            sc.setJobGroup(group, name)
            rec = {"name": name, "pass": pass_idx, "ok": True}
            with tracer.span(name, "query", pass_idx=pass_idx) as span:
                t0 = time.perf_counter()
                try:
                    with tracer.span("build", "build"):
                        df = fns[name](spark, sf_dir)
                    t1 = time.perf_counter()
                    with tracer.span("execute", "execute"):
                        if collect:
                            outputs[name] = df.toPandas()
                        else:
                            df.write.format("noop").mode("overwrite").save()
                    t2 = time.perf_counter()
                    rec.update(build_s=t1 - t0, execute_s=t2 - t1, wall_s=t2 - t0,
                               loop_s=t2 - t_loop)
                except Exception as exc:  # noqa: BLE001 — one query must not end the run
                    rec.update(ok=False, wall_s=time.perf_counter() - t0,
                               error=f"{type(exc).__name__}: {exc}"[:500])
                    log(f"{name}: FAILED {rec['error'][:200]}")
                    traceback.print_exc(file=sys.stderr)
            tracer.query_done(group, span)
            if tracer.enabled:
                rec["span"] = span
            records.append(rec)
        wall = time.perf_counter() - t_pass
    sc.setJobGroup("perfbench", "between queries")
    return wall, records, outputs


def gate(registry, sf_dir, outputs, log) -> dict[str, list[str]]:
    """Compare each collected result with its DuckDB oracle; returns
    {query: problems} for every query that has an oracle."""
    from hpat_jl_spark.testing import compare_frames, duckdb_con

    con = duckdb_con(sf_dir)
    problems = {}
    try:
        for name, actual in outputs.items():
            spec = registry.REGISTRY[name]
            if spec.oracle is None:
                raise ValueError(f"{name} has no oracle; the benchmark only runs gated queries")
            expected = con.execute(spec.oracle).df()
            problems[name] = compare_frames(actual, expected, float_tol=spec.float_tol)
            if problems[name]:
                log(f"{name}: ORACLE MISMATCH {problems[name]}")
    finally:
        con.close()
    return problems


def run(spark, tracer, registry, queries: list[str], sf_dir: str, seed: int,
        seconds: float, log) -> dict:
    """Cold pass collecting every result, then warm passes for
    ``seconds``. ``res["check"]()`` runs the oracle gate later."""
    fns = {name: registry.REGISTRY[name].fn for name in queries}
    cold_wall, cold, outputs = _run_pass(
        spark, tracer, fns, _order(queries, seed, 0), sf_dir, 0, True, log)
    log(f"cold pass {cold_wall:.2f}s")
    gc.collect()  # the cold pass's garbage must not be freed inside a timed pass
    walls, steals, warm = [], [], []
    pass_idx = 1
    t_warm = None

    def quiet() -> list[int]:
        return [i for i in range(WARMUP_PASSES + 1, pass_idx)
                if steals[i - 1] <= box.STEAL_LIMIT]

    def done() -> bool:
        if pass_idx <= WARMUP_PASSES + MIN_WARM_PASSES:
            return False
        q = quiet()
        return (len(q) >= MIN_WARM_PASSES and sum(walls[i - 1] for i in q) >= seconds
                or time.perf_counter() - t_warm >= MAX_STRETCH * seconds)

    # WARMUP_PASSES untimed passes first: on corpus every query got
    # faster from pass to pass, by about 10% a pass over the first three
    # warm passes (5.2, 4.8, 4.7 s) and by about 5% a pass after them.
    # Then whole passes until the quiet ones (steal at most
    # box.STEAL_LIMIT) cover ``seconds`` and number at least
    # MIN_WARM_PASSES, or until MAX_STRETCH * ``seconds`` are up. Three
    # passes of 3.4-4.7 s cover 10 s, so on a quiet host every run
    # times the same pass numbers, and the drift between passes does
    # not move its median. Host episodes often ended within a minute, so
    # a busy run keeps going for up to MAX_STRETCH times ``seconds`` to
    # find quiet passes.
    while not done():
        if pass_idx == WARMUP_PASSES + 1:
            t_warm = time.perf_counter()
        jiffies = box.cpu_jiffies()
        wall, recs, _ = _run_pass(
            spark, tracer, fns, _order(queries, seed, pass_idx), sf_dir,
            pass_idx, False, log)
        steals.append(box.steal_share(jiffies, box.cpu_jiffies()))
        kind = "warm-up" if pass_idx <= WARMUP_PASSES else "warm"
        log(f"{kind} pass {pass_idx} {wall:.2f}s, steal {steals[-1]:.3f}")
        walls.append(wall)
        warm.extend(recs)
        pass_idx += 1
    # A pass that ran on a busy host measures the host: it is left out
    # of the warm figures, unless every pass was.
    used = set(quiet())
    if not used:
        log(f"every warm pass saw CPU steal above {box.STEAL_LIMIT}; all are kept")
        used = set(range(WARMUP_PASSES + 1, pass_idx))
    for r in warm:
        r["used"] = r["pass"] in used
    lat = [r["wall_s"] for r in warm if r["ok"] and r["used"]]
    records = cold + warm
    return {
        "attempted": len(records),
        "failed": sum(not r["ok"] for r in records),
        "gated": len(queries),
        "check": lambda: gate(registry, sf_dir, outputs, log),
        "cold_pass_s": cold_wall,
        "warm_pass_s": percentile([walls[i - 1] for i in sorted(used)], 0.5),
        "warm_passes": walls,
        "pass_steal": steals,
        "used_passes": sorted(used),
        "latencies": lat,
        "records": records,
    }
