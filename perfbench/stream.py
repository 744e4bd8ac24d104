"""Open-loop streaming workload over the ``events`` table.

The events are cut into one-hour event-time slices, each written as
its own parquet file before the clock starts. One generator thread then
moves them by atomic rename into a watched directory on a schedule of
seeded exponential gaps (mean rate ``RATE_PER_S``), regardless of how
the engine keeps up; about one slot in five re-delivers the previous
slice under a new name, the at-least-once retry that the dedup stream
exists for. Two streaming queries read that directory with the default
trigger and write parquet file sinks with checkpoints:

- ``streaming.windows.tumbling_counts`` (1 hour windows, 2 hour
  watermark, append mode), and
- ``streaming.dedup.dedup_within_watermark`` on ``event_id`` (1 hour).

A file's latency runs from its scheduled arrival to the end of the
micro-batch that contains it, per query, read from each checkpoint's
source log and the query's progress reports. The first file is placed
before the queries start; the time to commit it is the stream's cold
start. Afterwards the sinks are checked against the
``stream_tumbling_counts`` and ``stream_dedup_events`` oracles replayed
by DuckDB over exactly the files that were delivered.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import random
import shutil
import threading
import time
from urllib.parse import unquote, urlparse

import pyarrow.compute as pc
import pyarrow.parquet as pq

from stats import percentile

# Files per second. Measured on the 4-core reference box at 8 s runs,
# two seeds each: at 5, 10 and 20 files/s a micro-batch took 0.9-1.1 s
# and the median latency was 1.3-1.7 s, flat; at 40 files/s batches took
# 1.4-2.3 s, latency doubled and up to 106 files waited. 10 is half the
# highest rate that stayed flat.
RATE_PER_S = 10.0
# The load stays open-loop only while the generator keeps its schedule:
# a file placed later than half the mean gap after its due time makes
# the run count a failure.
LAG_BOUND_S = 0.5 / RATE_PER_S
RETRY_SHARE = 0.2
SLICE_US = 3_600_000_000
DRAIN_TIMEOUT_S = 30.0
WINDOW, WATERMARK, DEDUP_DELAY = "1 hour", "2 hours", "1 hour"


def _schedule(rng: random.Random, seconds: float, n_slices: int) -> list[tuple[float, int, int]]:
    """(offset_s, slot, slice) per delivery after the first slice."""
    out, t, last = [], 0.0, 0
    while True:
        t += rng.expovariate(RATE_PER_S)
        if t >= seconds:
            return out
        if last > 0 and rng.random() < RETRY_SHARE:
            out.append((t, len(out) + 1, last))
        elif last + 1 < n_slices:
            last += 1
            out.append((t, len(out) + 1, last))
        else:
            raise ValueError("run too long for the events table's slices")


def _slices(events_path: str):
    """The events table and its slice origin and count."""
    table = pq.read_table(events_path)
    ts = pc.cast(table["ts"], "int64")
    t0 = pc.min(ts).as_py() // SLICE_US * SLICE_US
    return table, ts, t0, (pc.max(ts).as_py() - t0) // SLICE_US + 1


def _stage(table, ts, t0: int, deliveries, staging: str) -> dict[int, str]:
    """Write one file per delivery slot; returns slot -> file name."""
    names = {}
    for slot, sl in deliveries:
        lo, hi = t0 + sl * SLICE_US, t0 + (sl + 1) * SLICE_US
        part = table.filter(pc.and_(pc.greater_equal(ts, lo), pc.less(ts, hi)))
        names[slot] = f"slot{slot:05d}_slice{sl:04d}.parquet"
        pq.write_table(part, os.path.join(staging, names[slot]))
    return names


def _progress(q) -> list[dict]:
    return [json.loads(p.json) for p in q.recentProgress]


def _epoch(iso: str) -> float:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _log_offsets(checkpoint: str) -> dict[str, int]:
    """file name -> the file source's log offset that listed it."""
    out = {}
    for path in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        if path.endswith(".tmp") or os.path.basename(path).startswith("."):
            continue
        try:
            with open(path) as fh:
                lines = fh.read().splitlines()[1:]
        except OSError:
            continue
        for line in lines:
            try:
                entry = json.loads(line)
            except ValueError:
                continue  # being written
            out[os.path.basename(entry["path"])] = entry["batchId"]
    return out


def _offset(value) -> int:
    if value is None:
        return -1
    if isinstance(value, str):
        value = json.loads(value)
    return value["logOffset"]


def _file_batches(checkpoint: str, progress: list[dict]) -> dict[str, dict]:
    """file name -> the progress report of the micro-batch that read it.
    A batch reads the source log offsets in (startOffset, endOffset]."""
    ranges = [(_offset(p["sources"][0]["startOffset"]), _offset(p["sources"][0]["endOffset"]), p)
              for p in progress if p["sources"]]
    out = {}
    for name, off in _log_offsets(checkpoint).items():
        for lo, hi, p in ranges:
            if lo < off <= hi:
                out[name] = p
                break
    return out


def _batch_end(p: dict) -> float:
    return _epoch(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1000.0


class _Generator(threading.Thread):
    def __init__(self, schedule, names, staging, incoming, origin):
        super().__init__(name="loadgen", daemon=True)
        self.schedule, self.names = schedule, names
        self.staging, self.incoming, self.origin = staging, incoming, origin
        self.due: dict[str, float] = {}
        self.lag: list[float] = []
        self.stop_evt = threading.Event()

    def run(self) -> None:
        for offset, slot, _ in self.schedule:
            due = self.origin + offset
            if self.stop_evt.wait(max(0.0, due - time.time())):
                return
            name = self.names[slot]
            os.rename(os.path.join(self.staging, name), os.path.join(self.incoming, name))
            self.lag.append(time.time() - due)
            self.due[name] = due


def _sink_files(sink: str) -> list[str]:
    """Data files the sink committed, from its _spark_metadata log."""
    live: dict[str, bool] = {}
    for path in sorted(glob.glob(os.path.join(sink, "_spark_metadata", "*"))):
        if not os.path.basename(path).split(".")[0].isdigit():
            continue
        with open(path) as fh:
            for line in fh.read().splitlines()[1:]:
                entry = json.loads(line)
                live[unquote(urlparse(entry["path"]).path)] = entry["action"] != "delete"
    return sorted(p for p, alive in live.items() if alive)


def gate(registry, info: dict, log) -> dict[str, list[str]]:
    """Replay the stream oracles in DuckDB over the delivered files and
    compare them with what the sinks committed. Needs no Spark session."""
    import duckdb
    import pandas as pd

    from hpat_jl_spark.testing import compare_frames

    con = duckdb.connect()
    problems = {}
    try:
        con.execute("SET TimeZone = 'UTC'")

        def sink(files: list[str], sql: str, columns: list[str]) -> pd.DataFrame:
            if not files:
                return pd.DataFrame(columns=columns)
            return con.execute(sql.format(src=f"read_parquet({files!r})")).df()

        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet({info['delivered']!r})")
        spec = registry.REGISTRY["stream_tumbling_counts"]
        expected = con.execute(
            f"SELECT * FROM ({spec.oracle}) WHERE epoch(win_start) + 3600 <= {info['watermark']}"
        ).df()
        actual = sink(_sink_files(info["tumbling"]),
                      "SELECT start::TIMESTAMP AS win_start, event_type, "
                      "n_events::BIGINT AS n_events, total_value FROM {src}",
                      list(expected.columns))
        problems["stream_tumbling_counts"] = compare_frames(actual, expected, spec.float_tol)
        con.execute("DROP VIEW events")
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet({info['unique']!r})")
        spec = registry.REGISTRY["stream_dedup_events"]
        expected = con.execute(spec.oracle).df()
        actual = sink(_sink_files(info["dedup"]),
                      "SELECT event_type, count(*)::BIGINT AS n_events, "
                      "round(sum(value), 2) AS total_value FROM {src} GROUP BY event_type",
                      list(expected.columns))
        problems["stream_dedup_events"] = compare_frames(actual, expected, spec.float_tol)
    finally:
        con.close()
    for name, p in problems.items():
        if p:
            log(f"{name}: ORACLE MISMATCH {p}")
    return problems


def run(spark, tracer, registry, sf_dir: str, work: str, seed: int, seconds: float, log) -> dict:
    from hpat_jl_spark.streaming.dedup import dedup_within_watermark
    from hpat_jl_spark.streaming.sources import stream_events
    from hpat_jl_spark.streaming.windows import tumbling_counts

    base = os.path.join(work, "stream")
    shutil.rmtree(base, ignore_errors=True)
    dirs = {k: os.path.join(base, k) for k in ("staging", "incoming", "tumbling", "dedup",
                                              "ck_tumbling", "ck_dedup")}
    for d in dirs.values():
        os.makedirs(d)
    table, ts, t0, n_slices = _slices(os.path.join(sf_dir, "events.parquet"))
    schedule = _schedule(random.Random(seed), seconds, n_slices)
    deliveries = [(0, 0)] + [(slot, sl) for _, slot, sl in schedule]
    names = _stage(table, ts, t0, deliveries, dirs["staging"])
    del table, ts
    first: dict[int, int] = {}  # slice -> slot of its first delivery
    for slot, sl in deliveries:
        first.setdefault(sl, slot)
    unique = [os.path.join(dirs["incoming"], names[slot]) for slot in first.values()]

    os.rename(os.path.join(dirs["staging"], names[0]), os.path.join(dirs["incoming"], names[0]))
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
    sc = spark.sparkContext
    sc.setJobGroup("events_stream", "events_stream")
    queries = {}
    with tracer.span("events_stream", "pass") as window:
        t_start = time.time()
        with tracer.span("build", "build"):
            ev = stream_events(spark, dirs["incoming"])
            plans = {
                "tumbling": tumbling_counts(ev, window=WINDOW, watermark=WATERMARK),
                "dedup": dedup_within_watermark(ev, keys=["event_id"], delay=DEDUP_DELAY),
            }
            for key, df in plans.items():
                queries[key] = (df.writeStream.format("parquet").outputMode("append")
                                .option("path", dirs[key])
                                .option("checkpointLocation", dirs[f"ck_{key}"])
                                .queryName(f"perfbench_{key}").start())
        try:
            cold_end = _wait_committed(queries, dirs, {names[0]}, DRAIN_TIMEOUT_S)
            cold_s = cold_end - t_start if cold_end else float("nan")
            gen = _Generator(schedule, names, dirs["staging"], dirs["incoming"], time.time())
            with tracer.span("measure", "execute"):
                gen.start()
                gen.join(seconds + DRAIN_TIMEOUT_S)
                gen.stop_evt.set()
                drained = _wait_committed(queries, dirs, set(gen.due), DRAIN_TIMEOUT_S)
                if drained is None or not _wait_idle(queries, dirs, DRAIN_TIMEOUT_S):
                    log("stream: not every delivered file was committed in time")
            progress = {k: _progress(q) for k, q in queries.items()}
            errors = {k: str(q.exception()) for k, q in queries.items() if q.exception()}
        finally:
            for q in queries.values():
                q.stop()
    tracer.query_done(None, window)
    sc.setJobGroup("perfbench", "after the stream")

    latencies, missing, backlog = [], 0, 0
    for key, prog in progress.items():
        batch_of = _file_batches(dirs[f"ck_{key}"], prog)
        for name, due in gen.due.items():
            if name in batch_of:
                latencies.append(_batch_end(batch_of[name]) - due)
            else:
                missing += 1
        for p in prog:
            start = _epoch(p["timestamp"])
            waiting = sum(1 for n, due in gen.due.items()
                          if due <= start and (n not in batch_of
                                               or batch_of[n]["batchId"] >= p["batchId"]))
            backlog = max(backlog, waiting)
    info = {"delivered": sorted(glob.glob(os.path.join(dirs["incoming"], "*.parquet"))),
            "unique": sorted(unique), "tumbling": dirs["tumbling"], "dedup": dirs["dedup"],
            "watermark": _sink_watermark(dirs["tumbling"], dirs["ck_tumbling"])}
    for key, err in errors.items():
        log(f"stream {key} failed: {err}")
    lag = max(gen.lag) if gen.lag else 0.0
    late = lag > LAG_BOUND_S
    if late:
        log(f"stream: the generator ran {lag:.3f}s late (bound {LAG_BOUND_S}s); counted as a failure")
    warm = [p for prog in progress.values() for p in prog
            if p["batchId"] > 0 and p.get("numInputRows", 0) > 0]
    triggers = [p["durationMs"]["triggerExecution"] / 1000.0 for p in warm]
    last = [prog[-1] for prog in progress.values() if prog]
    return {
        "attempted": len(gen.due) * len(queries),
        "failed": missing + len(errors) + late,
        "gated": 2,
        "check": lambda: gate(registry, info, log),
        "cold_pass_s": cold_s,
        "warm_pass_s": percentile(triggers, 0.5) if triggers else float("nan"),
        "latencies": latencies,
        "layers": {
            "streaming.batches": sum(len(p) for p in progress.values()),
            "streaming.trigger_ms": percentile([t * 1000 for t in triggers], 0.5) if triggers else 0.0,
            "streaming.add_batch_ms": _median_ms(warm, ("addBatch",)),
            "streaming.commit_ms": _median_ms(warm, ("walCommit", "commitOffsets")),
            "streaming.state_rows": sum(s.get("numRowsTotal", 0) for p in last
                                        for s in p.get("stateOperators", [])),
            "streaming.state_bytes": sum(s.get("memoryUsedBytes", 0) for p in last
                                         for s in p.get("stateOperators", [])),
            "streaming.backlog_files": backlog,
            "loadgen.lag_s": lag,
        },
        "deliveries": gen.due,
        "progress": progress,
        "span": window,
    }


def _sink_watermark(sink: str, checkpoint: str) -> float:
    """Event-time watermark (epoch s) of the last batch the sink
    committed: append mode has emitted exactly the windows that end at
    or before it."""
    batches = [int(os.path.basename(p).split(".")[0])
               for p in glob.glob(os.path.join(sink, "_spark_metadata", "*"))
               if os.path.basename(p).split(".")[0].isdigit()]
    if not batches:
        return 0.0
    with open(os.path.join(checkpoint, "offsets", str(max(batches)))) as fh:
        meta = json.loads(fh.read().splitlines()[1])
    return meta["batchWatermarkMs"] / 1000.0


def _median_ms(batches: list[dict], keys: tuple[str, ...]) -> float:
    vals = [sum(p["durationMs"].get(k, 0) for k in keys) for p in batches]
    return percentile(vals, 0.5) if vals else 0.0


def _batch_ids(path: str) -> list[int]:
    return [int(n) for n in os.listdir(path) if n.isdigit()] if os.path.isdir(path) else []


def _wait_idle(queries, dirs, timeout: float, settle: int = 3) -> bool:
    """Wait until no query has a batch planned but not committed, for
    ``settle`` polls in a row. After the last data batch the engine runs
    a no-data batch that advances the watermark; the windows it closes
    and the dedup rows it releases reach the sinks only then."""
    deadline, calm = time.time() + timeout, 0
    while time.time() < deadline:
        idle = all(
            not q.status["isTriggerActive"]
            and max(_batch_ids(os.path.join(dirs[f"ck_{k}"], "offsets")), default=-1)
            == max(_batch_ids(os.path.join(dirs[f"ck_{k}"], "commits")), default=-1)
            for k, q in queries.items()
        )
        calm = calm + 1 if idle else 0
        if calm >= settle:
            return True
        time.sleep(0.2)
    return False


def _wait_committed(queries, dirs, names: set[str], timeout: float) -> float | None:
    """Wait until every file in ``names`` sits in a finished batch of
    every query; returns the latest of those batch end times, or None
    on timeout or a failed query."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        latest = 0.0
        for key, q in queries.items():
            if q.exception() is not None:
                return None
            batch_of = _file_batches(dirs[f"ck_{key}"], _progress(q))
            if any(n not in batch_of for n in names):
                break
            latest = max([latest] + [_batch_end(batch_of[n]) for n in names])
        else:
            return latest
        time.sleep(0.1)
    return None
