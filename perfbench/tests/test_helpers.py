"""Spark-free tests of the benchmark's pure helpers.

Run: python3 -m pytest perfbench/tests -q
"""

import random

import pytest

import stats
from stream import _schedule
from tracer import parse_sql_metric


def test_percentile_interpolates_like_numpy():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert stats.percentile(xs, 0.5) == 3.0
    assert stats.percentile(xs, 0.0) == 1.0
    assert stats.percentile(xs, 1.0) == 5.0
    assert stats.percentile(xs, 0.9) == pytest.approx(4.6)
    assert stats.percentile([7.0], 0.9) == 7.0


def test_hd_percentile_weighs_every_sample():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert stats.hd_percentile(xs, 0.5) == pytest.approx(3.0)  # symmetric weights
    assert stats.hd_percentile(xs, 0.0) == 1.0
    assert stats.hd_percentile(xs, 1.0) == 5.0
    assert stats.hd_percentile([7.0], 0.9) == 7.0
    assert 1.0 < stats.hd_percentile(xs, 0.1) < stats.hd_percentile(xs, 0.9) < 5.0
    # Two clusters: moving one sample across the gap moves the plain
    # median by the whole gap, the Harrell-Davis median by a fraction.
    low, high = [0.6] * 12 + [1.0] * 13, [0.6] * 13 + [1.0] * 12
    plain = stats.percentile(low, 0.5) - stats.percentile(high, 0.5)
    hd = stats.hd_percentile(low, 0.5) - stats.hd_percentile(high, 0.5)
    assert plain == pytest.approx(0.4)
    assert 0.0 < hd < 0.1
    with pytest.raises(ValueError):
        stats.hd_percentile([], 0.5)


def test_percentile_rejects_bad_input():
    with pytest.raises(ValueError):
        stats.percentile([], 0.5)
    with pytest.raises(ValueError):
        stats.percentile([1.0], 1.5)


@pytest.mark.parametrize(
    "n, q, ok",
    [(100, 0.9, True), (99, 0.9, False), (20, 0.5, True), (19, 0.5, False),
     (1000, 0.99, True), (999, 0.99, False), (0, 0.5, False)],
)
def test_tail_needs_ten_samples_beyond_it(n, q, ok):
    assert stats.supported(n, q) is ok


def test_highest_supported_level():
    assert stats.highest_supported(13) is None
    assert stats.highest_supported(40) == 0.75
    assert stats.highest_supported(186) == 0.9
    assert stats.highest_supported(1000) == 0.99


def test_union_merges_overlaps_and_drops_empty():
    assert stats.union([(3, 4), (0, 1), (0.5, 2), (5, 5), (2, 2.5)]) == [
        (0, 2.5), (3, 4)]


def test_self_time_clips_children_to_the_span():
    assert stats.self_time(0.0, 10.0, [(2.0, 5.0), (4.0, 6.0)]) == pytest.approx(6.0)
    assert stats.self_time(0.0, 10.0, [(-5.0, 1.0), (9.0, 20.0)]) == pytest.approx(8.0)
    assert stats.self_time(0.0, 2.0, [(0.0, 2.0)]) == 0.0
    # a query's driver gap: jobs cover 1-4, 6-7 and 9-10 of [0, 10]
    jobs = [(1.0, 3.0), (2.0, 4.0), (6.0, 7.0), (9.0, 12.0)]
    assert stats.self_time(0.0, 10.0, jobs) == pytest.approx(10.0 - 3.0 - 1.0 - 1.0)
    assert stats.self_time(0.0, 10.0, []) == 10.0


@pytest.mark.parametrize(
    "text, kind, value",
    [("274.8 KiB", "bytes", 274.8 * 1024), ("0.0 B", "bytes", 0.0),
     ("1.8 s", "time", 1.8), ("848 ms", "time", 0.848), ("2.0 m", "time", 120.0),
     ("total (min, med, max (stageId: taskId))\n1,018.0 KiB (0.0 B, 10.0 KiB, 1.0 MiB (stage 3.0: task 7))",
      "bytes", 1018.0 * 1024)],
)
def test_parse_sql_metric(text, kind, value):
    assert parse_sql_metric(text, kind) == pytest.approx(value)


def test_parse_sql_metric_rejects_unknown_units():
    with pytest.raises(ValueError):
        parse_sql_metric("3 parsecs", "time")


def test_arrival_schedule_is_a_function_of_the_seed():
    a = _schedule(random.Random(7), 10.0, 720)
    assert a == _schedule(random.Random(7), 10.0, 720)
    assert a != _schedule(random.Random(8), 10.0, 720)
    offsets = [t for t, _, _ in a]
    assert offsets == sorted(offsets) and offsets[-1] < 10.0
    # slots are numbered from 1; a retry repeats the slice before it
    assert [slot for _, slot, _ in a] == list(range(1, len(a) + 1))
    slices = [sl for _, _, sl in a]
    assert all(b in (s, s + 1) for s, b in zip([0] + slices, slices))


def test_files_map_to_the_batch_whose_offset_range_holds_them(tmp_path):
    from stream import _file_batches

    log_dir = tmp_path / "sources" / "0"
    log_dir.mkdir(parents=True)
    (log_dir / "0").write_text('v1\n{"path":"file:///in/a.parquet","timestamp":1,"batchId":0}\n')
    (log_dir / "1").write_text(
        'v1\n{"path":"file:///in/b.parquet","timestamp":2,"batchId":1}\n'
        '{"path":"file:///in/c.parquet","timestamp":2,"batchId":1}\n')
    (log_dir / "2").write_text('v1\n{"path":"file:///in/d.parquet","timestamp":3,"batchId":2}\n')

    def batch(bid, start, end):
        return {"batchId": bid, "sources": [{"startOffset": start, "endOffset": end}]}

    # The source's log offsets are not micro-batch ids: batch 1 is a
    # no-data batch, and batch 2 reads log offsets 1 and 2.
    progress = [batch(0, None, {"logOffset": 0}), batch(1, {"logOffset": 0}, {"logOffset": 0}),
                batch(2, {"logOffset": 0}, '{"logOffset": 2}')]
    got = {name: p["batchId"] for name, p in _file_batches(str(tmp_path), progress).items()}
    assert got == {"a.parquet": 0, "b.parquet": 2, "c.parquet": 2, "d.parquet": 2}


def test_benchmark_json_matches_the_metrics_run_py_prints():
    import json
    import os

    import run

    here = os.path.dirname(os.path.dirname(os.path.abspath(run.__file__)))
    with open(os.path.join(here, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
