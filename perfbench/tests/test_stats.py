"""Unit tests of the benchmark's statistics and metric catalogue.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import re

import pytest

from perfbench import stats
from perfbench.layers import DETAIL, E2E, PER_LAYER

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def progress(batch_id, start, dur_ms, rows, event_min=None):
    rec = {
        "batchId": batch_id,
        "timestamp": start,
        "durationMs": {"triggerExecution": dur_ms},
        "numInputRows": rows,
    }
    if event_min is not None:
        rec["eventTime"] = {"min": event_min}
    return rec


def test_nearest_rank():
    assert stats.nearest_rank([1, 2, 3, 4], 0.5) == 2
    assert stats.nearest_rank([1, 2, 3, 4], 0.75) == 3
    assert stats.nearest_rank([1, 2, 3, 4], 1.0) == 4
    assert stats.nearest_rank([7], 0.01) == 7
    assert stats.median([5, 1, 3]) == 3
    with pytest.raises(ValueError):
        stats.nearest_rank([], 0.5)


def test_tail_leaves_ten_samples_beyond():
    values = list(range(1, 101))  # 1..100
    value, q, n = stats.tail(values)
    assert (value, q, n) == (90, 0.9, 100)
    assert sum(v > value for v in values) == 10
    # 20 samples: the rank with ten beyond it is the median
    value, q, n = stats.tail(list(range(20, 0, -1)))
    assert (value, q, n) == (10, 0.5, 20)


def test_tail_without_enough_samples_is_the_maximum():
    assert stats.tail([3, 9, 1]) == (9, 1.0, 3)
    # 11 samples leave ten beyond rank 1, but that is below the median
    assert stats.tail(list(range(11))) == (10, 1.0, 11)
    assert stats.tail(list(range(19))) == (18, 1.0, 19)
    with pytest.raises(ValueError):
        stats.tail([])


def test_batch_freshness_from_progress():
    rec = progress(4, "2026-10-17T09:40:01.500Z", 1250, 20000, "2026-10-17T09:40:00.000Z")
    # ends at 09:40:02.750; oldest event at 09:40:00.000
    assert stats.batch_freshness_s(rec) == pytest.approx(2.75)
    assert stats.batch_freshness_s(progress(5, "2026-10-17T09:40:03.000Z", 10, 0)) is None
    assert stats.batch_freshness_s(progress(6, "2026-10-17T09:40:03.000Z", 10, 5)) is None


def test_mean_phase_freshness():
    # started 0.3 s into a source second that began at 09:40:00.000
    rec = progress(4, "2026-10-17T09:40:01.300Z", 1250, 20000, "2026-10-17T09:40:00.000Z")
    assert stats.batch_freshness_s(rec) == pytest.approx(2.55)
    # the 0.3 s phase becomes 0.5 s; the whole second queued stays
    assert stats.mean_phase_freshness_s(rec) == pytest.approx(2.75)
    rec = progress(5, "2026-10-17T09:40:03.900Z", 800, 40000, "2026-10-17T09:40:01.000Z")
    assert stats.mean_phase_freshness_s(rec) == pytest.approx(0.8 + 2 + 0.5)
    assert stats.mean_phase_freshness_s(progress(6, "2026-10-17T09:40:03.000Z", 10, 0)) is None


def test_keepup_over_window():
    batches = [
        progress(1, "2026-10-17T09:40:00.000Z", 1000, 20000),
        progress(2, "2026-10-17T09:40:01.000Z", 1000, 20000),
        progress(3, "2026-10-17T09:40:02.000Z", 2000, 20000),
    ]
    # 60k rows over 4 s offered at 20k/s (80k rows)
    assert stats.keepup(batches, 20000) == pytest.approx(0.75)
    assert stats.keepup(batches[:2], 20000) == pytest.approx(1.0)
    with pytest.raises(ValueError):
        stats.keepup([], 20000)


def test_benchmark_json_matches_the_catalogue():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == E2E
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == {
        name: unit for name, (unit, _) in PER_LAYER.items()
    }


def test_metric_names_are_well_formed():
    for name in [*E2E, *PER_LAYER, *DETAIL]:
        assert re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", name), name
    assert not set(PER_LAYER) & set(DETAIL)


def test_in_flight_batch_from_checkpoint(tmp_path):
    from perfbench import ingest

    query = tmp_path / "query-id"
    (query / "offsets").mkdir(parents=True)
    (query / "commits").mkdir()
    for batch_id, seconds in ((0, 3), (1, 4), (2, 6)):
        (query / "offsets" / str(batch_id)).write_text(f'v1\n{{"batchWatermarkMs":0}}\n{seconds}')
    for batch_id in (0, 1):
        (query / "commits" / str(batch_id)).write_text('v1\n{"nextBatchWatermarkMs":0}')
    # batch 2 (seconds 4..6) was cut off before its commit
    assert ingest._in_flight_rows(str(tmp_path), 1) == (2 * ingest.RATE, False)
    assert ingest._in_flight_rows(str(tmp_path), 2) == (0, False)
    # two batches without progress: the check cannot account for them
    assert ingest._in_flight_rows(str(tmp_path), 0) is None
    (query / "commits" / "2").write_text('v1\n{"nextBatchWatermarkMs":0}')
    assert ingest._in_flight_rows(str(tmp_path), 1) == (2 * ingest.RATE, True)
