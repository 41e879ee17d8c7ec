"""Pure statistics for the benchmark: percentiles, the tail rule,
per-batch freshness from streaming progress records and keep-up."""

from __future__ import annotations

import math
from datetime import datetime


def nearest_rank(sorted_values: list[float], q: float) -> float:
    """Nearest-rank percentile of an ascending list: the value at rank
    ceil(q·n) (1-based), so q=0.5 of [1, 2, 3, 4] is 2."""
    if not sorted_values:
        raise ValueError("nearest_rank of an empty list")
    n = len(sorted_values)
    return sorted_values[min(max(math.ceil(q * n), 1), n) - 1]


def median(values: list[float]) -> float:
    return nearest_rank(sorted(values), 0.5)


def tail(values: list[float], beyond: int = 10) -> tuple[float, float, int]:
    """The highest percentile that still leaves at least ``beyond``
    samples strictly above its rank, as (value, percentile, n).

    With n samples the rank is n - beyond, so the percentile is
    (n - beyond) / n: p90 at n=100, p50 at n=20. Below 2·beyond samples
    that rank falls under the median and is no tail; the maximum is
    returned instead, with percentile 1.0, so a short run still reports
    its worst sample."""
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("tail of an empty list")
    if n < 2 * beyond:
        return s[-1], 1.0, n
    rank = n - beyond
    return s[rank - 1], rank / n, n


def parse_ts(text: str) -> float:
    """Epoch seconds of a streaming-progress timestamp such as
    ``2026-10-17T09:40:01.123Z``."""
    return datetime.fromisoformat(text.replace("Z", "+00:00")).timestamp()


def batch_freshness_s(progress: dict) -> float | None:
    """Event-to-servable wait of a micro-batch's oldest event: the batch
    ends at ``timestamp + durationMs.triggerExecution`` and its oldest
    event was produced at ``eventTime.min``. None for a batch without
    input (no event time is reported)."""
    if not progress.get("numInputRows"):
        return None
    event_min = (progress.get("eventTime") or {}).get("min")
    if event_min is None:
        return None
    end = parse_ts(progress["timestamp"]) + progress["durationMs"]["triggerExecution"] / 1e3
    return end - parse_ts(event_min)


def mean_phase_freshness_s(progress: dict) -> float | None:
    """``batch_freshness_s`` at the mean phase of the rate source.

    The source counts whole seconds from its own start, and the 1 s
    trigger fires on whole wall-clock seconds. How far into a source
    second a batch starts, (timestamp - eventTime.min) mod 1 s, is thus
    set by the millisecond the source started: fixed through a run whose
    batches keep to the trigger, and uniform over [0, 1 s) across runs.
    Replacing it by its mean, 0.5 s, keeps the whole seconds the oldest
    event queued and the batch's own time, and removes that run-to-run
    noise. None for a batch without input."""
    fresh = batch_freshness_s(progress)
    if fresh is None:
        return None
    wait = parse_ts(progress["timestamp"]) - parse_ts(progress["eventTime"]["min"])
    return fresh - wait % 1.0 + 0.5


def keepup(progress: list[dict], rows_per_second: float) -> float:
    """Rows processed ÷ rows offered over the window the batches span:
    from the start of the first batch to the end of the last. A source
    that is kept up with gives about 1; a growing backlog gives less."""
    if not progress:
        raise ValueError("keepup over no batches")
    start = parse_ts(progress[0]["timestamp"])
    last = progress[-1]
    end = parse_ts(last["timestamp"]) + last["durationMs"]["triggerExecution"] / 1e3
    processed = sum(p["numInputRows"] for p in progress)
    return processed / (rows_per_second * (end - start))
