"""``stream``: the ``ingest`` workload with no store reader.

The rate source feeds 20k events/s through ``full_ingest_stream`` into
``start_per_second_store``, as in ``ingest``, but nothing reads the
store. It loads ``streaming/pipeline`` per-batch overhead, state and the
``streaming/serving_store`` upserts, and every operation (a micro-batch)
succeeds, so it is the stream workload ``BENCHMARK.json`` lists while
store reads during upserts can still fail.
"""

from __future__ import annotations

from perfbench import ingest

prepare = ingest.prepare
warm = ingest.warm


def measure(ctx):
    return ingest.measure(ctx, read=False)
