"""``stream_dedup`` and ``stream_sessionize`` run their watermark
operators with ``no_data_batches=False`` (no trailing watermark-advance
micro-batch).  Their comments argue that the skipped batch emits
nothing; this proves it on the exact driver pipelines: each runs under
both settings and must return the same frame."""

from collections import Counter

import pytest

from emiproc_spark.driver_queries import streaming as dq


@pytest.mark.parametrize("query", ["q_stream_dedup", "q_stream_sessionize"])
def test_no_data_batch_skip_keeps_the_frame(spark, sf_dir, monkeypatch, query):
    real = dq._run_stream
    requested = []

    def forced(setting):
        def run(out_df, name, mode, no_data_batches=True):
            requested.append(no_data_batches)
            return real(out_df, name, mode, no_data_batches=setting)

        return run

    frames = {}
    for setting in (True, False):
        monkeypatch.setattr(dq, "_run_stream", forced(setting))
        rows = getattr(dq, query)(spark, sf_dir).collect()
        frames[setting] = Counter(tuple(r) for r in rows)
    # the driver query itself asks for the skip: that is the claim proven
    assert requested == [False, False]
    assert frames[False]
    assert frames[True] == frames[False]
