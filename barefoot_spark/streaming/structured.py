"""Structured Streaming map matching: applyInPandasWithState wrapper
around the online matcher.

The streaming analog of the reference's tracker server
(tracker/TrackerServer.java:152-258 + TemporaryMemory TTL): samples
arrive on a stream, state is the per-trace bounded KState (serialized
through the JSON round-trip of streaming.online — the reference's own
persistence format precedent, markov/KState.java:304-335), and each
micro-batch emits the updated filter estimates. State TTL uses the
processing-time timeout; expired traces are dropped exactly like the
TemporaryMemory cleaner thread (TemporaryMemory.java:49-78).
"""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType, LongType, StringType, StructField, StructType,
)

from ..operators.match import MatcherParams
from .online import (
    OnlineMatcher, process_batch, state_from_json, state_to_json,
)

ESTIMATE_SCHEMA = StructType([
    StructField("trace_id", StringType()),
    StructField("time", LongType()),
    StructField("edge_id", LongType()),
    StructField("fraction", DoubleType()),
    StructField("lat", DoubleType()),
    StructField("lon", DoubleType()),
    StructField("filtprob", DoubleType()),
])

STATE_SCHEMA = StructType([StructField("state_json", StringType())])


def match_stream(samples: DataFrame, idx_bc, params: MatcherParams | None = None,
                 k: int = -1, tau_ms: int = -1, ttl_ms: int = 60_000,
                 sensitive_m: float = 0.0, use_ttl_timeout: bool = False) -> DataFrame:
    """samples streaming DF (trace_id, sample_id, time, lat, lon
    [, azimuth]) -> streaming estimates, stateful per trace_id.

    Each group invocation rebuilds a single-trace OnlineMatcher (with a
    fresh route cache) from the serialized state, folds the micro-batch's
    samples through ``online.process_batch`` (time order, equal times in
    arrival order; the same forward_step and route search as the offline
    kernel), emits published estimates, and stores the bounded state
    back.

    use_ttl_timeout enables processing-time state expiry (the tracker's
    TTL reaper). Leave it off for availableNow/batch-drain usage: a
    processing-time timeout makes the engine schedule perpetual empty
    micro-batches, so processAllAvailable() never settles.
    """
    params = params or MatcherParams()

    def fn(key, pdf_iter, state: GroupState):
        trace_id = key[0]
        idx = idx_bc.value
        matcher = OnlineMatcher(idx, params, k=k, tau_ms=tau_ms, ttl_ms=ttl_ms,
                                sensitive_m=sensitive_m)
        if state.hasTimedOut:
            state.remove()
            return iter(())
        if state.exists:
            matcher.states[trace_id] = state_from_json(json.loads(state.get[0]))
        # the group's Arrow chunks in arrival order, sorted as one batch
        rows = process_batch(matcher, pd.concat(list(pdf_iter),
                                                ignore_index=True))
        st = matcher.states.get(trace_id)
        if st is not None:
            state.update((json.dumps(state_to_json(st)),))
            if use_ttl_timeout:
                state.setTimeoutDuration(ttl_ms)
        out = pd.DataFrame(rows, columns=[f.name for f in ESTIMATE_SCHEMA.fields])
        return iter((out,))

    timeout_conf = (GroupStateTimeout.ProcessingTimeTimeout if use_ttl_timeout
                    else GroupStateTimeout.NoTimeout)
    return samples.groupBy("trace_id").applyInPandasWithState(
        fn, ESTIMATE_SCHEMA, STATE_SCHEMA, "append", timeout_conf)
