"""The shared applyInPandasWithState frame of the seven stateful stream
kernels, driven without Spark: a fake input frame captures the function
each entry point hands to ``applyInPandasWithState``, and a fake
``GroupState`` records what the frame does with the state and the timer
on a timed-out key, an empty trigger and a data trigger."""
from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from beymani_spark.streaming import jobs

SCHEMA = StructType(
    [
        StructField("k", StringType()),
        StructField("ts", TimestampType()),
        StructField("value", DoubleType()),
        StructField("sym", StringType()),
        StructField("err", IntegerType()),
    ]
)
HORIZON = 60_000
MARKOV_MODEL = [
    {"prev_state": a, "cur_state": b, "prob": 0.5} for a in "ab" for b in "ab"
]
HIST_MODEL = [{"k": "x", "bucket": "1", "cnt": 3}, {"k": "x", "bucket": "2", "cnt": 1}]

# entry point -> (call, output schema, state schema); the schema strings
# are pinned byte for byte: existing checkpoints and sinks depend on them
KERNELS = {
    "ewma": (
        lambda df, **kw: jobs.apply_stream_ewma(df, ["k"], "ts", "value", **kw),
        "`k` string, `ts` timestamp, `value` double, score double, label string",
        "mean double, var double, n long",
    ),
    "markov": (
        lambda df, **kw: jobs.apply_stream_markov(
            df, MARKOV_MODEL, ["k"], "ts", "sym", window=3, **kw
        ),
        "`k` string, `ts` timestamp, `sym` string, score double, label string",
        "last_state string, scores array<double>",
    ),
    "markov_global": (
        lambda df, **kw: jobs.apply_stream_markov_global(
            df, MARKOV_MODEL, ["k"], "ts", "sym", **kw
        ),
        "`k` string, `ts` timestamp, `sym` string, score double, label string",
        "last_state string, num double, den double",
    ),
    "entropy_increase": (
        lambda df, **kw: jobs.apply_stream_entropy_increase(
            df, HIST_MODEL, ["k"], "ts", "value", width=1.0, **kw
        ),
        "`k` string, `ts` timestamp, `value` double, bucket string,"
        " score double, label string",
        "buckets array<string>, counts array<long>",
    ),
    "drift": (
        lambda df, **kw: jobs.apply_stream_drift(
            df, ["k"], "ts", "err", "fhddm", win_size=4, **kw
        ),
        "`k` string, `ts` timestamp, `err` int, acc double, drift int",
        "state_json string",
    ),
    "one_step_ahead": (
        lambda df, **kw: jobs.apply_stream_one_step_ahead(
            df, ["k"], "ts", "value", window=3, **kw
        ),
        "`k` string, `ts` timestamp, `value` double, predicted double,"
        " osa_score double, label string",
        "work array<double>, r_n long, r_s1 double, r_s2 double",
    ),
    "multigram": (
        lambda df, **kw: jobs.apply_stream_multigram(
            df, "k", "ts", [("value", 1.0)], seq_len=2, **kw
        ),
        "`k` string, gram string",
        "syms array<string>",
    ),
}


class _Grouped:
    def __init__(self, sink, cols):
        self.sink, self.cols = sink, cols

    def applyInPandasWithState(self, fn, **kw):
        self.sink.update(fn=fn, group_cols=self.cols, **kw)
        return self.sink


class _FakeStream:
    """Just enough of a streaming DataFrame for an entry point to plan."""

    schema = SCHEMA

    def groupBy(self, *cols):
        return _Grouped({}, cols)


class _FakeState:
    def __init__(self, value=None, timed_out=False, watermark_ms=0):
        self.value, self.hasTimedOut, self.watermark_ms = value, timed_out, watermark_ms
        self.removed, self.updates = False, []
        self.duration = self.deadline = None

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        return self.value

    def update(self, value):
        self.value = tuple(value)
        self.updates.append(self.value)

    def remove(self):
        self.removed, self.value = True, None

    def setTimeoutDuration(self, ms):
        self.duration = ms

    def setTimeoutTimestamp(self, ms):
        self.deadline = ms

    def getCurrentWatermarkMs(self):
        return self.watermark_ms


def _batch() -> pd.DataFrame:
    ts = pd.to_datetime(
        ["2024-01-01 00:00:05", "2024-01-01 00:00:01", "2024-01-01 00:00:03",
         "2024-01-01 00:00:02", "2024-01-01 00:00:04", "2024-01-01 00:00:03"]
    )
    return pd.DataFrame(
        {
            "k": "x",
            "ts": ts,
            "value": [1.5, 2.0, 1.0, 2.5, 9.0, 1.2],
            "sym": ["a", "b", "a", "a", "b", "b"],
            "err": [0, 1, 0, 0, 1, 0],
        }
    )


def _plan(name, clock):
    call, out_schema, state_schema = KERNELS[name]
    planned = call(_FakeStream(), state_timeout_ms=HORIZON, state_timeout_clock=clock)
    assert planned["outputStructType"] == out_schema
    assert planned["stateStructType"] == state_schema
    assert planned["outputMode"] == "append"
    names = [f.split(" ", 1)[0].strip("`") for f in out_schema.split(", ")]
    return planned["fn"], names


def _run(fn, state, frames):
    return list(fn(("x",), iter(frames), state))


@pytest.mark.parametrize("name", list(KERNELS))
def test_timed_out_key_is_evicted_and_emits_nothing(name):
    fn, names = _plan(name, "processing")
    state = _FakeState(value=("stale",), timed_out=True)
    (out,) = _run(fn, state, [_batch().iloc[:0]])
    assert state.removed and state.updates == []
    assert out.empty and list(out.columns) == names


@pytest.mark.parametrize("clock", ["processing", "event"])
@pytest.mark.parametrize("name", list(KERNELS))
def test_empty_trigger_keeps_state_and_rearms_processing_clock(name, clock):
    fn, names = _plan(name, clock)
    state = _FakeState(watermark_ms=0)
    (first,) = _run(fn, state, [_batch()])
    assert len(first) and set(first.columns) == set(names)
    held = state.value
    state.duration = state.deadline = None
    (out,) = _run(fn, state, [_batch().iloc[:0]])
    assert out.empty and list(out.columns) == names
    assert state.updates[-1] == held  # written back unchanged
    if clock == "processing":
        assert state.duration == HORIZON and state.deadline is None
    else:  # the event-clock deadline armed by the data batch stands
        assert state.deadline is None and state.duration is None


@pytest.mark.parametrize("name", list(KERNELS))
def test_event_clock_deadline_is_last_event_plus_horizon(name):
    fn, _ = _plan(name, "event")
    last_ms = int(_batch().ts.max().value // 1_000_000)
    state = _FakeState(watermark_ms=0)
    # two arrow chunks of one trigger: the frame sorts their union
    _run(fn, state, [_batch().iloc[:3], _batch().iloc[3:]])
    assert state.deadline == last_ms + HORIZON and state.duration is None
    # a watermark already past the horizon clamps the deadline to wm + 1
    late = _FakeState(watermark_ms=last_ms + 2 * HORIZON)
    _run(fn, late, [_batch()])
    assert late.deadline == last_ms + 2 * HORIZON + 1


@pytest.mark.parametrize("name", list(KERNELS))
def test_no_timeout_never_arms(name):
    call = KERNELS[name][0]
    planned = call(_FakeStream())
    state = _FakeState()
    _run(planned["fn"], state, [_batch()])
    _run(planned["fn"], state, [_batch().iloc[:0]])
    assert state.duration is None and state.deadline is None
    assert len(state.updates) == 2
