"""The events-ts layout contract (VERDICT r4 "Next round" #2).

The test-data generator has shipped ``events.parquet`` with three
different physical layouts for ``ts`` across rounds:

  * r1-r3: parquet TIMESTAMP(NANOS) — Spark can only read it with
    ``spark.sql.legacy.parquet.nanosAsLong=true``, as bigint nanoseconds;
  * r4+:   Arrow ``timestamp[us]`` without UTC adjustment — Spark reads
    TIMESTAMP_NTZ;
  * the plausible third: ``timestamp[us]`` UTC-adjusted — plain TIMESTAMP.

Round 4 lost its entire bench signal and five queries to the r3->r4 flip
because the stream source hard-coded the first layout. This module pins
the fix: ``catalog.normalize_events_ts`` is the ONE place raw layouts are
interpreted, and both the batch path (``catalog.table``) and the stream
path (``streaming.core.stream_events``) must yield identical plain
TIMESTAMP instants — and identical windowed results — on ALL three
layouts.
"""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from bigbugdata_spark.catalog import table
from bigbugdata_spark.registry import load_all

LAYOUTS = ("nanos_long", "us_ntz", "us_utc")

# Deterministic logical fixture: 40 events, 4 users, 3 types, spanning
# ~3 hours so the tumbling window produces several groups; microsecond
# precision values exercise sub-second fidelity (no nanos remainder, so
# the nanos layout's div-1000 truncation is exact and all three layouts
# encode the same instants).
_BASE_US = int(dt.datetime(2024, 3, 1, 12, 0, 0).timestamp()) * 1_000_000
_ROWS = [
    (
        i,
        _BASE_US + i * 293_000_017,  # ~4.9 min stride, odd microseconds
        i % 4,
        ("view", "click", "purchase")[i % 3],
        float(i) * 1.75,
        "{}",
    )
    for i in range(40)
]


def _write_layout(dir_path, layout: str) -> str:
    ids, ts_us, users, types, values, props = zip(*_ROWS)
    if layout == "nanos_long":
        ts_arr = pa.array([t * 1000 for t in ts_us], pa.timestamp("ns"))
        version = "2.6"  # keeps TIMESTAMP(NANOS) instead of coercing
    elif layout == "us_ntz":
        ts_arr = pa.array(list(ts_us), pa.timestamp("us"))
        version = "2.6"
    elif layout == "us_utc":
        ts_arr = pa.array(list(ts_us), pa.timestamp("us", tz="UTC"))
        version = "2.6"
    else:  # pragma: no cover
        raise ValueError(layout)
    tbl = pa.table(
        {
            "event_id": pa.array(ids, pa.int64()),
            "ts": ts_arr,
            "user_id": pa.array(users, pa.int64()),
            "event_type": pa.array(types, pa.string()),
            "value": pa.array(values, pa.float64()),
            "props": pa.array(props, pa.string()),
        }
    )
    d = dir_path / layout
    d.mkdir()
    pq.write_table(tbl, str(d / "events.parquet"), version=version)
    return str(d)


@pytest.fixture(scope="module")
def layout_dirs(tmp_path_factory):
    root = tmp_path_factory.mktemp("ts_layouts")
    return {layout: _write_layout(root, layout) for layout in LAYOUTS}


def _physical_type(path: str) -> str:
    return str(pq.read_schema(f"{path}/events.parquet").field("ts").type)


def test_fixtures_really_differ(layout_dirs):
    """Guard the guard: the three files must actually carry the three
    distinct physical layouts, or the matrix proves nothing."""
    assert _physical_type(layout_dirs["nanos_long"]) == "timestamp[ns]"
    assert _physical_type(layout_dirs["us_ntz"]) == "timestamp[us]"
    assert _physical_type(layout_dirs["us_utc"]) == "timestamp[us, tz=UTC]"


def test_batch_ts_identical_across_layouts(spark, layout_dirs):
    results = {}
    for layout, d in layout_dirs.items():
        df = table(spark, d, "events")
        assert dict(df.dtypes)["ts"] == "timestamp", (
            f"{layout}: normalize_events_ts must yield plain TIMESTAMP, "
            f"got {dict(df.dtypes)['ts']}"
        )
        results[layout] = [
            (r.event_id, r.ts) for r in df.select("event_id", "ts").orderBy("event_id").collect()
        ]
    assert results["nanos_long"] == results["us_ntz"] == results["us_utc"]
    # and the instants are the ones we wrote (spot-check row 0 and 39)
    assert results["us_ntz"][0][1] == dt.datetime(2024, 3, 1, 12, 0, 0)
    expect_39 = dt.datetime.fromtimestamp(
        (_BASE_US + 39 * 293_000_017) / 1e6, tz=dt.timezone.utc
    ).replace(tzinfo=None)
    assert results["us_ntz"][39][1] == expect_39


def test_tumbling_window_identical_across_layouts(spark, layout_dirs):
    specs = load_all()
    fn = specs["evt_tumbling_window"].fn
    results = {
        layout: sorted(map(tuple, fn(spark, d).collect()))
        for layout, d in layout_dirs.items()
    }
    assert results["nanos_long"] == results["us_ntz"] == results["us_utc"]
    assert len(results["us_ntz"]) > 3  # several (window, type) groups


def test_stream_matches_batch_on_every_layout(spark, layout_dirs):
    """The r4 failure mode: batch and stream interpreting the same file
    differently. The streaming tumbling query (complete mode, availableNow)
    must equal the batch tumbling query bit-for-bit on each layout."""
    from bigbugdata_spark.streaming.events import stream_tumbling_complete

    specs = load_all()
    batch_fn = specs["evt_tumbling_window"].fn
    for layout, d in layout_dirs.items():
        batch = sorted(map(tuple, batch_fn(spark, d).collect()))
        stream = sorted(map(tuple, stream_tumbling_complete(spark, d).collect()))
        assert stream == batch, f"stream != batch on layout {layout}"
