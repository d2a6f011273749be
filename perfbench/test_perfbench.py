"""Fast checks of the benchmark's own parts (no Spark):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

import numpy as np
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import feeder  # noqa: E402
import metrics  # noqa: E402
import tracing  # noqa: E402

#: the sf0.001-sized scale of the package's smallest fixture
TINY = datagen.TableScale(customers=150, orders=1500, parts=200, docs=100, vocab=300)
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _file_bytes(d: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name] = f.read()
    return out


def test_tables_are_deterministic_per_seed(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    counts = datagen.write_tables(a, 7, TINY)
    datagen.write_tables(b, 7, TINY)
    datagen.write_tables(c, 8, TINY)
    assert counts["customer"] == TINY.customers and counts["documents"] == TINY.docs
    assert _file_bytes(a) == _file_bytes(b)
    assert _file_bytes(a) != _file_bytes(c)


def test_events_are_deterministic_per_seed():
    a, b, c = (datagen.online_events(seed, 2000) for seed in (3, 3, 4))
    for field in ("event_id", "user_id", "event_type", "props", "malformed"):
        assert np.array_equal(getattr(a, field), getattr(b, field))
    assert not np.array_equal(a.user_id, c.user_id)


def test_online_mix_and_garbage_frames():
    ev = datagen.online_events(1, 20_000)
    known = (ev.user_id >= 1) & (ev.user_id <= datagen.SERVING.customers)
    signup = ev.event_type == datagen.SIGNUP_TYPE
    assert 0.82 < known.mean() < 0.88
    assert 0.08 < (signup & ~ev.malformed).mean() < 0.12
    assert 0.03 < ev.malformed.mean() < 0.07
    # every garbage frame is one the stream parser drops
    bad_props = ev.props[ev.malformed] == datagen.EMPTY_PROPS
    bad_user = ev.user_id[ev.malformed] <= 0
    assert np.all(bad_props ^ bad_user)
    assert not np.any(ev.props[~ev.malformed] == datagen.EMPTY_PROPS)


def test_metric_names_and_limits():
    e2e = [m[0] for m in metrics.END_TO_END]
    layer = [m[0] for m in metrics.PER_LAYER]
    assert 1 <= len(e2e) <= 16 and 1 <= len(layer) <= 128
    assert len(set(e2e + layer)) == len(e2e) + len(layer)
    for name, unit, *_ in metrics.END_TO_END + metrics.PER_LAYER:
        assert NAME.match(name), name
        assert UNIT.match(unit), unit
    bounds = {name: bound for name, _, _, bound in metrics.END_TO_END}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())


def test_benchmark_json_mirrors_the_catalogue():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in bench["end_to_end"]] \
        == [tuple(m) for m in metrics.END_TO_END]
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] \
        == [tuple(m) for m in metrics.PER_LAYER]


@pytest.mark.parametrize("n, pct", [(1, 100.0), (19, 100.0), (20, 50.0), (39, 50.0),
                                    (40, 75.0), (100, 90.0), (200, 95.0), (500, 98.0),
                                    (1000, 99.0), (10_000, 99.9)])
def test_tail_reports_samples_and_supported_percentile(n, pct):
    t = tracing.tail(range(1, n + 1))
    assert t.n == n and t.pct == pct
    # the reported percentile leaves at least ten samples above it
    assert pct == 100.0 or sum(1 for x in range(1, n + 1) if x > t.value) >= 10


def test_percentile_and_median():
    xs = [5, 1, 4, 2, 3]
    assert tracing.percentile(xs, 50) == 3 and tracing.percentile(xs, 100) == 5
    assert tracing.median(xs) == 3 and tracing.median([1, 2, 3, 4]) == 2.5
    with pytest.raises(ValueError):
        tracing.percentile([], 50)


def test_feeder_runs_open_loop_and_reports_lateness(tmp_path):
    # file 0 was due a second ago: the generator writes it at once, without
    # waiting for anything, and logs how late it ran
    start = time.time() - 1.0
    log = feeder.feed(str(tmp_path), seed=5, files=4, start=start)
    assert [e["file"] for e in log] == sorted(os.listdir(tmp_path))
    lateness = [e["created"] - e["due"] for e in log]
    assert lateness[0] >= 1.0 and all(x >= 0 for x in lateness)
    per_file = datagen.ONLINE_EVENTS_PER_FILE
    expected = datagen.online_events(5, 4 * per_file)
    for e in log:
        t = pq.read_table(tmp_path / e["file"])
        lo = e["first_event"]
        assert t.column("user_id").to_pylist() == expected.user_id[lo:lo + per_file].tolist()
        # each event carries its creation time
        stamps = [v.timestamp() for v in t.column("ts").to_pylist()]
        assert stamps == pytest.approx([e["created"]] * per_file, abs=1e-5)


def test_feeder_keeps_its_schedule_when_early(tmp_path):
    start = time.time() + 0.2
    log = feeder.feed(str(tmp_path), seed=5, files=3, start=start)
    interval = datagen.ONLINE_INTERVAL_S
    for i, e in enumerate(log):
        assert e["due"] == pytest.approx(start + interval * i)
        assert 0 <= e["created"] - e["due"] < interval
