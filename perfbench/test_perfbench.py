"""Self-tests for the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import math
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import checks  # noqa: E402
from perfbench.trace import (  # noqa: E402
    BUCKET_SPAN,
    STAGE_FIELDS,
    Span,
    driver_share,
    per_layer_report,
    per_layer_units,
    self_times,
    tail_percentile,
)


def _span(sid, start, end, parent=None, layer="bench", name=None, **stages):
    s = Span(sid, name or f"s{sid}", layer, parent, "r", start)
    s.end = end
    for k, v in stages.items():
        s.stages[k] = v
    return s


# ---------------------------------------------------------------- tail rule


def test_tail_has_ten_samples_beyond():
    samples = list(range(1, 101))  # 1..100
    pct, value = tail_percentile(samples)
    assert pct == 90.0
    assert value == 90
    assert sum(s > value for s in samples) == 10


def test_tail_large_sample_goes_further_out():
    samples = list(range(1000))
    pct, value = tail_percentile(samples)
    assert pct == 99.0
    assert sum(s > value for s in samples) == 10


def test_tail_order_insensitive():
    rng = np.random.default_rng(3)
    samples = rng.random(57).tolist()
    pct, value = tail_percentile(samples)
    assert sum(s > value for s in samples) == 10
    assert pct == pytest.approx(100.0 * 47 / 57)
    assert tail_percentile(sorted(samples)) == tail_percentile(samples[::-1])


def test_tail_small_sample_is_maximum():
    # under 20 samples the 10-beyond percentile would sit at or below the
    # median; the maximum is reported instead
    assert tail_percentile([3.0, 1.0, 2.0]) == (100.0, 3.0)
    assert tail_percentile(list(range(19))) == (100.0, 18)
    assert tail_percentile(list(range(20))) == (50.0, 9)


def test_tail_needs_samples():
    with pytest.raises(ValueError):
        tail_percentile([])


# ---------------------------------------------------------------- self time


def test_self_time_subtracts_children():
    spans = [
        _span(1, 0.0, 10.0),
        _span(2, 1.0, 4.0, parent=1),
        _span(3, 5.0, 7.0, parent=1),
        _span(4, 2.0, 3.0, parent=2),  # grandchild: only its parent loses it
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - 3.0 - 2.0)
    assert st[2] == pytest.approx(3.0 - 1.0)
    assert st[3] == pytest.approx(2.0)
    assert st[4] == pytest.approx(1.0)
    # self times partition the root's wall time
    assert sum(st.values()) == pytest.approx(10.0)


def test_self_time_overlapping_children_counted_once():
    spans = [
        _span(1, 0.0, 10.0),
        _span(2, 1.0, 6.0, parent=1),
        _span(3, 4.0, 8.0, parent=1),
    ]
    assert self_times(spans)[1] == pytest.approx(10.0 - 7.0)


def test_self_time_clips_children_to_parent():
    spans = [_span(1, 2.0, 5.0), _span(2, 4.0, 9.0, parent=1)]
    assert self_times(spans)[1] == pytest.approx(2.0)


# ---------------------------------------------------------------- derived metrics


def test_driver_share_from_stage_records():
    # 10 s busy on 4 cores = 40 core-seconds; executors ran 30 of them
    spans = [
        _span(1, 0.0, 10.0, layer="knn", executorRunTime=20_000),
        _span(2, 10.0, 10.0, layer="knn", executorRunTime=10_000),
    ]
    m = per_layer_report(spans, cores=4, counters={})
    assert m["knn.exec_s"] == pytest.approx(30.0)
    assert m["knn.busy_s"] == pytest.approx(10.0)
    assert m["knn.driver_share"] == pytest.approx(1.0 - 30.0 / 40.0)
    assert driver_share(0.0, 0.0, 4) == 0.0


def test_replication_from_stage_records():
    spans = [
        _span(1, 0.0, 2.0, layer="spatial_join", shuffleWriteRecords=900_000),
        _span(2, 2.0, 3.0, layer="spatial_join", shuffleWriteRecords=100_000),
        _span(3, 3.0, 4.0, layer="knn", shuffleWriteRecords=5_000_000),
    ]
    counters = {"range_points": 100_000, "range_pairs": 250_000}
    m = per_layer_report(spans, cores=4, counters=counters)
    # only the spatial_join layer's shuffle records count
    assert m["spatial_join.replication"] == pytest.approx(10.0)
    assert m["spatial_join.pairs_per_point"] == pytest.approx(2.5)
    assert per_layer_report(spans, cores=4, counters={})["spatial_join.replication"] == 0.0


def test_per_bucket_metrics_use_bucket_spans_only():
    spans = [
        _span(1, 0.0, 10.0),
        _span(2, 0.0, 4.0, parent=1, layer="checkpoint", name="checkpoint.stage"),
        _span(3, 4.0, 6.0, parent=1, layer="checkpoint", name=BUCKET_SPAN),
        _span(4, 6.0, 10.0, parent=1, layer="checkpoint", name=BUCKET_SPAN),
        _span(5, 7.0, 8.0, parent=4, layer="rules"),
    ]
    spans[2].jobs, spans[3].jobs = 4, 6
    m = per_layer_report(spans, cores=4, counters={})
    assert m["checkpoint.s_per_bucket"] == pytest.approx((2.0 + 3.0) / 2)
    assert m["checkpoint.jobs_per_bucket"] == pytest.approx(5.0)
    assert m["checkpoint.busy_s"] == pytest.approx(4.0 + 2.0 + 3.0)
    assert m["rules.busy_s"] == pytest.approx(1.0)


def test_report_names_every_per_layer_metric():
    m = per_layer_report([_span(1, 0.0, 1.0)], cores=4, counters={})
    assert set(m) == set(per_layer_units())
    assert all(isinstance(v, (int, float)) for v in m.values())
    assert len(STAGE_FIELDS) == len(set(STAGE_FIELDS))


# ---------------------------------------------------------------- references


def test_rings_intersect_reference():
    sq = lambda x, y, r: [(x - r, y - r), (x + r, y - r), (x + r, y + r), (x - r, y + r), (x - r, y - r)]
    assert checks.rings_intersect(sq(0, 0, 1), sq(1.5, 0, 1))      # edges cross
    assert checks.rings_intersect(sq(0, 0, 3), sq(0.5, 0, 1))      # B inside A
    assert checks.rings_intersect(sq(0.5, 0, 1), sq(0, 0, 3))      # A inside B
    assert not checks.rings_intersect(sq(0, 0, 1), sq(5, 0, 1))    # apart, collinear edges
    assert checks.rings_intersect(sq(0, 0, 1), sq(2, 0, 1))        # shared edge touches


def test_nearest_vertex_reference_tie_breaks_on_way_id():
    vlat = np.array([51.0, 51.0, 51.1])
    vlon = np.array([8.0, 8.0, 8.1])
    vway = np.array([7, 3, 5])
    (w, d, gap), = checks.nearest_vertex([51.0], [8.0], vlat, vlon, vway)
    assert w == 3 and d == pytest.approx(0.0)
    assert gap == pytest.approx(0.0)
    (w, d, gap), = checks.nearest_vertex([51.1], [8.1001], vlat, vlon, vway)
    assert w == 5 and 0 < d < 10 and gap > 1000


def test_range_partners_reference():
    slat = np.array([51.0, 51.001, 51.01])
    slon = np.array([8.0, 8.0, 8.0])
    (near,) = checks.range_partners([51.0], [8.0], slat, slon, np.arange(3), 250.0)
    # 0.001 deg of latitude is ~111 m, 0.01 deg ~1.1 km
    assert set(near) == {0, 1}
    assert near[0] == 0.0 and 0.0 < near[1] < 1.0
    assert math.isclose(checks.chord2_to_m(0.0), 0.0)


if __name__ == "__main__":
    sys.exit(pytest.main([__file__, "-q"]))
