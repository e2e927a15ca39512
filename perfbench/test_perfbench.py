"""Tests of the benchmark's own logic (no Spark):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

from perfbench import checks, inputs, stats
from perfbench import trace as T

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# ----------------------------------------------------------------- stats


@pytest.mark.parametrize("n, want", [
    (0, None), (39, None), (40, 75.0), (99, 75.0), (100, 90.0),
    (199, 90.0), (200, 95.0), (1000, 99.0), (10000, 99.9),
])
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    assert stats.tail_percentile(n) == want


def test_percentile_matches_numpy():
    vals = [5.0, 1.0, 4.0, 2.0, 3.0, 10.0, 7.0]
    for p in (0, 25, 50, 75, 90, 100):
        assert stats.percentile(vals, p) == pytest.approx(np.percentile(vals, p))


def test_summarize_reports_tail_only_with_enough_samples():
    assert "tail" not in stats.summarize([1.0] * 39)
    s = stats.summarize([float(i) for i in range(1, 41)])
    assert s["n"] == 40 and s["p50"] == 20.5 and s["tail_p"] == 75.0


def test_fail_and_ok_ratio():
    assert stats.fail_ratio(10, 0) == 0.0
    assert stats.fail_ratio(8, 2) == 0.25
    assert stats.ok_ratio(8, 2) == 0.75
    assert stats.ok_ratio(33, 0) == 1.0
    for bad in [(0, 0), (3, 4), (3, -1)]:
        with pytest.raises(ValueError):
            stats.fail_ratio(*bad)


# ----------------------------------------------------------------- trace


@pytest.mark.parametrize("text, want", [
    ("1,000", 1000.0),
    ("35 ms", 0.035),
    ("2.0 m", 120.0),
    ("total (min, med, max (stageId: taskId))\n4.3 s (232 ms, 2.0 s, 2.1 s "
     "(stage 2.0: task 2))", 4.3),
    ("total (min, med, max (stageId: taskId))\n80 ms (37 ms, 43 ms, 43 ms "
     "(stage 0.0: task 1))", 0.08),
])
def test_parse_metric(text, want):
    assert T.parse_metric(text) == pytest.approx(want)


def test_interval_union():
    assert T.interval_union([]) == 0.0
    assert T.interval_union([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)
    assert T.interval_union([(3, 4), (0, 10)]) == pytest.approx(10.0)


def test_aggregate_sums_spans_per_layer():
    a = T.Span(0, "pyramid.build", None, "g0", 0.0, 4.0, child_s=1.0)
    b = T.Span(1, "table_io.run_stage", 0, "g1", 1.0, 2.0, bytes_written=2_000_000)
    for s in (a, b):
        s.counters = dict.fromkeys(T.FIELDS, 1.0) | {"wall_s": s.self_s}
    agg = T.aggregate([a, b])
    assert agg["pyramid.build"]["wall_s"] == pytest.approx(3.0)
    assert agg["table_io.run_stage"]["calls"] == 1
    assert agg["table_io.run_stage"]["bytes_mb"] == pytest.approx(2.0)
    assert agg["spatial_join.knn"]["calls"] == 0


# ---------------------------------------------------------------- inputs


def test_inputs_are_a_function_of_the_seed():
    fx = inputs.load_fixture()
    a = inputs.copy_shifts(7, 10)
    assert a == inputs.copy_shifts(7, 10)
    assert a != inputs.copy_shifts(8, 10)
    assert all(inputs.MIN_SHIFT_DEG <= v < inputs.MAX_SHIFT_DEG for v in a)
    ja = inputs.join_inputs(7, fx, a, 1000, 50, 0.25)
    jb = inputs.join_inputs(7, fx, a, 1000, 50, 0.25)
    assert np.array_equal(ja.px, jb.px) and np.array_equal(ja.sy, jb.sy)
    assert ja.hot_points == 250
    assert ((ja.px > 0) & (ja.px < 1) & (ja.py > 0) & (ja.py < 1)).all()


def test_hot_box_lies_in_a_fixed_number_of_polygons():
    fx = inputs.load_fixture()
    for seed in (1, 2, 3):
        shifts = inputs.copy_shifts(seed, 10)
        cx, cy = inputs._hot_centre(np.random.default_rng(seed), fx, shifts)
        px, py = inputs.project(np.array([cx]), np.array([cy]))
        hits = checks.brute_pip(np.array([0]), px, py, inputs._polygons(fx, shifts))
        assert len(hits) == inputs.HOT_POLYGONS


def test_shifts_keep_every_copy_out_of_the_wrap_windows():
    fx = inputs.load_fixture()
    edge = 180.0 - inputs.WRAP_BUFFER_DEG
    for dlon in (inputs.MIN_SHIFT_DEG, inputs.MAX_SHIFT_DEG - 1e-9):
        for f in inputs.corpus_features(fx, [dlon])[0]:
            x0, _, x1, _ = inputs._bbox(f["geometry"]["coordinates"])
            assert -edge <= x0 and x1 < edge


def test_doc_ids_sort_in_corpus_order():
    fx = inputs.load_fixture()
    copies = inputs.corpus_features(fx, inputs.copy_shifts(3, 12))
    ids = [r[0] for r in inputs.corpus_doc_rows(copies)]
    assert ids == sorted(ids) and len(ids) == 12 * len(fx["features"])


def test_targets_are_seeded_and_under_their_leaves():
    leaves = [(3, 1, 2), (2, 0, 1), (4, 9, 5)]
    t = inputs.drill_targets(5, leaves, 2, 2)
    assert t == inputs.drill_targets(5, leaves, 2, 2)
    for z, x, y in t:
        assert (z - 2, x >> 2, y >> 2) in leaves
    keys = [(0, 0, 0), (1, 0, 0), (1, 1, 0)]
    assert sorted(inputs.probe_order(5, keys)) == sorted(keys)


# ---------------------------------------------------------------- checks

SQUARE_WITH_HOLE = {
    "key": ("doc-a", 1, 0, 0),
    # outer ring 0..4, hole 1..2 (rings closed implicitly)
    "xs": [0.0, 4.0, 4.0, 0.0, 1.0, 2.0, 2.0, 1.0],
    "ys": [0.0, 0.0, 4.0, 4.0, 1.0, 1.0, 2.0, 2.0],
    "part_lens": [4, 4],
}
TRIANGLE = {
    "key": ("doc-b", 1, 0, 0),
    "xs": [5.0, 9.0, 5.0],
    "ys": [0.0, 0.0, 4.0],
    "part_lens": [3],
}


def test_brute_pip_even_odd_with_holes():
    pid = np.array([10, 11, 12, 13, 14])
    px = np.array([3.0, 1.5, 6.0, 8.5, -1.0])
    py = np.array([3.0, 1.5, 1.0, 3.0, 1.0])
    got = checks.brute_pip(pid, px, py, [SQUARE_WITH_HOLE, TRIANGLE])
    assert got == {(10, "doc-a", 1, 0, 0), (12, "doc-b", 1, 0, 0)}


def test_check_pip_catches_a_corrupted_row():
    want = {(1, "d", 1, 0, 0), (2, "d", 1, 0, 0)}
    assert checks.check_pip(set(want), want) == []
    assert checks.check_pip({(1, "d", 1, 0, 0), (2, "e", 1, 0, 0)}, want)
    assert checks.check_pip({(1, "d", 1, 0, 0)}, want)


def test_brute_knn_breaks_ties_by_site_id():
    # sites 7 and 3 are equidistant from the query; 3 must rank first
    sx = np.array([1.0, -1.0, 5.0])
    sy = np.array([0.0, 0.0, 0.0])
    sid = np.array([7, 3, 1])
    got = checks.brute_knn(np.array([0.0]), np.array([0.0]), sx, sy, sid, 2)
    assert got.tolist() == [[3, 7]]


def test_check_knn_catches_a_corrupted_row():
    want = np.array([[3, 7], [1, 3]])
    qid = np.array([0, 0, 1, 1])
    rank = np.array([1, 2, 1, 2])
    assert checks.check_knn(qid, np.array([3, 7, 1, 3]), rank, want) == []
    assert checks.check_knn(qid, np.array([3, 7, 3, 1]), rank, want)
    assert checks.check_knn(qid[:3], np.array([3, 7, 1]), rank[:3], want)


TINY = json.dumps({"type": "FeatureCollection", "features": [
    {"type": "Feature", "id": 5, "properties": {"name": "a"},
     "geometry": {"type": "Polygon", "coordinates": [
         [[-10, -10], [10, -10], [10, 10], [-10, 10], [-10, -10]]]}},
    {"type": "Feature", "properties": {"name": "b"},
     "geometry": {"type": "LineString", "coordinates": [[-5, 1], [20, 30]]}},
]})


def _mirror():
    from geojson_vt_cpp_spark.config import Options

    return checks.Mirror(TINY, Options(index_max_zoom=2, index_max_points=2))


def test_tile_compare_accepts_equal_and_catches_corruption():
    m = _mirror()
    want = m.tiles(m.registry())
    assert len(want) > 1
    got = {k: [checks.canon_feature(f) for f in v] for k, v in want.items()}
    assert checks.compare_tiles(got, want, "t") == []

    key = next(k for k, v in want.items() if v)
    bad = {k: [dict(f) for f in v] for k, v in got.items()}
    f = bad[key][0]
    f["parts"] = [[[x + 1, y] for x, y in part] for part in f["parts"]]
    assert checks.compare_tiles(bad, want, "t") == [f"t: tile {key} differs from the mirror"]

    missing = dict(got)
    del missing[key]
    assert checks.compare_tiles(missing, want, "t")


def test_rows_to_tiles_orders_features_and_drops_stat_rows():
    base = {"z": 1, "tx": 0, "ty": 1, "copy_tag": 1, "span_idx": 1,
            "feature_idx": 0, "member_seq": 0, "slice_path": "",
            "is_multi": False, "part_xs": [[1, 2]], "part_ys": [[3, 4]],
            "poly_lens": [], "props_json": "{}", "feature_id": None,
            "id_kind": "null"}
    rows = [
        dict(base, doc_id="b", out_type=2),
        dict(base, doc_id="c", out_type=-1),
        dict(base, doc_id="a", out_type=1, props_json='{"k":1}'),
    ]
    tiles = checks.rows_to_tiles(rows)
    feats = tiles[(1, 0, 1)]
    assert [f["type"] for f in feats] == [1, 2]
    assert feats[0]["tags"] == {"k": 1}
    assert checks.canon_feature(feats[0])["parts"] == [[[1, 3], [2, 4]]]


# ------------------------------------------------------------- contract


def test_benchmark_json_matches_what_the_runner_reports():
    from perfbench import run
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert [m["name"] for m in bench["end_to_end"]] == list(run.END_TO_END)
    assert [m["name"] for m in bench["per_layer"]] == run.per_layer_names()
    assert len(bench["per_layer"]) <= 128
    for m in bench["per_layer"]:
        assert m["unit"] == run.per_layer_unit(m["name"])
