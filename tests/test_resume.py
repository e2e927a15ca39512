"""Checkpoint / resume semantics: kill-and-resume idempotency of the
manifest-gated pipeline (SURVEY.md §2.11 checkpoint/lineage row)."""

from __future__ import annotations

import json
import os

import pytest

from geojson_vt_cpp_spark.config import Options
from geojson_vt_cpp_spark.sources.documents import documents_from_fixture
from geojson_vt_cpp_spark.sources.table_io import TableIO, checkpointed_pipeline

from .golden_utils import load_fixture

pytestmark = pytest.mark.spark


def test_pipeline_checkpoints_and_resumes(spark, tmp_path):
    docs = documents_from_fixture(spark, load_fixture("us-states.json"), "us-states")
    opts = Options(index_max_zoom=3, max_zoom=14)
    wd = str(tmp_path / "run1")

    r1 = checkpointed_pipeline(spark, wd, docs, opts)
    assert not any(v.resumed for v in r1.values())
    n1 = {k: v.rows for k, v in r1.items()}
    assert n1["tile_features"] > 0

    # second invocation resumes every stage from manifests, same results
    r2 = checkpointed_pipeline(spark, wd, docs, opts)
    assert all(v.resumed for v in r2.values())
    assert {k: v.rows for k, v in r2.items()} == n1
    assert {k: v.snapshot_id for k, v in r2.items()} == {
        k: v.snapshot_id for k, v in r1.items()
    }
    # a fresh run's read-back schema equals the schema-inferring resume
    # read's, including tile_features' partition column z
    assert {k: v.df.schema for k, v in r2.items()} == {
        k: v.df.schema for k, v in r1.items()
    }

    # options change invalidates the fingerprint -> full re-run
    r3 = checkpointed_pipeline(spark, wd, docs, Options(index_max_zoom=2, max_zoom=14))
    assert not any(v.resumed for v in r3.values())


def test_kill_mid_run_resumes_remaining_stages(spark, tmp_path):
    docs = documents_from_fixture(spark, load_fixture("us-states.json"), "us-states")
    opts = Options(index_max_zoom=3, max_zoom=14)
    wd = str(tmp_path / "run2")

    # simulate a crash after the first stage: run only 'features', then a
    # torn write of 'wrapped' (manifest absent / incomplete)
    from geojson_vt_cpp_spark.operators.convert import extract_features

    io = TableIO(spark, wd)
    fp = json.dumps(opts.__dict__, sort_keys=True)
    tol = (opts.tolerance / opts.extent) / (1 << opts.max_zoom)
    io.run_stage("features", lambda: extract_features(docs, tol), fingerprint=fp)
    os.makedirs(os.path.join(wd, "wrapped"), exist_ok=True)
    with open(os.path.join(wd, "wrapped", "_manifest.json"), "w") as f:
        f.write(json.dumps({"stage": "wrapped", "complete": False}))

    r = checkpointed_pipeline(spark, wd, docs, opts)
    assert r["features"].resumed  # untouched
    assert not r["wrapped"].resumed  # torn write detected -> re-ran
    assert not r["tile_features"].resumed
    assert r["tile_features"].rows > 0

    # manifest carries per-partition lineage counters
    m = TableIO(spark, wd).read_manifest("tile_features")
    assert m and m["complete"] and m["total_rows"] == r["tile_features"].rows
    assert sum(p["rows"] for p in m["partitions"]) == m["total_rows"]


def test_tile_features_read_prunes_on_zoom(spark, tmp_path):
    """The checkpointed pipeline writes tile_features partitioned by z; a
    zoom-filtered read must show z in the scan's PartitionFilters (the
    get_tiles batch-lookup scale path reads exactly this way)."""
    docs = documents_from_fixture(spark, load_fixture("us-states.json"), "us-states")
    r = checkpointed_pipeline(
        spark, str(tmp_path / "prune"), docs, Options(index_max_zoom=3, max_zoom=14)
    )
    df = r["tile_features"].df.where("z = 0")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan, plan
    pf = plan.split("PartitionFilters")[1].split("]")[0]
    assert "z" in pf, pf
    assert df.count() > 0


def test_pyramid_mid_bfs_kill_resumes_from_level_manifests(spark, tmp_path, monkeypatch):
    """A pyramid build killed MID-ZOOM (between level checkpoints) resumes
    idempotently through the TableIO workdir path: completed pyr_level_*
    manifests are read back untouched (snapshot ids unchanged), the
    interrupted level re-runs, and the finished pyramid is identical to a
    clean localCheckpoint build — VERDICT r2 item 5."""
    from geojson_vt_cpp_spark.operators import pyramid as P
    from geojson_vt_cpp_spark.operators.convert import extract_features

    opts = Options(index_max_zoom=4, index_max_points=200, max_zoom=14)
    wd = str(tmp_path / "midkill")
    docs = documents_from_fixture(spark, load_fixture("us-states.json"), "us-states")
    tol = (opts.tolerance / opts.extent) / (1 << opts.max_zoom)
    feats = extract_features(docs, tol)

    real_split = P.split_children
    calls = {"n": 0}

    def killer(*a, **k):
        calls["n"] += 1
        if calls["n"] >= 3:
            raise RuntimeError("simulated mid-BFS kill")
        return real_split(*a, **k)

    monkeypatch.setattr(P, "split_children", killer)
    with pytest.raises(RuntimeError, match="mid-BFS kill"):
        P.TilePyramid(feats, opts, workdir=wd)
    monkeypatch.setattr(P, "split_children", real_split)

    io = TableIO(spark, wd)
    done = [n for n in ("pyr_base", "pyr_level_00", "pyr_level_01", "pyr_level_02")
            if io.read_manifest(n)]
    assert "pyr_base" in done and "pyr_level_00" in done and "pyr_level_01" in done
    assert io.read_manifest("pyr_level_04") is None  # genuinely mid-build
    before = {n: io.read_manifest(n)["snapshot_id"] for n in done}

    pyr = P.TilePyramid(feats, opts, workdir=wd)  # resume
    after = {n: io.read_manifest(n)["snapshot_id"] for n in done}
    assert after == before  # completed levels resumed, not rewritten
    assert io.read_manifest("pyr_level_04") is not None  # BFS finished

    clean = P.TilePyramid(feats, opts)
    assert pyr.total == clean.total
    assert pyr.stats == clean.stats
    assert set(pyr.meta) == set(clean.meta)
    key = ["z", "tx", "ty", "copy_tag", "doc_id", "span_idx", "feature_idx",
           "member_seq", "slice_path", "out_type"]
    got = sorted(tuple(r[c] for c in key) for r in pyr.tile_features().collect())
    want = sorted(tuple(r[c] for c in key) for r in clean.tile_features().collect())
    assert got == want
    # drill-down works off the parquet-backed level data
    t = pyr.get_tile(7, 37, 48)
    tc = clean.get_tile(7, 37, 48)
    assert len(t.features) == len(tc.features) > 0
    pyr.close()
    clean.close()


def test_checkpointed_pipeline_no_double_wrap(spark, tmp_path):
    """Dateline-adjacent input: the checkpointed pipeline (which persists a
    'wrapped' stage) must produce exactly the tile features of a direct
    TilePyramid build — a second wrap_features inside TilePyramid would
    duplicate dateline side copies."""
    from geojson_vt_cpp_spark.operators.pyramid import TilePyramid
    from geojson_vt_cpp_spark.sources.documents import documents_from_fixture

    docs = documents_from_fixture(spark, load_fixture("dateline.json"), "dateline")
    opts = Options(index_max_zoom=2, max_zoom=14)

    r = checkpointed_pipeline(spark, str(tmp_path / "dl"), docs, opts)
    key = ["z", "tx", "ty", "copy_tag", "doc_id", "span_idx", "feature_idx",
           "member_seq", "slice_path", "out_type"]
    got = sorted(
        tuple(row[c] for c in key) for row in r["tile_features"].df.collect()
    )

    pyr = TilePyramid.from_documents(docs, opts)
    want = sorted(
        tuple(row[c] for c in key) for row in pyr.tile_features().collect()
    )
    pyr.close()
    assert got == want
