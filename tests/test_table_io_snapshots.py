"""TableIO snapshot versioning: every stage rewrite creates a new
retained version; time-travel reads, lineage history, resume stability,
and Iceberg-style retention expiry."""

from __future__ import annotations

import pytest

from geojson_vt_cpp_spark.sources.table_io import TableIO

pytestmark = pytest.mark.spark


def _stage(io, n, fp):
    return io.run_stage(
        "nums",
        lambda: io.spark.range(n).selectExpr("id", "id * 2 as dbl"),
        fingerprint=fp,
    )


def test_rewrite_creates_new_snapshot_and_time_travel(spark, tmp_path):
    io = TableIO(spark, str(tmp_path / "wd"))
    r0 = _stage(io, 10, "fp-a")
    assert not r0.resumed and r0.rows == 10

    # matching (inputs, fingerprint): resume, NO new version
    r0b = _stage(io, 10, "fp-a")
    assert r0b.resumed and r0b.snapshot_id == r0.snapshot_id
    assert len(io.snapshots("nums")) == 1

    # changed fingerprint: new snapshot; the old one stays readable
    r1 = _stage(io, 25, "fp-b")
    assert not r1.resumed and r1.rows == 25
    snaps = io.snapshots("nums")
    assert [s["version"] for s in snaps] == [0, 1]
    assert [s["fingerprint"] for s in snaps] == ["fp-a", "fp-b"]
    assert io.read_snapshot("nums", 0).count() == 10  # time travel
    assert io.read_snapshot("nums", 1).count() == 25
    assert io.read_snapshot("nums").count() == 25  # default = current
    assert snaps[0]["snapshot_id"] == r0.snapshot_id
    assert snaps[1]["snapshot_id"] == r1.snapshot_id

    # current read path (run_stage resume) serves the NEW version
    r1b = _stage(io, 25, "fp-b")
    assert r1b.resumed and r1b.df.count() == 25


def test_expire_snapshots_retention(spark, tmp_path):
    io = TableIO(spark, str(tmp_path / "wd"))
    for i, fp in enumerate(["a", "b", "c"]):
        _stage(io, 10 + i, fp)
    assert [s["version"] for s in io.snapshots("nums")] == [0, 1, 2]

    assert io.expire_snapshots("nums", keep=2) == 1
    assert [s["version"] for s in io.snapshots("nums")] == [1, 2]
    with pytest.raises(KeyError, match="no snapshot v0"):
        io.read_snapshot("nums", 0)
    assert io.read_snapshot("nums", 1).count() == 11

    # keep=1 drops everything but current; current remains intact
    assert io.expire_snapshots("nums", keep=1) == 1
    assert [s["version"] for s in io.snapshots("nums")] == [2]
    assert io.read_snapshot("nums").count() == 12
    with pytest.raises(ValueError):
        io.expire_snapshots("nums", keep=0)


def test_kill_between_archive_and_manifest_write(spark, tmp_path):
    """Crash-window recovery: run_stage archives the superseded manifest
    (os.replace -> _manifest.vNNN.json) before writing its successor. A
    kill in that window leaves NO current _manifest.json; recovery must
    (a) resume from the archived snapshot on matching inputs/fingerprint,
    (b) continue version numbering past the archived max on a rewrite —
    never restart at v000 and destroy the archived snapshot's data."""
    import os

    io = TableIO(spark, str(tmp_path / "wd"))
    r0 = _stage(io, 10, "fp-a")
    stage_dir = tmp_path / "wd" / "nums"

    # simulate the kill: manifest archived, successor never written
    os.replace(
        stage_dir / "_manifest.json", stage_dir / "_manifest.v000.json"
    )
    assert io.read_manifest("nums") is None

    # (a) same inputs/fingerprint: resumes from the archived snapshot
    r0b = _stage(io, 10, "fp-a")
    assert r0b.resumed and r0b.snapshot_id == r0.snapshot_id
    assert r0b.df.count() == 10

    # (b) changed fingerprint in the SAME crashed state (resume does not
    # rewrite the current manifest): new version is 1, not 0
    assert not (stage_dir / "_manifest.json").exists()
    r1 = _stage(io, 25, "fp-b")
    assert not r1.resumed
    snaps = io.snapshots("nums")
    assert [s["version"] for s in snaps] == [0, 1]
    # the archived v000 snapshot's data survived and still time-travels
    assert io.read_snapshot("nums", 0).count() == 10
    assert io.read_snapshot("nums", 1).count() == 25


def test_unknown_stage_raises(spark, tmp_path):
    io = TableIO(spark, str(tmp_path / "wd"))
    with pytest.raises(KeyError, match="no complete snapshots"):
        io.read_snapshot("nope")


def test_concurrent_writers_and_expiry_no_torn_state(spark, tmp_path):
    """Fuzz the commit protocol: 4 threads interleave run_stage rewrites
    (distinct fingerprints force new versions) with expire_snapshots.
    Invariants after the dust settles: a complete current manifest exists;
    every LISTED snapshot has a distinct version, a live data dir, and
    reads back the row count its fingerprint implies; a follow-up
    run_stage resumes cleanly. Exercises the mkdir version claim, the
    flock'd pointer swap, and manifest-before-data expiry ordering."""
    import threading

    io = TableIO(spark, str(tmp_path / "wd"))
    errs: list[BaseException] = []

    def writer(tid: int) -> None:
        try:
            for i in range(4):
                io.run_stage(
                    "nums",
                    lambda n=10 * (tid + 1) + i: io.spark.range(n).selectExpr(
                        "id", "id * 2 as dbl"
                    ),
                    fingerprint=f"fp-{tid}-{i}",
                )
        except BaseException as e:  # noqa: BLE001 - fuzz harness collects all
            errs.append(e)

    def expirer() -> None:
        try:
            for _ in range(6):
                io.expire_snapshots("nums", keep=2)
        except BaseException as e:  # noqa: BLE001
            errs.append(e)

    threads = [threading.Thread(target=writer, args=(t,)) for t in range(3)]
    threads.append(threading.Thread(target=expirer))
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errs == []

    # current pointer exists, is complete, and resolves to live data
    cur = io.read_manifest("nums")
    assert cur is not None and cur["complete"]
    snaps = io.snapshots("nums")
    versions = [s["version"] for s in snaps]
    assert len(versions) == len(set(versions)), "version claimed twice"
    assert cur["version"] in versions
    for s in snaps:
        df = io.read_snapshot("nums", s["version"])
        # fingerprint fp-{tid}-{i} wrote range(10*(tid+1)+i) rows
        _, tid, i = s["fingerprint"].split("-")
        assert df.count() == 10 * (int(tid) + 1) + int(i) == s["total_rows"]

    # resume against the current fingerprint is clean (no rewrite)
    n_cur = cur["total_rows"]
    r = io.run_stage(
        "nums",
        lambda: io.spark.range(n_cur).selectExpr("id", "id * 2 as dbl"),
        fingerprint=cur["fingerprint"],
    )
    assert r.resumed and r.rows == n_cur


# ------------------------------------------------------------- compaction


def _small_files_stage(io, n=40, nfiles=16, fp="fp-a"):
    return io.run_stage(
        "nums",
        lambda: io.spark.range(n).selectExpr("id", "id * 2 as dbl")
        .repartition(nfiles),
        fingerprint=fp,
    )


def test_compact_rewrites_files_content_identical(spark, tmp_path):
    io = TableIO(spark, str(tmp_path / "wd"))
    r0 = _small_files_stage(io)
    m0 = io.read_manifest("nums")
    assert len(m0["partitions"]) == 16

    res = io.compact("nums", target_file_rows=20)
    assert res is not None and res.rows == 40
    m1 = io.read_manifest("nums")
    assert len(m1["partitions"]) == 2  # ceil(40/20)
    assert m1["version"] == 1 and m1["compacted_from_version"] == 0
    # logical snapshot id carried over: content unchanged
    assert m1["snapshot_id"] == r0.snapshot_id
    got = sorted(
        (r["id"], r["dbl"]) for r in io.read_snapshot("nums").collect()
    )
    assert got == [(i, 2 * i) for i in range(40)]
    # superseded small-file version still time-travels until expiry
    assert io.read_snapshot("nums", 0).count() == 40
    assert io.expire_snapshots("nums", keep=1) == 1


def test_compact_preserves_downstream_resume(spark, tmp_path):
    io = TableIO(spark, str(tmp_path / "wd"))
    up = _small_files_stage(io)
    down = io.run_stage(
        "doubled",
        lambda: io.read_snapshot("nums").selectExpr("id * 10 as ten"),
        inputs=(up.snapshot_id,),
        fingerprint="fp-d",
    )
    assert not down.resumed

    assert io.compact("nums", target_file_rows=40) is not None
    # upstream resume: unchanged (inputs, fingerprint) reads compacted data
    r = _small_files_stage(io)
    assert r.resumed and r.snapshot_id == up.snapshot_id
    # downstream resume: recorded input snapshot id still matches
    d2 = io.run_stage(
        "doubled",
        lambda: io.read_snapshot("nums").selectExpr("id * 10 as ten"),
        inputs=(up.snapshot_id,),
        fingerprint="fp-d",
    )
    assert d2.resumed and d2.snapshot_id == down.snapshot_id


def test_compact_noop_when_files_already_large(spark, tmp_path):
    io = TableIO(spark, str(tmp_path / "wd"))
    _small_files_stage(io, nfiles=2)
    assert io.compact("nums", target_file_rows=20) is None  # already 2 files
    assert io.read_manifest("nums")["version"] == 0
    assert io.compact("missing") is None


def test_compact_aborts_on_concurrent_commit(spark, tmp_path, monkeypatch):
    io = TableIO(spark, str(tmp_path / "wd"))
    _small_files_stage(io, fp="fp-a")

    # interleave: a writer publishes NEW content after compact() has read
    # the source manifest but before its commit — simulated by swapping the
    # snapshot in from inside the commit-lock acquisition
    real_lock = io._commit_lock
    fired = {}

    def racing_lock(name):
        if "done" not in fired:
            fired["done"] = True
            _small_files_stage(io, n=50, fp="fp-b")
        return real_lock(name)

    monkeypatch.setattr(io, "_commit_lock", racing_lock)
    assert io.compact("nums", target_file_rows=100) is None
    monkeypatch.undo()
    cur = io.read_manifest("nums")
    assert cur["fingerprint"] == "fp-b" and cur["total_rows"] == 50
    assert io.read_snapshot("nums").count() == 50
    # aborted rewrite left no claimed dir behind
    import os

    live = {io._data_dir_of(s) for s in io.snapshots("nums")}
    on_disk = {
        d for d in os.listdir(tmp_path / "wd" / "nums")
        if d.startswith("v") and os.path.isdir(tmp_path / "wd" / "nums" / d)
    }
    assert on_disk == live


def test_compact_partitioned_stage_converges(spark, tmp_path):
    """partition_by compaction clusters on the partition columns (one file
    per value) and the convergence guard makes the next call a noop instead
    of an endless full-table rewrite per maintenance cycle."""
    io = TableIO(spark, str(tmp_path / "wd"))
    io.run_stage(
        "part",
        lambda: io.spark.range(40)
        .selectExpr("id", "id % 4 as z")
        .repartition(8),
        fingerprint="fp",
        partition_by=("z",),
    )
    n0 = len(io.read_manifest("part")["partitions"])
    assert n0 > 4  # small-file state: up to 8 tasks x 4 values

    r = io.compact("part", target_file_rows=40, partition_by=("z",))
    assert r is not None and r.rows == 40
    m1 = io.read_manifest("part")
    assert len(m1["partitions"]) == 4  # one file per z value
    # content identical, z layout preserved
    got = sorted((x["id"], x["z"]) for x in io.read_snapshot("part").collect())
    assert got == [(i, i % 4) for i in range(40)]
    # second maintenance call: converged -> noop, no new version
    assert io.compact("part", target_file_rows=40, partition_by=("z",)) is None
    assert io.read_manifest("part")["version"] == m1["version"]


def test_interleaved_commit_does_not_regress_current(spark, tmp_path):
    """Writer A claims v000, writer B claims v001 and commits FIRST; A's
    later commit must not take the pointer back to v000 — 'current' stays
    on the newest version and A's snapshot is archived instead."""
    io = TableIO(spark, str(tmp_path / "wd"))

    def build_a():
        # B runs to completion while A is still building
        io.run_stage(
            "nums",
            lambda: io.spark.range(25).selectExpr("id", "id * 2 as dbl"),
            fingerprint="fp-B",
        )
        return io.spark.range(10).selectExpr("id", "id * 2 as dbl")

    ra = io.run_stage("nums", build_a, fingerprint="fp-A")
    assert not ra.resumed and ra.rows == 10

    m = io.read_manifest("nums")
    assert m["version"] == 1 and m["fingerprint"] == "fp-B"  # B stays current
    assert [s["version"] for s in io.snapshots("nums")] == [0, 1]
    assert io.read_snapshot("nums", 0).count() == 10  # A readable, archived
    assert io.read_snapshot("nums").count() == 25
    # resume with B's fingerprint serves B; A's fingerprint re-runs nothing
    rb = io.run_stage(
        "nums",
        lambda: io.spark.range(25).selectExpr("id", "id * 2 as dbl"),
        fingerprint="fp-B",
    )
    assert rb.resumed and rb.rows == 25


# ------------------------------------------------- manifests from footers


def _rescan(spark, path):
    from pyspark.sql import functions as F

    return {
        r["file"]: r["rows"]
        for r in spark.read.parquet(path)
        .groupBy(F.input_file_name().alias("file"))
        .agg(F.count("*").alias("rows"))
        .collect()
    }


@pytest.mark.parametrize(
    "name,sql,partition_by",
    [
        ("nums", "SELECT id, id * 2 AS dbl FROM range(0, 40, 1, 4)", ()),
        # a bigint source column: the read-back must still infer z as int
        ("by_zoom", "SELECT id, id % 3 AS z FROM range(0, 40, 1, 4)", ("z",)),
        ("two words", "SELECT id, id * 2 AS dbl FROM range(0, 40, 1, 4)", ()),
        # 5 of 8 input partitions hold no row
        ("sparse", "SELECT id FROM range(0, 40, 1, 8) WHERE id < 12", ()),
        ("empty", "SELECT id FROM range(0, 40, 1, 4) WHERE id < 0", ()),
    ],
)
def test_manifest_matches_rescan(spark, tmp_path, name, sql, partition_by):
    """Footer-derived manifests equal what an ``input_file_name()`` rescan
    of the written table reports — same files, same per-file rows, same
    total — the snapshot id follows its documented scheme over them, and
    the read-back schema equals a schema-inferring read's."""
    import hashlib
    import json
    import os

    io = TableIO(spark, str(tmp_path / "wd"))
    r = io.run_stage(name, lambda: spark.sql(sql), inputs=("up",),
                     fingerprint="fp", partition_by=partition_by)
    m = io.read_manifest(name)
    path = os.path.join(io.workdir, name, m["data_dir"])

    scanned = _rescan(spark, path)
    assert {p["file"]: p["rows"] for p in m["partitions"]} == scanned
    assert len(m["partitions"]) == len(scanned)
    assert m["total_rows"] == r.rows == sum(scanned.values())
    assert m["snapshot_id"] == r.snapshot_id == hashlib.sha256(
        json.dumps(
            {"name": name, "inputs": ["up"], "fingerprint": "fp",
             "files": sorted(scanned.items())},
            sort_keys=True, default=str,
        ).encode()
    ).hexdigest()[:16]
    assert r.df.schema == spark.read.parquet(path).schema
    assert r.df.count() == r.rows


def test_run_stage_runs_no_job_beyond_its_write(spark, tmp_path):
    """On an already-materialized DataFrame, run_stage costs exactly the
    jobs of a plain parquet write of it: counts come from footers and the
    read-back needs no schema inference."""
    from .conftest import count_jobs

    df = spark.range(0, 400, 1, 4).selectExpr("id", "id * 2 AS dbl").localCheckpoint()
    with count_jobs(spark) as write_only:
        df.write.mode("append").parquet(str(tmp_path / "plain"))
    io = TableIO(spark, str(tmp_path / "wd"))
    with count_jobs(spark) as staged:
        r = io.run_stage("nums", lambda: df, fingerprint="fp")
    assert r.rows == 400
    assert write_only["jobs"] >= 1
    assert staged["jobs"] == write_only["jobs"]


def test_empty_partitioned_stage_keeps_its_columns(spark, tmp_path):
    """A partitioned stage with no rows writes no partition directory; its
    read-back still carries the partition column."""
    io = TableIO(spark, str(tmp_path / "wd"))
    r = io.run_stage(
        "empty_by_zoom",
        lambda: spark.sql("SELECT id, id % 3 AS z FROM range(0, 40, 1, 4) WHERE id < 0"),
        fingerprint="fp",
        partition_by=("z",),
    )
    assert r.rows == 0 and io.read_manifest("empty_by_zoom")["partitions"] == []
    assert r.df.columns == ["id", "z"] and r.df.count() == 0


def test_durable_pyramid_manifests_match_rescan(spark, tmp_path):
    """Every stage of a ``TilePyramid(workdir=)`` build records the files and
    per-file rows a rescan of its table reports, and each level the BFS
    reads back has the schema a schema-inferring read gives."""
    import os

    from geojson_vt_cpp_spark.config import Options
    from geojson_vt_cpp_spark.operators.convert import extract_features
    from geojson_vt_cpp_spark.operators.pyramid import TilePyramid
    from geojson_vt_cpp_spark.sources.documents import documents_from_fixture

    from .golden_utils import load_fixture

    opts = Options(index_max_zoom=2, index_max_points=2000, max_zoom=14)
    docs = documents_from_fixture(spark, load_fixture("us-states.json"), "us-states")
    tol = (opts.tolerance / opts.extent) / (1 << opts.max_zoom)
    wd = str(tmp_path / "wd")
    pyr = TilePyramid(extract_features(docs, tol), opts, workdir=wd)
    io = TableIO(spark, wd)
    stages = ["pyr_base"] + [f"pyr_level_{z:02d}" for z in sorted(pyr._level_assigned)]
    for name in stages:
        m = io.read_manifest(name)
        path = os.path.join(wd, name, m["data_dir"])
        scanned = _rescan(spark, path)
        assert {p["file"]: p["rows"] for p in m["partitions"]} == scanned, name
        assert m["total_rows"] == sum(scanned.values()) > 0, name
    for z, df in pyr._level_assigned.items():
        m = io.read_manifest(f"pyr_level_{z:02d}")
        path = os.path.join(wd, f"pyr_level_{z:02d}", m["data_dir"])
        assert df.schema == spark.read.parquet(path).schema, z
    pyr.close()
