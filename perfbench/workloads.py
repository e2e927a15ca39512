"""The workloads: sizes, set-up, one closed-loop iteration, checks.

Each workload is driven by one client thread that issues the next public
call only after the previous one returned. An iteration is a fixed sequence
of operations; every operation is timed on its own and its output is kept
for the checks that run after timing.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np

from perfbench import checks, inputs

# ----------------------------------------------------------------- sizes

# warmup_iters: untimed full iterations before timing. A fixed count, so the
# JVM's peak RSS is read after the same amount of work on every run. A fresh
# JVM keeps getting faster at the joins' per-query driver work for some
# twenty iterations (7.0 s -> 2.3 s an iteration); the steep part is over
# after three. A publish_serve iteration is cold once (16 s, most of it the
# first durable build) and then within 10% of its plateau.
SIZES = {
    "joins": {
        "warmup_iters": 3,
        "copies": 10,
        "points": 10000,
        "hot_share": 0.25,
        "sites": 1000,
        "k": 5,
        "knn_res": 5,
        "knn_ring": 1,
    },
    "publish_serve": {
        "warmup_iters": 2,
        "copies": 4,
        "index_max_zoom": 2,
        "index_max_points": 2000,
        "max_zoom": 14,
        "drill_tiles": 4,
        "drill_depth": 1,
        "oneshots": 1,
        "oneshot_zoom": 6,
    },
}


@dataclass
class Op:
    kind: str
    wall_s: float
    result: object = None
    error: str | None = None


@dataclass
class Iteration:
    ops: list[Op] = field(default_factory=list)
    wall_s: float = 0.0  # sum of the op walls
    spans: list = field(default_factory=list)  # trace spans, traced runs only

    def run(self, kind: str, fn):
        """Time one public call; an exception fails the op and ends the
        iteration (later ops depend on earlier ones)."""
        t0 = time.perf_counter()
        try:
            result = fn()
        except Exception as e:  # recorded as a failed operation
            self.ops.append(Op(kind, time.perf_counter() - t0, None, repr(e)))
            raise
        self.ops.append(Op(kind, time.perf_counter() - t0, result))
        return result


def _options(sizes: dict):
    from geojson_vt_cpp_spark.config import Options

    return Options(
        index_max_zoom=sizes["index_max_zoom"],
        index_max_points=sizes["index_max_points"],
        max_zoom=sizes["max_zoom"],
    )


def _docs_df(spark, copies_feats):
    from geojson_vt_cpp_spark.sources.documents import DOCUMENTS_SCHEMA

    rows = inputs.corpus_doc_rows(copies_feats)
    n_parts = spark.sparkContext.defaultParallelism * 2
    docs = spark.createDataFrame(rows, DOCUMENTS_SCHEMA).repartition(n_parts).cache()
    docs.count()
    return docs


class Workload:
    name = ""

    def __init__(self, spark, seed: int, workdir: str):
        self.spark = spark
        self.seed = seed
        self.workdir = workdir
        self.sizes = SIZES[self.name]
        self.fixture = inputs.load_fixture()
        self.shifts = inputs.copy_shifts(seed, self.sizes["copies"])
        self.copies = inputs.corpus_features(self.fixture, self.shifts)
        self._cached = []

    def setup(self) -> None:
        """Build the engine's input DataFrames (timed, repeated)."""
        raise NotImplementedError

    def teardown(self) -> None:
        for df in self._cached:
            df.unpersist()
        self._cached = []

    def prepare_checks(self) -> None:
        """Untimed reference state needed before the first iteration."""

    def iteration(self, it: Iteration) -> None:
        raise NotImplementedError

    def check(self, op: Op) -> list[str]:
        raise NotImplementedError


# ----------------------------------------------------------------- joins


class JoinsWorkload(Workload):
    """Point-in-polygon and kNN joins over features extracted in set-up."""

    name = "joins"

    def setup(self):
        import pandas as pd

        from geojson_vt_cpp_spark.operators import convert as CV

        self.teardown()
        s = self.sizes
        docs = _docs_df(self.spark, self.copies)
        # the pyramid's convert tolerance at max_zoom 14
        feats = CV.extract_features(docs, (3.0 / 4096.0) / (1 << 14)).cache()
        feats.count()
        self.ji = inputs.join_inputs(
            self.seed, self.fixture, self.shifts, s["points"], s["sites"],
            s["hot_share"],
        )
        n_parts = self.spark.sparkContext.defaultParallelism * 2
        points = self.spark.createDataFrame(pd.DataFrame({
            "point_id": self.ji.point_id, "px": self.ji.px, "py": self.ji.py,
        })).repartition(n_parts).cache()
        sites = self.spark.createDataFrame(pd.DataFrame({
            "site_id": self.ji.site_id, "sx": self.ji.sx, "sy": self.ji.sy,
        })).cache()
        points.count()
        sites.count()
        docs.unpersist()
        self.feats, self.points, self.sites = feats, points, sites
        self._cached = [feats, points, sites]

    def prepare_checks(self):
        from pyspark.sql import functions as F

        rows = (
            self.feats.where(F.col("gtype").isin(3, 6))
            .select("doc_id", "span_idx", "feature_idx", "member_seq",
                    "xs", "ys", "part_lens")
            .collect()
        )
        polys = [
            {"key": (r["doc_id"], r["span_idx"], r["feature_idx"], r["member_seq"]),
             "xs": r["xs"], "ys": r["ys"], "part_lens": r["part_lens"]}
            for r in rows
        ]
        ji = self.ji
        self.want_pip = checks.brute_pip(ji.point_id, ji.px, ji.py, polys)
        self.want_knn = checks.brute_knn(ji.px, ji.py, ji.sx, ji.sy, ji.site_id,
                                         self.sizes["k"])

    def iteration(self, it):
        from geojson_vt_cpp_spark.operators import spatial_join as SJ

        s = self.sizes

        def pip():
            # default arguments: the engine picks the edge-table broadcast
            # from its own edge count, as it does for any caller
            return SJ.point_in_polygon_join(self.points, self.feats).select(
                "point_id", "doc_id", "span_idx", "feature_idx", "member_seq",
            ).toPandas()

        def knn():
            return SJ.knn_join(
                self.points, self.sites, k=s["k"], res=s["knn_res"],
                ring=s["knn_ring"], query_cols=("point_id", "px", "py"),
                site_cols=("site_id", "sx", "sy"),
            ).select("point_id", "site_id", "knn_rank").toPandas()

        it.run("pip", pip)
        it.run("knn", knn)

    def check(self, op):
        if op.kind == "pip":
            got = {(int(p), d, int(s), int(f), int(m))
                   for p, d, s, f, m in op.result.itertuples(index=False)}
            return checks.check_pip(got, self.want_pip)
        pdf = op.result
        return checks.check_knn(
            pdf["point_id"].to_numpy(np.int64), pdf["site_id"].to_numpy(np.int64),
            pdf["knn_rank"].to_numpy(np.int64), self.want_knn,
        )


# --------------------------------------------------------- publish_serve


class PublishServeWorkload(Workload):
    """Publish a durable index, then serve tile reads from it.

    The publish half is the engine's durable build: convert, then
    ``TilePyramid(..., workdir=)``, whose base and every BFS level are
    manifest-gated TableIO parquet stages in a fresh workdir, then the
    serving export of the quantized tiles. The serve half reads every
    registered tile once (snapshot probes), drills a batch of tiles below
    the index and slices one-shot tiles.
    """

    name = "publish_serve"

    def setup(self):
        self.teardown()
        self.docs = _docs_df(self.spark, self.copies)
        self._cached = [self.docs]

    def prepare_checks(self):
        s = self.sizes
        self.mirror = checks.Mirror(inputs.corpus_text(self.copies), _options(s))
        self.registry = self.mirror.registry()
        leaves = [
            (t.z, t.x, t.y) for t in self.mirror.pyr.tiles.values()
            if t.source and t.features
        ]
        self.probes = inputs.probe_order(self.seed, list(self.registry))
        self.drills = inputs.drill_targets(self.seed, leaves, s["drill_depth"],
                                           s["drill_tiles"])
        self.oneshots = inputs.oneshot_targets(self.seed, self.copies,
                                               s["oneshot_zoom"], s["oneshots"])
        # index tiles first: the drills below add tiles to the mirror
        self.mirror_tiles = self.mirror.tiles(self.registry)
        self._want_probe = {
            k: (checks.canon_tile(v), self.mirror.tile(*k).num_points)
            for k, v in self.mirror_tiles.items()
        }
        self._want_drill = {k: self.mirror.tile(*k).features for k in self.drills}
        self._want_oneshot = {k: checks.canon_tile(self.mirror.one_shot(*k))
                              for k in self.oneshots}
        self._n = 0

    def iteration(self, it):
        from geojson_vt_cpp_spark.operators import convert as CV
        from geojson_vt_cpp_spark.operators import pyramid as PY
        from geojson_vt_cpp_spark.operators import tile_one_shot as TO

        o = _options(self.sizes)
        self._n += 1
        wd = os.path.join(self.workdir, f"publish-{self._n:03d}")
        # the convert tolerance TilePyramid.from_documents uses
        tol = (o.tolerance / o.extent) / (1 << o.max_zoom)
        p = None
        try:
            p = it.run("build", lambda: PY.TilePyramid(
                CV.extract_features(self.docs, tol, generate_id=o.generate_id),
                o, workdir=os.path.join(wd, "io")))
            it.ops[-1].result = set(p.meta.keys())
            it.run("export", lambda: p.enable_serving(os.path.join(wd, "serve")))
            for key in self.probes:
                tile = it.run("probe", lambda: p.get_tile(*key))
                it.ops[-1].result = (key, tile.features, tile.num_points)
            rows = it.run("drill", lambda: p.get_tiles(self.drills).collect())
            it.ops[-1].result = checks.rows_to_tiles(rows)
            for key in self.oneshots:
                rows = it.run("oneshot", lambda: TO.geojson_to_tile_df(
                    self.docs, *key, clip=True).collect())
                it.ops[-1].result = (key, checks.rows_to_tiles(rows).get(key, []))
        finally:
            if p is not None:
                p.close()
            shutil.rmtree(wd, ignore_errors=True)

    def check(self, op):
        if op.kind == "build":
            if op.result == self.registry:
                return []
            return [f"build: {len(op.result)} tiles registered, mirror has "
                    f"{len(self.registry)}"]
        if op.kind == "export":
            return []  # the probes read the export
        if op.kind == "probe":
            key, feats, num_points = op.result
            if (checks.canon_tile(feats), num_points) == self._want_probe[key]:
                return []
            return [f"probe: tile {key} differs from the mirror"]
        if op.kind == "drill":
            # a requested tile without features has no rows
            got = {k: [] for k in self.drills} | op.result
            return checks.compare_tiles(got, self._want_drill, "drill")
        key, feats = op.result
        if checks.canon_tile(feats) != self._want_oneshot[key]:
            return [f"oneshot: tile {key} differs from the mirror"]
        return []


WORKLOADS = {w.name: w for w in (PublishServeWorkload, JoinsWorkload)}
