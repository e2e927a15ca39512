"""The native split routing is built once per buffer margin and shared by
every split in the process. Two pyramids with different buffers built in
one session must each match the LocalPyramid mirror (tests/local_pyramid.py)
— a routing cache that ignored the buffer would hand the second build the
first build's child windows."""

from __future__ import annotations

import pytest

from geojson_vt_cpp_spark.config import Options

from .golden_utils import load_fixture

pytestmark = pytest.mark.spark


def test_pyramids_with_different_buffers_match_mirror(spark, tmp_path):
    from geojson_vt_cpp_spark.operators.convert import extract_features
    from geojson_vt_cpp_spark.operators.pyramid import TilePyramid
    from geojson_vt_cpp_spark.sources.documents import documents_from_fixture
    from tests.local_pyramid import LocalPyramid

    text = load_fixture("us-states.json")
    docs = documents_from_fixture(spark, text, "us-states")
    # one in-memory and one durable build: both split through the cache
    for buffer, workdir in ((16, None), (1024, str(tmp_path / "wd"))):
        opts = Options(index_max_zoom=2, index_max_points=2000, max_zoom=14,
                       buffer=buffer)
        lp = LocalPyramid(text, opts)
        tol = (opts.tolerance / opts.extent) / (1 << opts.max_zoom)
        pyr = TilePyramid(extract_features(docs, tol), opts, workdir=workdir)
        assert pyr.total == lp.total, f"buffer {buffer}"
        assert pyr.stats == lp.stats, f"buffer {buffer}"
        mirror = {f"z{t.z}-{t.x}-{t.y}": t.features for t in lp.tiles.values()}
        assert pyr.all_tiles() == mirror, f"buffer {buffer}"
        # a drill below the index splits through the same cached routing
        t = pyr.get_tile(4, 3, 6)
        assert t.features == lp.get_tile(4, 3, 6).features, f"buffer {buffer}"
        pyr.close()

