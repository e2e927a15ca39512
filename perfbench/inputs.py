"""Seeded input generation.

Every input the engine sees is a pure function of ``(seed, sizes)``: the
jittered us-states corpus, the join points (with their hot share), the kNN
sites, the probe order and the drill and one-shot targets. The engine only
receives the DataFrames built from these values.
"""

from __future__ import annotations

import json
import math
import os
from dataclasses import dataclass

import numpy as np

FIXTURE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "fixtures", "us-states.json",
)

# us-states spans longitudes -188.9 (Alaska's Aleutians) to -65.6. The
# engine's wrap stage clips every feature into three world copies when any
# feature lies within the tile buffer (64/4096 of the world, 5.625 degrees)
# of the antimeridian, and otherwise passes the features through. A shift
# east by at least MIN_SHIFT_DEG and below MAX_SHIFT_DEG keeps every copy
# out of both buffer windows, so no seed switches that path on: a seed that
# did ran its builds 3 s (about 70%) longer.
WRAP_BUFFER_DEG = 360.0 * 64 / 4096
MIN_SHIFT_DEG = 15.0
MAX_SHIFT_DEG = 235.0

# the hot region sits inside Kansas, a 13-vertex near-rectangle, so the
# hot points' refinement cost does not depend on which state a seed picks.
# Copies overlap, so a box inside one copy's Kansas also lies inside 0-2
# other copies' states; the box is redrawn until it lies in exactly
# HOT_POLYGONS polygons and in no other polygon's bbox, which fixes the
# number of hot PIP rows and join candidates per seed.
HOT_STATE = "Kansas"
HOT_HALF_DEG = 0.05
HOT_POLYGONS = 2

# join points and sites are drawn in the latitude band of the corpus
LAT_BAND = (18.0, 65.0)


def load_fixture() -> dict:
    with open(FIXTURE) as f:
        return json.load(f)


def _shift_coords(coords, dlon: float):
    if isinstance(coords[0], (int, float)):
        return [coords[0] + dlon] + list(coords[1:])
    return [_shift_coords(c, dlon) for c in coords]


def copy_shifts(seed: int, copies: int) -> list[float]:
    """Stratified longitude shifts: copy slots are evenly spread over
    [MIN_SHIFT_DEG, MAX_SHIFT_DEG), each with a seeded offset inside its
    slot, and the slots are dealt to copies in a seeded order."""
    rng = np.random.default_rng([seed, 1])
    width = (MAX_SHIFT_DEG - MIN_SHIFT_DEG) / copies
    slots = MIN_SHIFT_DEG + (np.arange(copies) + rng.uniform(0.0, 1.0, copies)) * width
    return [float(v) for v in rng.permutation(slots)]


def corpus_features(fixture: dict, shifts: list[float]) -> list[list[dict]]:
    """One list of shifted GeoJSON features per copy, in fixture order."""
    out = []
    for dlon in shifts:
        feats = []
        for f in fixture["features"]:
            g = dict(f["geometry"])
            g["coordinates"] = _shift_coords(g["coordinates"], dlon)
            feats.append({**f, "geometry": g})
        out.append(feats)
    return out


def corpus_doc_rows(copies_feats: list[list[dict]]) -> list[tuple]:
    """Documents rows for the engine. ``doc_id`` sorts in corpus order, so
    the engine's feature order equals the order of :func:`corpus_text`."""
    from geojson_vt_cpp_spark.sources.documents import docs_rows_from_fixture

    rows = []
    for c, feats in enumerate(copies_feats):
        text = json.dumps({"type": "FeatureCollection", "features": feats})
        rows += docs_rows_from_fixture(text, f"us-states-{c:04d}")
    return rows


def corpus_text(copies_feats: list[list[dict]]) -> str:
    """The whole corpus as one FeatureCollection (input of the mirror)."""
    feats = [f for fs in copies_feats for f in fs]
    return json.dumps({"type": "FeatureCollection", "features": feats})


def project(lon: np.ndarray, lat: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """WGS84 -> unit Web Mercator (the engine's projected space)."""
    x = lon / 360.0 + 0.5
    s = np.sin(lat * math.pi / 180.0)
    y = 0.5 - 0.25 * np.log((1.0 + s) / (1.0 - s)) / math.pi
    return x, np.clip(y, 0.0, 1.0)


def _bbox(coords) -> tuple[float, float, float, float]:
    a = np.asarray(list(_flatten(coords)), dtype=np.float64)
    return a[:, 0].min(), a[:, 1].min(), a[:, 0].max(), a[:, 1].max()


def _flatten(coords):
    if isinstance(coords[0], (int, float)):
        yield coords[:2]
    else:
        for c in coords:
            yield from _flatten(c)


@dataclass
class JoinInputs:
    point_id: np.ndarray
    px: np.ndarray
    py: np.ndarray
    site_id: np.ndarray
    sx: np.ndarray
    sy: np.ndarray
    hot_points: int


def join_inputs(
    seed: int, fixture: dict, shifts: list[float], n_points: int,
    n_sites: int, hot_share: float,
) -> JoinInputs:
    """Join points (``hot_share`` of them inside one small box in a seeded
    copy of the hot state, the rest uniform over the corpus's longitude
    span and latitude band) and uniform kNN sites over the same area."""
    rng = np.random.default_rng([seed, 2])
    lon_lo, lon_hi = -180.0, -65.0 + MAX_SHIFT_DEG
    n_hot = int(round(n_points * hot_share))
    n_cold = n_points - n_hot

    cx, cy = _hot_centre(rng, fixture, shifts)

    lon = np.concatenate([
        rng.uniform(lon_lo, lon_hi, n_cold),
        rng.uniform(cx - HOT_HALF_DEG, cx + HOT_HALF_DEG, n_hot),
    ])
    lat = np.concatenate([
        rng.uniform(*LAT_BAND, n_cold),
        rng.uniform(cy - HOT_HALF_DEG, cy + HOT_HALF_DEG, n_hot),
    ])
    order = rng.permutation(n_points)
    px, py = project(lon[order], lat[order])

    slon = rng.uniform(lon_lo, lon_hi, n_sites)
    slat = rng.uniform(*LAT_BAND, n_sites)
    sx, sy = project(slon, slat)
    return JoinInputs(
        np.arange(n_points, dtype=np.int64), px, py,
        np.arange(n_sites, dtype=np.int64), sx, sy, n_hot,
    )


def _polygons(fixture: dict, shifts: list[float]) -> list[dict]:
    """Every (multi)polygon of the shifted corpus, projected, in the shape
    :func:`checks.brute_pip` takes."""
    out = []
    for c, feats in enumerate(corpus_features(fixture, shifts)):
        for i, f in enumerate(feats):
            g = f["geometry"]
            if g["type"] not in ("Polygon", "MultiPolygon"):
                continue
            polys = [g["coordinates"]] if g["type"] == "Polygon" else g["coordinates"]
            xs, ys, lens = [], [], []
            for ring in (r for poly in polys for r in poly):
                a = np.asarray(ring, dtype=np.float64)
                x, y = project(a[:, 0], a[:, 1])
                xs += list(x)
                ys += list(y)
                lens.append(len(ring))
            out.append({"key": (c, i), "xs": xs, "ys": ys, "part_lens": lens})
    return out


def _hot_centre(rng, fixture: dict, shifts: list[float]) -> tuple[float, float]:
    """A seeded hot-box centre in a seeded copy of the hot state whose
    whole box (centre and corners) lies in exactly HOT_POLYGONS polygons
    and in the bboxes of no others."""
    from perfbench.checks import brute_pip

    hot = next(f for f in fixture["features"]
               if f["properties"].get("name") == HOT_STATE)
    minx, miny, maxx, maxy = _bbox(hot["geometry"]["coordinates"])
    polys = _polygons(fixture, shifts)
    boxes = np.array([(min(p["xs"]), min(p["ys"]), max(p["xs"]), max(p["ys"]))
                      for p in polys])
    d = HOT_HALF_DEG
    for _ in range(1000):
        dlon = shifts[int(rng.integers(len(shifts)))]
        # drawn from the middle half of the state's bbox
        cx = rng.uniform(minx + (maxx - minx) / 4, maxx - (maxx - minx) / 4) + dlon
        cy = rng.uniform(miny + (maxy - miny) / 4, maxy - (maxy - miny) / 4)
        px, py = project(np.array([cx, cx - d, cx - d, cx + d, cx + d]),
                         np.array([cy, cy - d, cy + d, cy - d, cy + d]))
        in_box = ((px[:, None] >= boxes[:, 0]) & (py[:, None] >= boxes[:, 1])
                  & (px[:, None] <= boxes[:, 2]) & (py[:, None] <= boxes[:, 3]))
        if (in_box.sum(axis=1) != HOT_POLYGONS).any():
            continue
        hits = brute_pip(np.arange(5), px, py, polys)
        if (np.bincount([h[0] for h in hits], minlength=5) == HOT_POLYGONS).all():
            return cx, cy
    raise RuntimeError(f"no hot box inside {HOT_POLYGONS} polygons")


def probe_order(seed: int, keys: list[tuple[int, int, int]]) -> list[tuple[int, int, int]]:
    rng = np.random.default_rng([seed, 3])
    keys = sorted(keys)
    return [keys[i] for i in rng.permutation(len(keys))]


def drill_targets(
    seed: int, leaves: list[tuple[int, int, int]], depth: int, n: int,
) -> list[tuple[int, int, int]]:
    """``n`` distinct tiles ``depth`` zooms below seeded non-empty leaves."""
    rng = np.random.default_rng([seed, 4])
    leaves = sorted(leaves)
    picks = rng.choice(len(leaves), size=min(n, len(leaves)), replace=False)
    out = []
    for i in sorted(picks):
        z, x, y = leaves[i]
        m = 1 << depth
        out.append((z + depth, x * m + int(rng.integers(m)),
                    y * m + int(rng.integers(m))))
    return out


def oneshot_targets(
    seed: int, copies_feats: list[list[dict]], zoom: int, n: int,
) -> list[tuple[int, int, int]]:
    """``n`` tiles at ``zoom`` holding the bbox centre of a seeded feature."""
    rng = np.random.default_rng([seed, 5])
    out = []
    for _ in range(n):
        feats = copies_feats[int(rng.integers(len(copies_feats)))]
        f = feats[int(rng.integers(len(feats)))]
        minx, miny, maxx, maxy = _bbox(f["geometry"]["coordinates"])
        x, y = project(np.array([(minx + maxx) / 2]), np.array([(miny + maxy) / 2]))
        m = 1 << zoom
        out.append((zoom, min(m - 1, max(0, int(x[0] * m))),
                    min(m - 1, max(0, int(y[0] * m)))))
    return out
