"""Output checks, run after timing against independent computations.

- Tiles (pyramid, publish registry, probes, drills, one-shots) are compared
  with the driver-side mirror in ``tests/local_pyramid.py`` as canonical
  per-tile JSON: exact int16 geometry, tags, ids and feature order.
- Point-in-polygon rows are compared with a numpy brute-force even-odd test
  over every polygon.
- kNN rows are compared with numpy brute force ranked by (dist2, site_id).

Each checker returns a list of mismatch strings; empty means correct.
"""

from __future__ import annotations

import json

import numpy as np

# ---------------------------------------------------------------- tiles


def canon_feature(f: dict) -> dict:
    """One output feature in a type-exact form (numpy scalars and tuples
    from either side become plain Python ints, bools and lists)."""
    return {
        "type": int(f["type"]),
        "is_multi": bool(f["is_multi"]),
        "parts": [[[int(x), int(y)] for x, y in part] for part in f["parts"]],
        "poly_lens": [int(v) for v in f["poly_lens"]],
        "tags": f["tags"],
        "id": None if f["id"] is None else str(f["id"]),
        "id_kind": f["id_kind"],
    }


def canon_tile(features: list[dict]) -> str:
    return json.dumps([canon_feature(f) for f in features], sort_keys=True)


def rows_to_tiles(rows) -> dict[tuple[int, int, int], list[dict]]:
    """Quantized tile-feature rows (any order) -> features per tile key, in
    the engine's output order; stat-only rows (out_type < 0) carry no
    feature."""
    sort_keys = ("copy_tag", "doc_id", "span_idx", "feature_idx",
                 "member_seq", "slice_path")
    by_tile: dict[tuple[int, int, int], list] = {}
    for r in rows:
        by_tile.setdefault((int(r["z"]), int(r["tx"]), int(r["ty"])), []).append(r)
    out = {}
    for key, rs in by_tile.items():
        rs.sort(key=lambda r: tuple(r[k] for k in sort_keys))
        out[key] = [
            {
                "type": r["out_type"],
                "is_multi": r["is_multi"],
                "parts": [list(zip(xs, ys))
                          for xs, ys in zip(r["part_xs"], r["part_ys"])],
                "poly_lens": r["poly_lens"],
                "tags": json.loads(r["props_json"]),
                "id": r["feature_id"],
                "id_kind": r["id_kind"],
            }
            for r in rs
            if r["out_type"] >= 0
        ]
    return out


def compare_tiles(
    got: dict[tuple[int, int, int], list[dict]],
    want: dict[tuple[int, int, int], list[dict]],
    what: str,
) -> list[str]:
    """Exact per-tile canonical JSON comparison over the same key set."""
    errs = []
    if set(got) != set(want):
        errs.append(
            f"{what}: tile keys differ: only engine "
            f"{sorted(set(got) - set(want))[:5]}, only mirror "
            f"{sorted(set(want) - set(got))[:5]}"
        )
    for key in sorted(set(got) & set(want)):
        if canon_tile(got[key]) != canon_tile(want[key]):
            errs.append(f"{what}: tile {key} differs from the mirror")
    return errs


class Mirror:
    """The driver-side reference pyramid over the same corpus text."""

    def __init__(self, text: str, options):
        from tests.local_pyramid import LocalPyramid

        self.text = text
        self.pyr = LocalPyramid(text, options)

    def registry(self) -> set[tuple[int, int, int]]:
        return {(t.z, t.x, t.y) for t in self.pyr.tiles.values()}

    def tile(self, z: int, x: int, y: int):
        return self.pyr.get_tile(z, x, y)

    def tiles(self, keys) -> dict[tuple[int, int, int], list[dict]]:
        return {k: self.tile(*k).features for k in keys}

    def one_shot(self, z: int, x: int, y: int) -> list[dict]:
        from tests.local_pyramid import geojson_to_tile

        return geojson_to_tile(self.text, z, x, y, clip=True).features


# ------------------------------------------------------------ spatial joins


def brute_pip(
    point_id: np.ndarray, px: np.ndarray, py: np.ndarray, polygons: list[dict],
) -> set[tuple]:
    """Even-odd point-in-polygon of every point against every polygon.

    ``polygons``: dicts with ``key`` (the identity tuple the join returns),
    ``xs``/``ys`` (projected vertices) and ``part_lens`` (ring lengths).
    Each ring is closed implicitly from its last vertex to its first; rings
    with fewer than 3 vertices are skipped. Returns {(point_id, *key)}.
    """
    out = set()
    for poly in polygons:
        xs = np.asarray(poly["xs"], dtype=np.float64)
        ys = np.asarray(poly["ys"], dtype=np.float64)
        sel = np.nonzero(
            (px >= xs.min()) & (px <= xs.max())
            & (py >= ys.min()) & (py <= ys.max())
        )[0]
        if sel.size == 0:
            continue
        qx, qy = px[sel], py[sel]
        parity = np.zeros(sel.size, dtype=bool)
        off = 0
        for n in poly["part_lens"]:
            n = int(n)
            if n >= 3:
                bx, by = xs[off:off + n], ys[off:off + n]  # edge ends
                ax, ay = np.roll(bx, 1), np.roll(by, 1)  # edge starts
                keep = ay != by
                ax, ay, bx, by = ax[keep], ay[keep], bx[keep], by[keep]
                between = (ay[None, :] > qy[:, None]) != (by[None, :] > qy[:, None])
                with np.errstate(divide="ignore", invalid="ignore"):
                    xc = (bx - ax)[None, :] * (qy[:, None] - ay[None, :]) / (
                        (by - ay)[None, :]) + ax[None, :]
                parity ^= ((between & (qx[:, None] < xc)).sum(axis=1) % 2).astype(bool)
            off += n
        for pid in point_id[sel[parity]]:
            out.add((int(pid), *poly["key"]))
    return out


def check_pip(got: set[tuple], want: set[tuple]) -> list[str]:
    if got == want:
        return []
    return [
        f"pip: {len(got - want)} extra and {len(want - got)} missing rows "
        f"(e.g. extra {sorted(got - want)[:2]}, missing {sorted(want - got)[:2]})"
    ]


def brute_knn(
    qx: np.ndarray, qy: np.ndarray, sx: np.ndarray, sy: np.ndarray,
    site_id: np.ndarray, k: int, chunk: int = 2048,
) -> np.ndarray:
    """(n_queries, k) site ids of each query's k nearest sites, ranked by
    (dist2, site_id) with dist2 = dx*dx + dy*dy."""
    order = np.argsort(site_id, kind="stable")
    sx, sy, sid = sx[order], sy[order], site_id[order]
    out = np.empty((qx.size, k), dtype=np.int64)
    for lo in range(0, qx.size, chunk):
        dx = qx[lo:lo + chunk, None] - sx[None, :]
        dy = qy[lo:lo + chunk, None] - sy[None, :]
        d2 = dx * dx + dy * dy
        # stable sort over site-id-ordered columns breaks dist2 ties by id
        out[lo:lo + chunk] = sid[np.argsort(d2, axis=1, kind="stable")[:, :k]]
    return out


def check_knn(
    query_id: np.ndarray, site_id: np.ndarray, rank: np.ndarray,
    want: np.ndarray,
) -> list[str]:
    """Engine rows (query_id, site_id, 1-based rank) vs brute force rows
    (row i of ``want`` belongs to query id i)."""
    n, k = want.shape
    got = np.full((n, k), -1, dtype=np.int64)
    ok = (rank >= 1) & (rank <= k) & (query_id >= 0) & (query_id < n)
    if not ok.all() or query_id.size != n * k:
        return [f"knn: expected {n * k} rows with ranks 1..{k}, got "
                f"{query_id.size} rows ({int((~ok).sum())} out of range)"]
    got[query_id, rank - 1] = site_id
    bad = np.nonzero((got != want).any(axis=1))[0]
    if bad.size == 0:
        return []
    q = int(bad[0])
    return [f"knn: {bad.size} queries differ (e.g. query {q}: "
            f"{got[q].tolist()} vs {want[q].tolist()})"]
