"""Arrow-batched clip stages shared by wrap, the pyramid split, and one-shot
tile slicing.

Each stage is a ``mapInPandas`` kernel: whole Arrow batches cross the
Python boundary once, then the per-feature clip runs in numpy
(:func:`geojson_vt_cpp_spark.functions.kernels.clip_feature`). This is the
Spark re-expression of ``detail::clip<I>`` (``clip.hpp:264-317``): the
reference's per-call trivial accept/reject on (minAll, maxAll) is exactly
equivalent to the per-feature bbox test when applied row-wise (group-min >=
k1 implies every feature-min >= k1, and so on), so no per-tile grouping or
shuffle is needed — clips are fully narrow transforms.
"""

from __future__ import annotations

import functools
from typing import Iterator

import pandas as pd
from pyspark.sql import functions as F

from geojson_vt_cpp_spark.functions import kernels as K
from geojson_vt_cpp_spark.operators import codec


def iter_rows(pdf: pd.DataFrame) -> Iterator[dict]:
    cols = list(pdf.columns)
    for vals in zip(*(pdf[c].values for c in cols)):
        yield dict(zip(cols, vals))


def _emit_clipped(row: dict, geoms, line_metrics: bool) -> list[dict]:
    """Expand a clip_feature result into output rows.

    "accept" re-emits the row unchanged (the reference copies the feature,
    ``clip.hpp:290-291``); a >1 fan-out (lineMetrics) extends ``slice_path``
    with a zero-padded component per slice so emission order is preserved
    through subsequent sorts (``clip.hpp:303-311``).
    """
    if geoms == "accept":
        return [row]
    out = []
    fan = len(geoms) > 1
    for j, g in enumerate(geoms):
        r = dict(row)
        r.update(codec.geom_to_cols(g))
        if fan:
            r["slice_path"] = row["slice_path"] + f"|{j:04d}"
        out.append(r)
    return out


def clip_fixed_window(features_df, axis: int, k1: float, k2: float,
                      line_metrics: bool, kernel_parts: int | None = None):
    """Clip every feature to one fixed slab [k1, k2) — used by wrap and the
    one-shot tile path, where the window does not depend on the row.

    Trivially accepted rows (``min >= k1 and max < k2`` on the clip axis —
    the exact predicate ``kernels.clip_feature`` applies, including the
    inverted-bbox empty sentinel) pass through NATIVELY, and trivially
    rejected rows drop natively: both compare stored doubles against the
    same float literals the Python kernel would see, so the routing is
    bit-identical and only rows that genuinely need geometric clipping pay
    the Python boundary. On a wrap pass this removes ~all rows from the
    kernel (the center window trivially accepts everything away from the
    dateline; the side windows trivially reject it).
    """
    schema = features_df.schema
    minc = F.col("minx") if axis == 0 else F.col("miny")
    maxc = F.col("maxx") if axis == 0 else F.col("maxy")
    acc = (minc >= F.lit(k1)) & (maxc < F.lit(k2))
    rej = (maxc < F.lit(k1)) | (minc >= F.lit(k2))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[dict] = []
            for row in iter_rows(pdf):
                g = codec.row_to_geom(row)
                minv = row["minx"] if axis == 0 else row["miny"]
                maxv = row["maxx"] if axis == 0 else row["maxy"]
                res = K.clip_feature(g, minv, maxv, axis, k1, k2, line_metrics)
                rows.extend(_emit_clipped(row, res, line_metrics))
            yield codec.rows_to_pdf(rows, schema)

    mid_in = features_df.where(~acc & ~rej)
    if kernel_parts is not None:
        # the mid set is usually tiny (boundary crossers); a full-width
        # Python stage pays ~30-60 ms of runner handshake PER TASK even
        # warm — reshuffle the small set to a sized, balanced stage
        mid_in = mid_in.repartition(max(1, kernel_parts))
    mid = mid_in.mapInPandas(kernel, schema)
    return features_df.where(acc).unionByName(mid)


@functools.lru_cache(maxsize=None)
def _split_routing(p: float):
    """Routing columns for the 4-way split of a row's tile (z/tx/ty columns)
    with buffer margin ``p``, as ``(native, kernel, quadrant, child_keys)``:

    - ``native`` is true when every child window trivially accepts or
      rejects the row's bbox — the exact IEEE operation sequence of the
      kernel's Python floats (see split_children docstring) — and
      ``kernel`` is its negation;
    - ``quadrant`` explodes a native row into the ``q`` struct (dx, dy) of
      every child window that trivially accepts it, and ``child_keys`` are
      that child's z/tx/ty.

    Cached per ``p``: building these expressions takes about 2,100 Py4J
    commands (~80 ms on a 4-vCPU VM), paid once per process instead of at
    every split and every level's stats aggregate. Columns are
    immutable unresolved expressions, so one instance is safe to share
    between plans, and the Py4J gateway they live in outlives
    ``SparkContext.stop()``."""
    z2 = F.expr("shiftleft(1L, z)").cast("double")
    xw = [
        ((F.col("tx") - F.lit(p)) / z2, (F.col("tx") + F.lit(0.5) + F.lit(p)) / z2),
        ((F.col("tx") + F.lit(0.5) - F.lit(p)) / z2, (F.col("tx") + F.lit(1) + F.lit(p)) / z2),
    ]
    yw = [
        ((F.col("ty") - F.lit(p)) / z2, (F.col("ty") + F.lit(0.5) + F.lit(p)) / z2),
        ((F.col("ty") + F.lit(0.5) - F.lit(p)) / z2, (F.col("ty") + F.lit(1) + F.lit(p)) / z2),
    ]

    def acc(minc, maxc, w):
        return (F.col(minc) >= w[0]) & (F.col(maxc) < w[1])

    def rej(minc, maxc, w):
        return (F.col(maxc) < w[0]) | (F.col(minc) >= w[1])

    x_acc = [acc("minx", "maxx", w) for w in xw]
    x_trv = [x_acc[i] | rej("minx", "maxx", xw[i]) for i in (0, 1)]
    y_acc = [acc("miny", "maxy", w) for w in yw]
    y_trv = [y_acc[i] | rej("miny", "maxy", yw[i]) for i in (0, 1)]
    native = x_trv[0] & x_trv[1] & y_trv[0] & y_trv[1]

    quads = F.array(*[
        F.struct(
            F.lit(dx).alias("dx"), F.lit(dy).alias("dy"),
            (x_acc[dx] & y_acc[dy]).alias("keep"),
        )
        for dx in (0, 1)
        for dy in (0, 1)
    ])
    child_keys = (
        (F.col("z") + F.lit(1)).cast("int").alias("z"),
        (F.col("tx") * 2 + F.col("q.dx")).cast("long").alias("tx"),
        (F.col("ty") * 2 + F.col("q.dy")).cast("long").alias("ty"),
    )
    quadrant = F.explode(F.filter(quads, lambda s: s["keep"]))
    return native, ~native, quadrant, child_keys


def split_mid_count_col(buffer: int, extent: int):
    """Aggregation column counting the rows a subsequent
    :func:`split_children` would send through the Python kernel (not
    natively routable) — lets callers size the kernel stage from an
    aggregate they already run."""
    kernel = _split_routing(0.5 * buffer / extent)[1]
    return F.sum(F.when(kernel, 1).otherwise(0))


def split_children(assigned_df, buffer: int, extent: int, line_metrics: bool,
                   kernel_parts: int | None = None):
    """The 4-way pyramid split as one narrow mapInPandas pass.

    Input rows are features assigned to level-z tiles (columns z/tx/ty);
    output rows are the same features clipped into the four buffered child
    quadrants at level z+1 — the clip cascade of ``splitTile``
    (``geojsonvt.hpp:237-254``: x-clip into left/right halves, then y-clip
    each half), with buffer margin p = 0.5*buffer/extent scaled by 1/2^z.
    No shuffle: each feature expands into <= 4 child rows in place.

    Features whose bbox is TRIVIAL against all four child windows (each
    window trivially accepts or trivially rejects — the common case: a
    feature well inside one quadrant, or the empty-bbox sentinel) are
    routed to their children NATIVELY: the window bounds are recomputed as
    column expressions with the exact IEEE operation sequence the Python
    kernel uses ((tx - p)/2^z etc. — integer-to-double conversion,
    subtraction, division and the comparisons are all individually
    IEEE-exact and identically associated), so the routing decision is
    bit-identical to ``kernels.clip_feature``'s accept/reject branch and
    only rows that genuinely need geometric clipping cross the Python
    boundary (guide §4: fewer rows and bytes per crossing).
    """
    schema = assigned_df.schema
    p = 0.5 * buffer / extent

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[dict] = []
            for row in iter_rows(pdf):
                z = int(row["z"])
                x = int(row["tx"])
                y = int(row["ty"])
                z2 = float(1 << z)
                g = codec.row_to_geom(row)
                for dx, xk1, xk2 in (
                    (0, (x - p) / z2, (x + 0.5 + p) / z2),
                    (1, (x + 0.5 - p) / z2, (x + 1 + p) / z2),
                ):
                    res_x = K.clip_feature(
                        g, row["minx"], row["maxx"], 0, xk1, xk2, line_metrics
                    )
                    xrows = _emit_clipped(row, res_x, line_metrics)
                    for xr in xrows:
                        gx = g if res_x == "accept" else codec.row_to_geom(xr)
                        for dy, yk1, yk2 in (
                            (0, (y - p) / z2, (y + 0.5 + p) / z2),
                            (1, (y + 0.5 - p) / z2, (y + 1 + p) / z2),
                        ):
                            res_y = K.clip_feature(
                                gx, xr["miny"], xr["maxy"], 1, yk1, yk2,
                                line_metrics,
                            )
                            for yr in _emit_clipped(xr, res_y, line_metrics):
                                out = dict(yr)
                                out["z"] = z + 1
                                out["tx"] = 2 * x + dx
                                out["ty"] = 2 * y + dy
                                rows.append(out)
            yield codec.rows_to_pdf(rows, schema)

    # native trivial routing (see docstring): window bounds as column
    # expressions, same IEEE op order as the kernel's Python floats
    native, kernel_rows, quadrant, child_keys = _split_routing(p)
    feature_cols = [f.name for f in schema.fields if f.name not in ("z", "tx", "ty")]
    native_out = (
        assigned_df.where(native)
        .withColumn("q", quadrant)
        .select(*child_keys, *feature_cols)
    )
    kernel_in = assigned_df.where(kernel_rows)
    if kernel_parts is not None:
        # boundary-crossing rows are the minority AND spatially clustered:
        # a round-robin repartition of just this small set both sizes the
        # Python stage (per-task runner handshake is paid kernel_parts
        # times, not once per upstream partition) and balances the real
        # clip work (without it the mid rows ride the parent's spatial
        # skew into a straggler task). The shuffle moves only mid rows.
        kernel_in = kernel_in.repartition(max(1, kernel_parts))
    kernel_out = kernel_in.mapInPandas(kernel, schema)
    return native_out.unionByName(kernel_out)
