"""Cell-bucketed spatial join (point-in-polygon).

Plan shape (the Spark-native re-derivation of the reference's layer
spatial filter, ogrlayer.cpp:2253-2325 FilterGeometry):

  points ──cell assignment (codegen column math)──┐
                                                  ├─ equi-join on cell ──
  polygons ──cover explode (cell, poly attrs) ────┘
      → envelope prefilter  (JVM column compare — the bbox stage)
      → exact ray-cast PIP  (numpy crossing rule of
        ogrlinearring.cpp:503-531, per polygon part: outer ring minus
        holes, OR across parts)

`spatial_join_points_in_polygons` is the one entry; `spatial_join_wkb`
decodes WKB points and calls it. The cover's columns say what the
geometry is: `xs`/`ys` arrays (one ring per polygon) or a `wkb`
(multi)polygon. The entry picks one of two arms from the measured size
of that geometry:

- broadcast (whenever it fits): the geometry of each distinct polygon
  is collected ONCE on the driver and shipped as a
  sparkContext.broadcast {poly_id: parts}. The geometry-free cover is
  broadcast-joined, so the point side is never shuffled, and the exact
  stage is one Arrow UDF that receives (x, y, poly_id) — 24 B per
  candidate whatever the ring size.
- grouped (when it does not): candidates cogroup with the geometry on
  (cell, poly_id), so each polygon ships once per group instead of once
  per candidate. Skewed keys are left to AQE's skew-join handling.

The decision reads the collect the broadcast arm needs anyway: it stops
as soon as the geometry bytes pass `spark.sql.autoBroadcastJoinThreshold`
and then runs the grouped arm; a threshold of -1 always runs it.
Catalyst's `sizeInBytes` is not used: it estimates countries64_cover
at res 6 at ~200 MB, against 9.7 KB of distinct rings.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import tiles as tile_fns
from ..kernels import wkb as wkb_mod
from ..kernels.pip import point_in_polygon


def assign_cell(df: DataFrame, lon: str = "lon", lat: str = "lat",
                res: int = 6, out: str = "cell") -> DataFrame:
    return df.withColumn(out, tile_fns.cell(F.col(lon), F.col(lat), res))


@F.pandas_udf(T.StructType([
    T.StructField("lon", T.DoubleType()), T.StructField("lat", T.DoubleType())
]))
def _decode_point_udf(buf: pd.Series) -> pd.DataFrame:
    """Vectorized WKB point decode (kernels.wkb batch fast path: one
    frombuffer per Arrow batch — no per-row Python on the hot input)."""
    xs, ys = wkb_mod.decode_points_batch(list(buf))
    return pd.DataFrame({"lon": xs, "lat": ys})


# The decode IS deterministic; the flag is an optimizer fence — without
# it Catalyst clones the UDF into the join's isnotnull pre-filter and
# every row pays the Python decode twice (seen in the executed plan).
_decode_point_udf = _decode_point_udf.asNondeterministic()


def decode_point_cols(df: DataFrame, geom: str = "geom") -> DataFrame:
    """GeoParquet-shaped point table (WKB binary geometry column,
    ogrgeometry.cpp:1515 importFromWkb) -> plain (lon, lat) columns."""
    out = df.withColumn("_ll", _decode_point_udf(F.col(geom)))
    return out.withColumn("lon", F.col("_ll.lon")).withColumn(
        "lat", F.col("_ll.lat")
    ).drop("_ll")


def _parts(values) -> list[list[np.ndarray]]:
    """One polygon's geometry as parts, each a list of (n, 2) rings
    (outer first, then holes): a `wkb` (multi)polygon, or one
    (`xs`, `ys`) ring."""
    if len(values) == 1:
        return wkb_mod.decode_multipolygon(bytes(values[0]))
    xs, ys = values
    return [[np.column_stack([np.asarray(xs, dtype=np.float64),
                              np.asarray(ys, dtype=np.float64)])]]


def _polygon_mask(parts, xv: np.ndarray, yv: np.ndarray) -> np.ndarray:
    """Exact containment against one polygon's parts (OGRPolygon /
    OGRMultiPolygon semantics)."""
    hit = np.zeros(len(xv), dtype=bool)
    for rings in parts:
        hit |= point_in_polygon(xv, yv, rings)
    return hit


def _collect_geometry(cover: DataFrame, geom_cols: tuple[str, ...]):
    """{poly_id: parts} for the broadcast arm, or None when the decoded
    geometry passes spark.sql.autoBroadcastJoinThreshold (or it is -1).

    Rows stream partition by partition, so a cover too big to broadcast
    is read only up to the threshold, never collected whole."""
    conf = cover.sparkSession._jsparkSession.sessionState().conf()
    limit = conf.autoBroadcastJoinThreshold()
    if limit < 0:
        return None
    rows = (cover.select("poly_id", *geom_cols).dropDuplicates(["poly_id"])
            .toLocalIterator())
    geoms, size = {}, 0
    for r in rows:
        parts = _parts(r[1:])
        size += sum(ring.nbytes for rings in parts for ring in rings)
        if size > limit:
            return None
        geoms[int(r[0])] = parts
    return geoms


def _pip_dict_udf(geoms_bc):
    """Exact stage of the broadcast arm: the UDF receives only
    (x, y, poly_id) and resolves geometry from the executor-local
    broadcast, one vectorized mask per polygon in the Arrow batch."""

    @F.pandas_udf(T.BooleanType())
    def pip(x: pd.Series, y: pd.Series, poly_id: pd.Series) -> pd.Series:
        geoms = geoms_bc.value
        out = np.zeros(len(x), dtype=bool)
        if len(x) == 0:
            return pd.Series(out)
        xv = x.to_numpy(dtype=np.float64)
        yv = y.to_numpy(dtype=np.float64)
        pid = poly_id.to_numpy()
        for p in pd.unique(pid):
            idx = np.nonzero(pid == p)[0]
            out[idx] = _polygon_mask(geoms[int(p)], xv[idx], yv[idx])
        return pd.Series(out)

    return pip


def _envelope(lon: str, lat: str) -> Column:
    return ((F.col(lon) >= F.col("minx")) & (F.col(lon) <= F.col("maxx"))
            & (F.col(lat) >= F.col("miny")) & (F.col(lat) <= F.col("maxy")))


def _grouped_pip(pts: DataFrame, cover: DataFrame, *, lon: str, lat: str,
                 keep: list[str], keep_poly: list[str],
                 geom_cols: tuple[str, ...]) -> DataFrame:
    """Grouped arm: cell equi-join against the geometry-free cover ->
    JVM envelope short-circuit -> cogroup candidates with the geometry
    table on (cell, poly_id) -> one vectorized mask per group.

    Candidates shuffle at 24 B + keep-cols each; each polygon's geometry
    ships once per (cell, poly_id) group. Skewed keys are left to AQE."""
    env_cols = ["cell", "poly_id", "minx", "miny", "maxx", "maxy"]
    cov_lite = cover.select(*dict.fromkeys(
        env_cols + [c for c in keep_poly if c not in geom_cols]))
    carry = list(dict.fromkeys(
        keep + [lon, lat] + [c for c in keep_poly if c != "poly_id"]))
    cand = (
        pts.join(cov_lite, "cell").filter(_envelope(lon, lat))
        .select(*carry, "cell", "poly_id")
    )
    # fresh names on the geometry side: cand's poly_id descends from
    # the same cover plan, and cogroup rejects the ambiguous attribute
    geoms = cover.select(
        F.col("cell").alias("r_cell"), F.col("poly_id").alias("r_poly_id"),
        *geom_cols,
    )
    out_cols = list(dict.fromkeys(keep + keep_poly))
    cand_schema = {f.name: f for f in cand.schema.fields}
    missing = [c for c in out_cols if c not in cand_schema]
    if missing:
        raise KeyError(
            f"grouped PIP output columns {missing} not present on the "
            f"candidate side (available: {sorted(cand_schema)})")
    out_schema = T.StructType([cand_schema[c] for c in out_cols])

    def exact(key, cand_pdf: pd.DataFrame, geom_pdf: pd.DataFrame) -> pd.DataFrame:
        if cand_pdf.empty or geom_pdf.empty:
            return cand_pdf.iloc[0:0].reindex(columns=out_cols)
        mask = _polygon_mask(
            _parts(tuple(geom_pdf[c].iloc[0] for c in geom_cols)),
            cand_pdf[lon].to_numpy(dtype=np.float64),
            cand_pdf[lat].to_numpy(dtype=np.float64),
        )
        return cand_pdf.loc[mask, out_cols]

    return (
        cand.groupBy("cell", "poly_id")
        .cogroup(geoms.groupBy("r_cell", "r_poly_id"))
        .applyInPandas(exact, out_schema)
    )


def spatial_join_points_in_polygons(
    points: DataFrame,
    cover: DataFrame,
    *,
    res: int = 6,
    lon: str = "lon",
    lat: str = "lat",
    keep_point_cols: list[str] | None = None,
    keep_poly_cols: list[str] | None = None,
) -> DataFrame:
    """points ⋈ polygons with PIP predicate.

    cover: (cell bigint, poly_id bigint, minx..maxy) plus the geometry,
    either `xs`/`ys` ring arrays or a `wkb` (multi)polygon — from
    sources.polygons.countries64_cover / countries64_mp_cover or any
    polygon layer exploded to covering cells at the same `res`.
    Returns the point columns + poly_id (or `keep_poly_cols`) for every
    (point, polygon) pair whose point lies inside the polygon."""
    geom_cols = ("wkb",) if "wkb" in cover.columns else ("xs", "ys")
    keep = keep_point_cols or list(points.columns)
    keep_poly = keep_poly_cols or ["poly_id"]
    pts = assign_cell(points, lon, lat, res)
    geoms = _collect_geometry(cover, geom_cols)
    if geoms is None:
        return _grouped_pip(pts, cover, lon=lon, lat=lat, keep=keep,
                            keep_poly=keep_poly, geom_cols=geom_cols)
    pip = _pip_dict_udf(cover.sparkSession.sparkContext.broadcast(geoms))
    return (
        pts.join(F.broadcast(cover.drop(*geom_cols)), "cell")
        .filter(_envelope(lon, lat))
        .filter(pip(F.col(lon), F.col(lat), F.col("poly_id")))
        .select(*keep, *keep_poly)
    )


def spatial_join_wkb(
    points: DataFrame,
    cover: DataFrame,
    *,
    res: int = 6,
    geom: str = "geom",
    keep_point_cols: list[str] | None = None,
) -> DataFrame:
    """Point-in-polygon join where the points carry WKB geometry
    (GeoParquet convention: a binary `geom` point column): decode them
    batch-vectorized, then join through spatial_join_points_in_polygons.
    With a `wkb` multipolygon cover this supports holes and multi-part
    polygons (ogr/ogr_core.h:405-443 wkbMultiPolygon)."""
    keep = keep_point_cols or [c for c in points.columns if c != geom]
    return spatial_join_points_in_polygons(
        decode_point_cols(points, geom), cover, res=res, keep_point_cols=keep)


def _convex_clip(sub_x, sub_y, clip_x, clip_y):
    """Sutherland-Hodgman: clip subject polygon by a CONVEX clip
    polygon (the convex case of OGRLayer::Intersection's pairwise
    GEOS Intersection, ogrlayer.cpp:3345). Returns (xs, ys) closed
    ring or empty arrays."""
    import numpy as np

    pts = list(zip(sub_x, sub_y))
    if pts and pts[0] == pts[-1]:
        pts = pts[:-1]
    cp = list(zip(clip_x, clip_y))
    if cp and cp[0] == cp[-1]:
        cp = cp[:-1]
    # ensure CCW clip orientation for a consistent inside test
    area2 = sum(cp[i][0] * cp[(i + 1) % len(cp)][1] - cp[(i + 1) % len(cp)][0] * cp[i][1]
                for i in range(len(cp)))
    if area2 < 0:
        cp = cp[::-1]
    for i in range(len(cp)):
        a, b = cp[i], cp[(i + 1) % len(cp)]
        if not pts:
            break
        out = []
        ex, ey = b[0] - a[0], b[1] - a[1]

        def inside(p):
            return ex * (p[1] - a[1]) - ey * (p[0] - a[0]) >= 0.0

        def ix(p, q):
            dx, dy = q[0] - p[0], q[1] - p[1]
            denom = ex * dy - ey * dx
            t = (ex * (a[1] - p[1]) - ey * (a[0] - p[0])) / denom
            return (p[0] + t * dx, p[1] + t * dy)

        for j in range(len(pts)):
            cur, prev = pts[j], pts[j - 1]
            ci, pi = inside(cur), inside(prev)
            if ci:
                if not pi:
                    out.append(ix(prev, cur))
                out.append(cur)
            elif pi:
                out.append(ix(prev, cur))
        pts = out
    if len(pts) < 3:
        return np.array([]), np.array([])
    pts.append(pts[0])
    arr = np.array(pts, dtype=np.float64)
    return arr[:, 0], arr[:, 1]


def polygon_intersection(
    layer_a: DataFrame,
    layer_b: DataFrame,
    *,
    res: int = 5,
    id_a: str = "poly_id",
    id_b: str = "poly_id",
) -> DataFrame:
    """Layer-algebra Intersection for CONVEX polygon layers
    (ogrlayer.cpp:3345): candidate pairs via covering-cell equi-join
    (the spatial-filter pushdown skeleton, ogrlayer.cpp:3290-3322),
    then envelope reject, then exact Sutherland-Hodgman clip per pair
    in an Arrow-batched UDF. Emits one row per non-empty intersection:
    (id_a, id_b, xs, ys, area).

    Both layers carry (id, xs, ys, minx..maxy, cell) — produce with
    sources.polygons.countries64_cover-style explode. Non-convex
    inputs need a decomposition stage first (documented limitation;
    the reference delegates to GEOS)."""
    import pandas as pd
    from pyspark.sql import types as T

    a = layer_a.select(
        F.col(id_a).alias("id_a"), F.col("cell"),
        F.col("xs").alias("xs_a"), F.col("ys").alias("ys_a"),
        F.col("minx").alias("aminx"), F.col("miny").alias("aminy"),
        F.col("maxx").alias("amaxx"), F.col("maxy").alias("amaxy"),
    )
    b = layer_b.select(
        F.col(id_b).alias("id_b"), F.col("cell"),
        F.col("xs").alias("xs_b"), F.col("ys").alias("ys_b"),
        F.col("minx").alias("bminx"), F.col("miny").alias("bminy"),
        F.col("maxx").alias("bmaxx"), F.col("maxy").alias("bmaxy"),
    )
    cand = (
        a.join(b, "cell")
        .drop("cell")
        .dropDuplicates(["id_a", "id_b"])
        # envelope stage — JVM short-circuit (FilterGeometry bbox)
        .filter(
            (F.col("aminx") <= F.col("bmaxx")) & (F.col("amaxx") >= F.col("bminx"))
            & (F.col("aminy") <= F.col("bmaxy")) & (F.col("amaxy") >= F.col("bminy"))
        )
    )

    schema = T.StructType([
        T.StructField("xs", T.ArrayType(T.DoubleType())),
        T.StructField("ys", T.ArrayType(T.DoubleType())),
        T.StructField("area", T.DoubleType()),
    ])

    @F.pandas_udf(schema)
    def _clip(xa: pd.Series, ya: pd.Series, xb: pd.Series, yb: pd.Series) -> pd.DataFrame:
        import numpy as np

        oxs, oys, areas = [], [], []
        for sx, sy, cx, cy in zip(xa, ya, xb, yb):
            rx, ry = _convex_clip(list(sx), list(sy), list(cx), list(cy))
            oxs.append(list(rx))
            oys.append(list(ry))
            if len(rx) >= 4:
                areas.append(0.5 * abs(float(np.sum(
                    rx[:-1] * ry[1:] - rx[1:] * ry[:-1]
                ))))
            else:
                areas.append(0.0)
        return pd.DataFrame({"xs": oxs, "ys": oys, "area": areas})

    out = cand.withColumn("_g", _clip("xs_a", "ys_a", "xs_b", "ys_b"))
    return (
        out.filter(F.col("_g.area") > 0.0)
        .select(
            "id_a", "id_b",
            F.col("_g.xs").alias("xs"), F.col("_g.ys").alias("ys"),
            F.col("_g.area").alias("area"),
        )
    )


def boolean_areas_general(
    layer_a: DataFrame,
    layer_b: DataFrame,
    *,
    res: int = 5,
    id_a: str = "poly_id",
    id_b: str = "poly_id",
) -> DataFrame:
    """Layer-algebra boolean AREAS for arbitrary SIMPLE polygons
    (non-convex included): Intersection / Union / SymDifference per
    intersecting pair (ogrlayer.cpp:3345/:3763/:4300 area semantics).

    Decomposition plan: ear-clip each polygon into triangles
    (kernels.triangulate, per-feature pandas UDF), explode triangle
    rows with covering cells, cell-join triangle pairs, SH-clip each
    convex pair, then aggregate clip areas per (id_a, id_b):
      aI = sum of triangle-pair intersection areas,
      aU = aA + aB - aI,  aSD = aA + aB - 2 aI.
    The triangle explode is the scale lever: work is proportional to
    actually-overlapping triangle pairs, found by the cell join.
    """
    import pandas as pd
    from pyspark.sql import types as T

    from ..kernels import cells as cell_mod
    from ..kernels.triangulate import ear_clip, triangle_area

    tri_schema = (
        "pid bigint, tri_id bigint, txs array<double>, tys array<double>, "
        "minx double, miny double, maxx double, maxy double, "
        "cell bigint, parea double"
    )

    def triangulate_pdf(pdf: pd.DataFrame, idc: str) -> pd.DataFrame:
        import numpy as np

        rows = []
        # zip over the raw column arrays, not iterrows(): Series-row
        # construction is per-row Python overhead on a potentially
        # large polygon layer (VERDICT r2 item 5)
        for pid, rxs, rys in zip(pdf[idc].to_numpy(), pdf["xs"], pdf["ys"]):
            tris = ear_clip(rxs, rys)
            parea = float(sum(triangle_area(t) for t in tris))
            # unique per (polygon, triangle): 32-bit shift leaves room
            # for 4G triangles per polygon and 2^31 polygon ids
            assert len(tris) < (1 << 32)
            pid = int(pid)
            for ti, t in enumerate(tris):
                txs = [t[0][0], t[1][0], t[2][0], t[0][0]]
                tys = [t[0][1], t[1][1], t[2][1], t[0][1]]
                ring = np.column_stack([txs, tys])
                for c in cell_mod.polygon_cover(ring, res):
                    rows.append({
                        "pid": pid, "tri_id": (pid << 32) + ti,
                        "txs": txs, "tys": tys,
                        "minx": min(txs), "miny": min(tys),
                        "maxx": max(txs), "maxy": max(tys),
                        "cell": int(c), "parea": parea,
                    })
        return pd.DataFrame(rows, columns=[
            "pid", "tri_id", "txs", "tys", "minx", "miny", "maxx", "maxy",
            "cell", "parea",
        ])

    def tri_layer(layer: DataFrame, idc: str) -> DataFrame:
        src = layer.select(idc, "xs", "ys").dropDuplicates([idc])
        return src.groupBy(idc).applyInPandas(
            lambda pdf: triangulate_pdf(pdf, idc), tri_schema
        )

    ta = tri_layer(layer_a, id_a).select(
        F.col("pid").alias("id_a"), F.col("tri_id").alias("tri_a"), F.col("cell"),
        F.col("txs").alias("xs_a"), F.col("tys").alias("ys_a"),
        F.col("minx").alias("aminx"), F.col("miny").alias("aminy"),
        F.col("maxx").alias("amaxx"), F.col("maxy").alias("amaxy"),
        F.col("parea").alias("area_a"),
    )
    tb = tri_layer(layer_b, id_b).select(
        F.col("pid").alias("id_b"), F.col("tri_id").alias("tri_b"), F.col("cell"),
        F.col("txs").alias("xs_b"), F.col("tys").alias("ys_b"),
        F.col("minx").alias("bminx"), F.col("miny").alias("bminy"),
        F.col("maxx").alias("bmaxx"), F.col("maxy").alias("bmaxy"),
        F.col("parea").alias("area_b"),
    )
    cand = (
        ta.join(tb, "cell")
        .drop("cell")
        .dropDuplicates(["tri_a", "tri_b"])  # int keys, not float arrays
        .filter(
            (F.col("aminx") <= F.col("bmaxx")) & (F.col("amaxx") >= F.col("bminx"))
            & (F.col("aminy") <= F.col("bmaxy")) & (F.col("amaxy") >= F.col("bminy"))
        )
    )

    @F.pandas_udf(T.DoubleType())
    def _clip_area(xa: pd.Series, ya: pd.Series, xb: pd.Series, yb: pd.Series) -> pd.Series:
        import numpy as np

        out = []
        for sx, sy, cx, cy in zip(xa, ya, xb, yb):
            rx, ry = _convex_clip(list(sx), list(sy), list(cx), list(cy))
            if len(rx) >= 4:
                out.append(0.5 * abs(float(np.sum(rx[:-1] * ry[1:] - rx[1:] * ry[:-1]))))
            else:
                out.append(0.0)
        return pd.Series(out)

    pairs = cand.withColumn("_ia", _clip_area("xs_a", "ys_a", "xs_b", "ys_b"))
    agg = pairs.groupBy("id_a", "id_b").agg(
        F.sum("_ia").alias("area_i"),
        F.first("area_a").alias("aa"),
        F.first("area_b").alias("ab"),
    )
    return (
        agg.filter(F.col("area_i") > 0.0)
        .select(
            "id_a", "id_b", "area_i",
            (F.col("aa") + F.col("ab") - F.col("area_i")).alias("area_u"),
            (F.col("aa") + F.col("ab") - 2 * F.col("area_i")).alias("area_sd"),
        )
    )
