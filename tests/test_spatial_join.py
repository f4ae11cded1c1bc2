"""Spatial join vs the single-node nested-loop reference.

The oracle is the reference's own plan (layer-algebra nested loop with
FilterGeometry staging, ogrlayer.cpp:2253-2325 + isPointInRing
ogrlinearring.cpp:503-531) run in numpy; the engine's cell-bucketed
join must produce the identical sorted (doc_index, poly_id) set through
both arms: broadcast (the default for every fixture cover) and grouped
(forced with spark.sql.autoBroadcastJoinThreshold at -1).
"""
from __future__ import annotations

import contextlib
import re

import numpy as np
import pandas as pd
import pytest

from gdal_spark.kernels.pip import point_in_ring
from gdal_spark.operators.spatial_join import spatial_join_points_in_polygons
from gdal_spark.session import conf_override
from gdal_spark.sources import derive, docs, polygons

N_DOCS = 3000
THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"


def _oracle_pairs(lon, lat, skew=False):
    pdf = polygons.countries64_pdf(skew_poly0=skew)
    pairs = []
    for _, r in pdf.iterrows():
        ring = np.column_stack([np.asarray(r["xs"]), np.asarray(r["ys"])])
        hit = point_in_ring(lon, lat, ring)
        for d in np.flatnonzero(hit):
            pairs.append((int(d), int(r["poly_id"])))
    return sorted(pairs)


def _uniform_lonlat(n):
    i = np.arange(n)
    return derive.lon_np(i), derive.lat_np(i)


def _hotspot_lonlat(n):
    """The uniform docs plus as many again packed into one res-6 cell
    inside the skewed polygon 0: one (cell, poly_id) key then holds
    most of the candidates."""
    lon, lat = _uniform_lonlat(n)
    prm = derive.polygon_params_np([0])
    j = np.arange(n) / n
    return (np.concatenate([lon, float(prm["cx"][0]) + 0.01 * j]),
            np.concatenate([lat, float(prm["cy"][0]) + 0.01 * j[::-1]]))


@pytest.fixture(scope="module")
def oracle_plain():
    return _oracle_pairs(*_uniform_lonlat(N_DOCS))


@pytest.fixture(scope="module")
def oracle_skew():
    return _oracle_pairs(*_uniform_lonlat(N_DOCS), skew=True)


def _arm(spark, grouped):
    """Default settings, or the grouped arm forced by a -1 threshold."""
    return conf_override(spark, THRESHOLD, "-1") if grouped else contextlib.nullcontext()


def _join(spark, skew=False, grouped=False, lonlat=None):
    if lonlat is None:
        pts = docs.synth_docs(spark, N_DOCS).select("doc_index", "lon", "lat")
    else:
        lon, lat = lonlat
        pts = spark.createDataFrame(pd.DataFrame(
            {"doc_index": np.arange(len(lon)), "lon": lon, "lat": lat}))
    cov = polygons.countries64_cover(spark, res=6, skew_poly0=skew)
    with _arm(spark, grouped):
        return spatial_join_points_in_polygons(
            pts, cov, res=6, keep_point_cols=["doc_index"])


def _pairs(df):
    return sorted((int(r["doc_index"]), int(r["poly_id"])) for r in df.collect())


def _plan(df) -> str:
    """Physical plan before execution (after it, AQE prints the initial
    and the final plan both)."""
    return df._jdf.queryExecution().executedPlan().toString()


def test_broadcast_matches_oracle(spark, oracle_plain):
    assert _pairs(_join(spark)) == oracle_plain


def test_grouped_matches_oracle(spark, oracle_plain):
    assert _pairs(_join(spark, grouped=True)) == oracle_plain


def test_skewed_polygons_match_oracle(spark, oracle_skew):
    assert _pairs(_join(spark, skew=True)) == oracle_skew


def test_default_plan_is_one_broadcast_join_and_one_arrow_udf(spark):
    plan = _plan(_join(spark))
    # the cover's own poly_id join is also broadcast; count the cell join
    assert len(re.findall(r"BroadcastHashJoin \[cell", plan)) == 1
    assert plan.count("ArrowEvalPython") == 1
    assert "FlatMapCoGroupsInPandas" not in plan


def test_threshold_minus_one_plan_is_grouped(spark):
    plan = _plan(_join(spark, grouped=True))
    assert "FlatMapCoGroupsInPandas" in plan
    assert "ArrowEvalPython" not in plan


def test_grouped_hotspot_matches_oracle(spark):
    """Half the points in one cell of the skewed polygon 0: one
    (cell, poly_id) cogroup holds most of the candidates, and the
    result still equals the oracle."""
    lonlat = _hotspot_lonlat(N_DOCS)
    out = _join(spark, skew=True, grouped=True, lonlat=lonlat)
    assert _pairs(out) == _oracle_pairs(*lonlat, skew=True)


@pytest.mark.parametrize("cover", ["plain", "skew", "dense4096", "wkb"])
def test_fixture_covers_take_broadcast_arm_by_default(spark, cover):
    pts = docs.synth_docs(spark, 100).select("doc_index", "lon", "lat")
    cov = {
        "plain": lambda: polygons.countries64_cover(spark, res=6),
        "skew": lambda: polygons.countries64_cover(spark, res=6, skew_poly0=True),
        "dense4096": lambda: polygons.countries64_dense_cover(spark, res=6, nv=4096),
        "wkb": lambda: polygons.countries64_mp_cover(spark, res=6),
    }[cover]()
    plan = _plan(spatial_join_points_in_polygons(pts, cov, res=6))
    assert "ArrowEvalPython" in plan and "FlatMapCoGroupsInPandas" not in plan


def test_geometry_over_threshold_takes_grouped_arm(spark):
    """The threshold bounds the driver-side collect: the 64 rings
    (608 vertices, 9.7 KB) do not fit under 4 KB."""
    with conf_override(spark, THRESHOLD, "4KB"):
        out = spatial_join_points_in_polygons(
            docs.synth_docs(spark, 100).select("doc_index", "lon", "lat"),
            polygons.countries64_cover(spark, res=6), res=6)
    assert "FlatMapCoGroupsInPandas" in _plan(out)


def test_every_point_in_at_most_one_plain_polygon(spark, oracle_plain):
    from collections import Counter

    c = Counter(d for d, _ in oracle_plain)
    assert max(c.values()) == 1
    assert len(oracle_plain) > 100  # non-trivial fixture


def test_span_sequence_preserved_through_join(spark):
    """The ogr_gensql native-data invariant: span sequences survive the
    join byte-for-byte (reference ogr_gensql.cpp:1536-1538)."""
    d = docs.synth_docs(spark, 500)
    cov = polygons.countries64_cover(spark, res=6)
    joined = spatial_join_points_in_polygons(
        d, cov, res=6, keep_point_cols=["doc_id", "doc_index", "spans", "lon", "lat"]
    )
    before = {r["doc_id"]: r["span_fp"] for r in docs.span_fingerprint(d).collect()}
    after = {r["doc_id"]: r["span_fp"] for r in docs.span_fingerprint(joined).collect()}
    assert after  # join is non-empty
    for k, v in after.items():
        assert before[k] == v


def test_wkb_grouped_matches_broadcast(spark):
    """The WKB entry through both arms on the multipolygon-with-holes
    fixture: geometry kind comes from the cover's `wkb` column."""
    import pyspark.sql.functions as F

    from gdal_spark.kernels import wkb as wkb_mod
    from gdal_spark.operators.spatial_join import spatial_join_wkb

    pts = docs.synth_docs(spark, 4000).select("doc_index", "lon", "lat")

    @F.pandas_udf("binary")
    def _enc(lon: pd.Series, lat: pd.Series) -> pd.Series:
        return pd.Series(wkb_mod.encode_points(
            lon.to_numpy(dtype=np.float64), lat.to_numpy(dtype=np.float64)))

    wkb_pts = pts.select("doc_index", _enc("lon", "lat").alias("geom"))
    cov = polygons.countries64_mp_cover(spark, res=6)
    got = {}
    for grouped in (False, True):
        with _arm(spark, grouped):
            out = spatial_join_wkb(wkb_pts, cov, res=6, keep_point_cols=["doc_index"])
        got[grouped] = _pairs(out)
    assert got[True] == got[False]
    assert len(got[False]) > 100


def test_broadcast_and_grouped_arms_agree(spark):
    got = {}
    pts = docs.synth_docs(spark, 20000).select("doc_id", "doc_index", "lon", "lat")
    cov = polygons.countries64_cover(spark, res=5)
    for grouped in (False, True):
        with _arm(spark, grouped):
            out = spatial_join_points_in_polygons(
                pts, cov, res=5, keep_point_cols=["doc_index"])
        got[grouped] = set(map(tuple, out.select("doc_index", "poly_id").collect()))
    assert got[True] == got[False]
    assert len(got[False]) > 0
