"""Arc linearization + streaming pipeline tests."""
from __future__ import annotations

import math
import time

import numpy as np
import pytest
from pyspark.sql import functions as F

from gdal_spark.functions import arcs


def test_circumcircle_known():
    cx, cy, r = arcs.circumcircle((1, 0), (0, 1), (-1, 0))
    assert (cx, cy) == pytest.approx((0.0, 0.0), abs=1e-12)
    assert r == pytest.approx(1.0, abs=1e-12)
    with pytest.raises(ValueError):
        arcs.circumcircle((0, 0), (1, 1), (2, 2))


def test_arc_angles_pass_through_middle():
    c = (0.0, 0.0, 1.0)
    a0, a1 = arcs.arc_angles(c[:2], (1, 0), (0, 1), (-1, 0))
    assert a0 == pytest.approx(0.0)
    assert a1 == pytest.approx(math.pi)          # CCW upper half
    a0, a1 = arcs.arc_angles(c[:2], (1, 0), (0, -1), (-1, 0))
    assert a1 == pytest.approx(-math.pi)         # CW lower half


def test_linearize_arc_cols(spark):
    df = spark.createDataFrame(
        [(1, 0.0, 0.0, 2.0, 0.0, math.pi)],
        "gid bigint, cx double, cy double, r double, a0 double, a1 double",
    )
    out = arcs.linearize_arc_cols(df, step_deg=4.0).collect()[0]
    xs, ys = np.array(out["xs"]), np.array(out["ys"])
    # half circle at 4 deg steps: ceil(180/4)=45 segments -> 46 vertices
    assert len(xs) == 46
    # all vertices on the circle
    np.testing.assert_allclose(np.hypot(xs, ys), 2.0, atol=1e-12)
    # endpoints exact
    assert (xs[0], ys[0]) == (2.0, 0.0)
    assert xs[-1] == pytest.approx(-2.0, abs=1e-12)
    # max chord deviation within the step bound: r*(1-cos(step/2))
    step = math.radians(4.0)
    assert 2.0 * (1 - math.cos(step / 2)) < 0.002


def test_contour_multi_levels(spark):
    from gdal_spark.operators import contour

    w = 8
    band = spark.range(w * w).select(
        (F.col("id") % w).alias("gx"),
        (F.col("id") / w).cast("bigint").alias("gy"),
        (F.col("id") % w).alias("value"),
    )
    segs = contour.contour_multi(band, levels=[2, 5], width=w).toPandas()
    assert set(segs["level"]) == {2, 5}
    assert (segs[segs.level == 2]["x1"] == 2.0).all()
    assert (segs[segs.level == 5]["x1"] == 5.0).all()


def test_streaming_tile_assign(spark):
    from gdal_spark import streaming

    stream = streaming.docs_rate_stream(spark, rows_per_second=500)
    tiled = streaming.stream_tile_assign(stream, zoom=6)
    q = streaming.run_to_memory(
        tiled.select("doc_id", "doc_index", "tx", "ty_xyz", "quadkey"),
        name="tiles_stream",
    )
    try:
        deadline = time.time() + 30
        n = 0
        while time.time() < deadline:
            q.processAllAvailable()
            n = spark.sql("SELECT count(*) c FROM tiles_stream").collect()[0]["c"]
            if n >= 100:
                break
            time.sleep(1)
        assert n >= 100
        # streamed assignments equal the batch operator's for same ids
        got = spark.sql(
            "SELECT doc_index, tx, ty_xyz, quadkey FROM tiles_stream ORDER BY doc_index LIMIT 50"
        ).collect()
        from gdal_spark.operators import tiling
        from gdal_spark.sources import docs as D

        batch = {
            r["doc_index"]: (r["tx"], r["ty_xyz"], r["quadkey"])
            for r in tiling.assign_tiles(
                D.synth_docs(spark, 200), zoom=6
            ).collect()
        }
        for r in got:
            assert batch[r["doc_index"]] == (r["tx"], r["ty_xyz"], r["quadkey"])
    finally:
        q.stop()


def test_streaming_stateful_dedup(spark):
    """applyInPandasWithState custom stateful operator: first-wins
    dedup by key with running duplicate counts."""
    from gdal_spark import streaming

    stream = streaming.docs_rate_stream(spark, rows_per_second=500)
    keyed = stream.select(
        (F.col("doc_index") % 20).cast("string").alias("key"),
        "doc_index", "ts",
    )
    out = streaming.stream_dedup_stateful(keyed)
    q = streaming.run_to_memory(out, name="dedup_stream", mode="append")
    try:
        # poll — processAllAvailable() can chase a live rate source
        # forever when stateful micro-batches are slower than ingest
        deadline = time.time() + 90
        rows = []
        while time.time() < deadline:
            time.sleep(3)
            assert q.isActive, f"stream died: {q.exception()}"
            rows = spark.sql("SELECT * FROM dedup_stream").collect()
            keys = {r["key"] for r in rows}
            if len(keys) >= 20 and len(rows) >= 40:
                break
        assert len(rows) >= 20
        by_key = {}
        for r in rows:
            by_key.setdefault(r["key"], []).append(r)
        for key, rs in by_key.items():
            # exactly one first-arrival row per key
            assert sum(1 for r in rs if r["is_new"]) == 1
            # the first_doc_index is stable across batches
            assert len({r["first_doc_index"] for r in rs}) == 1
            # the running duplicate count is strictly increasing
            seen = [r["n_seen_total"] for r in rs]
            assert sorted(seen) == seen or sorted(set(seen)) == sorted(seen)
            # key derivation holds
            assert int(key) == rs[0]["first_doc_index"] % 20
    finally:
        q.stop()


def test_curvepolygon_ring_assembly(spark):
    """CurvePolygon exterior ring = a CLOSED compound curve (line +
    arc + line back to the start): assembly yields a closed ring whose
    area matches the analytic value."""
    from gdal_spark.functions import arcs as AR
    from pyspark.sql import functions as F

    # unit half-circle arc from (1,0) through (0,1) to (-1,0), then a
    # line closing along the x axis back to (1,0)
    part_a = F.struct(
        F.lit("A").alias("kind"),
        F.array().cast("array<double>").alias("xs"),
        F.array().cast("array<double>").alias("ys"),
        F.lit(0.0).alias("cx"), F.lit(0.0).alias("cy"), F.lit(1.0).alias("r"),
        F.lit(0.0).alias("a0"), F.lit(math.pi).alias("a1"),
    )
    part_l = F.struct(
        F.lit("L").alias("kind"),
        F.array(F.lit(-1.0), F.lit(1.0)).alias("xs"),
        F.array(F.lit(0.0), F.lit(0.0)).alias("ys"),
        F.lit(0.0).alias("cx"), F.lit(0.0).alias("cy"), F.lit(0.0).alias("r"),
        F.lit(0.0).alias("a0"), F.lit(0.0).alias("a1"),
    )
    d = spark.range(1).select(F.array(part_a, part_l).alias("parts"))
    row = AR.assemble_compound_cols(d).collect()[0]
    xs, ys = np.array(row["xs"]), np.array(row["ys"])
    # closed ring: ends where it starts
    assert (xs[0], ys[0]) == (1.0, 0.0)
    assert (xs[-1], ys[-1]) == (1.0, 0.0)
    # shoelace area ~ half-disc (4-degree linearization error bound)
    area = 0.5 * abs(float(np.sum(xs[:-1] * ys[1:] - xs[1:] * ys[:-1])))
    assert abs(area - math.pi / 2) < 2e-3


def test_curvepolygon_with_hole(spark):
    """Full CurvePolygon (exterior + interior hole ring, both closed
    full-circle arcs): polygon_area = pi*(R^2 - r^2) to linearization
    error; each ring closes on itself."""
    from gdal_spark.functions import arcs as AR
    from pyspark.sql import functions as F

    def circle(r):
        return F.array(F.struct(
            F.lit("A").alias("kind"),
            F.array().cast("array<double>").alias("xs"),
            F.array().cast("array<double>").alias("ys"),
            F.lit(0.0).alias("cx"), F.lit(0.0).alias("cy"),
            F.lit(float(r)).alias("r"),
            F.lit(0.0).alias("a0"), F.lit(2.0 * math.pi).alias("a1"),
        ))

    d = spark.range(1).select(
        F.col("id"), F.array(circle(2.0), circle(1.0)).alias("rings")
    )
    rows = AR.assemble_curvepolygon(d).orderBy("ring_idx").collect()
    assert [r["ring_idx"] for r in rows] == [0, 1]
    for r in rows:
        # sin(2*pi) != 0 in doubles: closure to libm ulp, not bit-equal
        assert abs(r["xs"][0] - r["xs"][-1]) < 1e-12
        assert abs(r["ys"][0] - r["ys"][-1]) < 1e-12
    assert abs(rows[0]["ring_area"] - math.pi * 4.0) < 2e-2
    assert abs(rows[1]["ring_area"] - math.pi) < 1e-2
    assert abs(rows[0]["polygon_area"] - math.pi * 3.0) < 3e-2
    assert rows[0]["polygon_area"] == rows[1]["polygon_area"]


def test_streaming_spatial_join_matches_batch(spark):
    from gdal_spark import streaming
    from gdal_spark.operators.spatial_join import spatial_join_points_in_polygons
    from gdal_spark.sources import docs as D
    from gdal_spark.sources import polygons

    cover = polygons.countries64_cover(spark, res=5)
    stream = streaming.docs_rate_stream(spark, rows_per_second=500)
    joined = streaming.stream_spatial_join(
        stream, cover, res=5, keep_point_cols=["doc_id", "doc_index"])
    q = streaming.run_to_memory(
        joined.select("doc_index", "poly_id"), name="sj_stream")
    try:
        deadline = time.time() + 45
        n = 0
        while time.time() < deadline:
            q.processAllAvailable()
            n = spark.sql("SELECT count(*) c FROM sj_stream").collect()[0]["c"]
            if n >= 50:
                break
            time.sleep(1)
        assert n >= 50
        got = {
            (r["doc_index"], r["poly_id"])
            for r in spark.sql(
                "SELECT doc_index, poly_id FROM sj_stream WHERE doc_index < 300"
            ).collect()
        }
        batch = {
            (r["doc_index"], r["poly_id"])
            for r in spatial_join_points_in_polygons(
                D.synth_docs(spark, 300), cover, res=5,
                keep_point_cols=["doc_id", "doc_index"],
            ).select("doc_index", "poly_id").collect()
        }
        # every streamed pair is exactly a batch pair (same ids)
        assert got <= batch
        seen_ids = {i for i, _ in got}
        # and for the doc ids fully processed, the pair sets agree
        assert {(i, p) for i, p in batch if i in seen_ids} == got
    finally:
        q.stop()


def test_streaming_spatial_join_grouped_arm_matches_batch(spark):
    """With the broadcast threshold at -1 a stream takes the grouped
    arm (a stream-static cogroup); its pairs are still batch pairs."""
    from gdal_spark import streaming
    from gdal_spark.operators.spatial_join import spatial_join_points_in_polygons
    from gdal_spark.session import conf_override
    from gdal_spark.sources import docs as D
    from gdal_spark.sources import polygons

    cover = polygons.countries64_cover(spark, res=5)
    with conf_override(spark, "spark.sql.autoBroadcastJoinThreshold", "-1"):
        joined = streaming.stream_spatial_join(
            streaming.docs_rate_stream(spark, rows_per_second=500), cover,
            res=5, keep_point_cols=["doc_index"])
        q = streaming.run_to_memory(
            joined.select("doc_index", "poly_id"), name="sj_stream_grouped")
        try:
            deadline = time.time() + 45
            n = 0
            while time.time() < deadline and n < 20 and q.exception() is None:
                time.sleep(1)
                n = spark.sql(
                    "SELECT count(*) c FROM sj_stream_grouped").collect()[0]["c"]
            assert q.exception() is None
            assert n >= 20
            plan = q._jsq.streamingQuery().lastExecution().executedPlan()
            assert "FlatMapCoGroupsInPandas" in plan.toString()
            got = {(r["doc_index"], r["poly_id"]) for r in spark.sql(
                "SELECT doc_index, poly_id FROM sj_stream_grouped WHERE doc_index < 300"
            ).collect()}
        finally:
            q.stop()
    batch = {(r["doc_index"], r["poly_id"]) for r in spatial_join_points_in_polygons(
        D.synth_docs(spark, 300), cover, res=5, keep_point_cols=["doc_index"],
    ).collect()}
    assert got <= batch
