"""kNN via iterative cell-ring expansion — the grow-the-search-radius
loop of the reference's quadtree neighbor search
(/root/reference/alg/gdalgrid.cpp:896-909) re-derived as Spark joins.

Metric: squared euclidean in WebMercator meters (the cell grid is an
exact square grid in that space, so the ring-expansion stopping rule is
a clean geometric bound). Ties broken by smaller point id — total order,
deterministic across engines.

Stopping rule: after exploring every cell within Chebyshev cell-distance
`s` of the query's cell, any unexplored point is at distance
>= s * cell_width (the query may sit on its cell's edge; an unexplored
cell at Chebyshev >= s+1 is >= s full cell widths away). So a query is
DONE once its current kth-best distance <= s * cell_width.

Plan shape per round (driver loop, one round per `s`):
  pending queries --explode ring(s) cells--> (query, cell)   [tiny side]
  points(cell)    --broadcast-join cell--> candidates
                  --window row_number per query (d2, id)--> top-k
Queries are few relative to points (the gdalgrid model: one output grid
node per cell vs millions of scattered points), so the query side is
always the broadcast side and the big point table is NEVER shuffled —
only scanned, once per round, with cell-prefilter pushdown.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import tiles as TF

ORIGIN_SHIFT = TF.ORIGIN_SHIFT


def _d2():
    """Squared mercator-meter distance between point and query."""
    return ((F.col("_pmx") - F.col("_qmx")) * (F.col("_pmx") - F.col("_qmx"))
            + (F.col("_pmy") - F.col("_qmy")) * (F.col("_pmy") - F.col("_qmy")))


def _cell_xy(lon, lat, res: int):
    """(cx, cy) integer cell coords (XYZ orientation) at `res`."""
    lim = 2**res - 1
    tx, ty_tms = TF.tms_tile(lon, lat, res)
    return TF.clamp(tx, 0, lim), TF.clamp(TF.xyz_ty(ty_tms, res), 0, lim)


def knn_join(
    points: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    res: int = 5,
    point_id: str = "point_id",
    query_id: str = "query_id",
    lon: str = "lon",
    lat: str = "lat",
    max_rounds: int | None = None,
) -> DataFrame:
    """Exact kNN of each query against `points`.

    Returns (query_id, point_id, rank) with rank 1..k ordered by squared
    mercator-meter distance, ties by point_id. Both inputs need lon/lat
    columns named per the kw args.
    """
    spark = points.sparkSession
    w = 2.0 * ORIGIN_SHIFT / float(2**res)
    lim = 2**res - 1

    pcx, pcy = _cell_xy(F.col(lon), F.col(lat), res)
    # persisted: every round probes this projection; without the cache
    # each round re-scans the source and recomputes the mercator/cell
    # math (measured as the dominant per-round cost at small SF)
    pts = points.select(
        F.col(point_id).alias("_pid"),
        TF.merc_mx(F.col(lon)).alias("_pmx"),
        TF.merc_my(F.col(lat)).alias("_pmy"),
        pcx.alias("_pcx"),
        pcy.alias("_pcy"),
    ).persist()
    qcx, qcy = _cell_xy(F.col(lon), F.col(lat), res)
    pending = queries.select(
        F.col(query_id).alias("_qid"),
        TF.merc_mx(F.col(lon)).alias("_qmx"),
        TF.merc_my(F.col(lat)).alias("_qmy"),
        qcx.alias("_qcx"),
        qcy.alias("_qcy"),
    )

    if max_rounds is None:
        max_rounds = lim + 2

    win = Window.partitionBy("_qid").orderBy(F.col("_d2").asc(), F.col("_pid").asc())
    results = None   # accumulated top-k per finished query
    n_pts = pts.count()
    if n_pts <= k:
        # every point is in every query's top k: rank the cross join
        # (|queries| x |points| rows, no more than the output) instead
        # of growing the ring until it covers the whole grid
        results = (
            pending.crossJoin(pts).select("_qid", "_pid", _d2().alias("_d2"))
            .withColumn("_rank", F.row_number().over(win))
        )
    carried = None   # previous rounds' top-k for still-pending queries
    s = 1
    prev_s = 0
    rounds = 0
    # persisted frames released at the end (topk feeds `results`, so
    # per-round topk caches must live until the output is materialized)
    _topks: list[DataFrame] = []
    _prev_pending: DataFrame | None = None
    _prev_carried: DataFrame | None = None
    while n_pts > k and rounds < max_rounds:
        rounds += 1
        # ONLY the new annulus: cells with Chebyshev distance in
        # (prev_s, s] of the query cell. Cells <= prev_s were already
        # scanned in earlier rounds and their survivors ride forward in
        # `carried` — no candidate is ever recomputed (the fix for the
        # re-scan-the-whole-square shape).
        offs = (
            spark.range(-s, s + 1).select(F.col("id").alias("_dx"))
            .crossJoin(spark.range(-s, s + 1).select(F.col("id").alias("_dy")))
        )
        if prev_s > 0:  # round 1 includes the center cell (Chebyshev 0)
            offs = offs.filter(F.greatest(F.abs("_dx"), F.abs("_dy")) > prev_s)
        qcells = (
            pending.crossJoin(F.broadcast(offs))
            .select(
                "_qid", "_qmx", "_qmy",
                (F.col("_qcx") + F.col("_dx")).alias("_cx"),
                (F.col("_qcy") + F.col("_dy")).alias("_cy"),
            )
            .filter(
                (F.col("_cx") >= 0) & (F.col("_cx") <= lim)
                & (F.col("_cy") >= 0) & (F.col("_cy") <= lim)
            )
        )
        cand = pts.join(
            F.broadcast(qcells),
            (pts["_pcx"] == qcells["_cx"]) & (pts["_pcy"] == qcells["_cy"]),
        ).select(
            "_qid", "_pid",
            _d2().alias("_d2"),
        )
        if carried is not None:
            cand = carried.select("_qid", "_pid", "_d2").unionByName(cand)
        # persist: topk feeds the done-test, the finished rows AND the
        # final union — without it each round's big candidate join
        # would be recomputed three times (and re-recomputed by the
        # caller's action).
        topk = (
            cand.withColumn("_rank", F.row_number().over(win))
            .filter(F.col("_rank") <= k)
            .persist()
        )
        # done <=> k candidates found AND kth distance <= (s*w)^2,
        # or the whole grid has been explored
        stats = topk.groupBy("_qid").agg(
            F.count("*").alias("_n"), F.max("_d2").alias("_dk")
        )
        bound = float(s) * w
        whole_grid = s >= lim + 1
        done_ids = stats.filter(
            F.lit(whole_grid)
            | ((F.col("_n") >= k) & (F.col("_dk") <= F.lit(bound * bound)))
        ).select("_qid")
        finished = topk.join(F.broadcast(done_ids), "_qid")
        results = finished if results is None else results.unionByName(finished)
        pending = pending.join(F.broadcast(done_ids), "_qid", "left_anti").persist()
        carried = topk.join(F.broadcast(done_ids), "_qid", "left_anti").persist()
        # materialize the loop state so each round's work runs once
        n_pending = pending.count()
        # the count() barrier materialized this round's pending (and
        # cached topk, from which the new carried derives) — the
        # previous round's pending/carried caches are now dead weight
        _topks.append(topk)
        if _prev_pending is not None:
            _prev_pending.unpersist()
        if _prev_carried is not None:
            _prev_carried.unpersist()
        _prev_pending, _prev_carried = pending, carried
        if n_pending == 0:
            break
        prev_s = s
        s *= 2  # geometric growth: few rounds even for isolated queries

    out = results.select(
        F.col("_qid").alias(query_id),
        F.col("_pid").alias(point_id),
        F.col("_rank").alias("rank"),
    )
    # materialize the (small: |queries| x k rows) result so every
    # intermediate cache can be dropped NOW — without this, repeated
    # knn_join calls accumulate executor storage blocks unboundedly
    out = out.localCheckpoint(eager=True)
    for t in _topks:
        t.unpersist()
    if _prev_pending is not None:
        _prev_pending.unpersist()
    if _prev_carried is not None:
        _prev_carried.unpersist()
    pts.unpersist()
    return out
