"""Flagship pipeline: the noise-graph spatial join, re-expressed as one
lazy DataFrame DAG (reference `/root/reference/src/noise_graph_join/
noise_graph_join.py:17-138`, traced in SURVEY.md §3.1).

Stage map (reference step → here):
  3  sampling points           sample_edges            (native explode)
  4  xy_id dedup (CSE)         with_xy_id + location_exposures: one
  6  13-layer sjoin + dedup    LEFT broadcast cell-join + ONE
                               groupBy(xy_id) is both the dedup and the
                               per-layer max pivot (not 13 sjoins)
  5  nodata-zone flag          native rect predicate, or a pip_join_wkb
                               semi-join for general nodata polygons
  7  missing split             Column predicate
  8  kNN ring interpolation    ring_points + _left_cell_pivot +
                               exact 0.7-nearest quantile
  9  source coalesce/max/...   aggregate_noise_values
 10  union                     unionByName
 11  fan-out join              samples ⟕ all_samples on xy_id
 12  per-edge aggregate        aggregate_noises_by_edge
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hope_graph_builder_spark.operators.noise import (
    LAYER_NAMES,
    aggregate_noise_values,
    aggregate_noises_by_edge,
    interpolate_missing,
)
from hope_graph_builder_spark.operators.sampling import (
    ring_points,
    sample_edges,
    with_xy_id,
)

SAMPLE_COLS = [
    "xy_id", "road", "train", "tram", "metro",
    "n_max", "n_max_sources", "n_max_adj", "n_max_mask",
]


def _in_rect(x: Column, y: Column, rect: tuple[float, float, float, float]) -> Column:
    """Half-open containment in an axis-aligned rect."""
    x0, y0, x1, y1 = rect
    return (x >= x0) & (x < x1) & (y >= y0) & (y < y1)


def _xy(xy_id: Column) -> tuple[Column, Column]:
    """The quantized location (0.1 m bin) an xy_id encodes."""
    return F.floor(xy_id / 10_000_000) / 10.0, F.pmod(xy_id, 10_000_000) / 10.0


def _no_noise() -> Column:
    """Every layer column is null (the location matched no polygon)."""
    cond = None
    for c in LAYER_NAMES:
        cur = F.col(c).isNull()
        cond = cur if cond is None else (cond & cur)
    return cond


def noise_final_samples(
    edges: DataFrame,
    layers: DataFrame,
    nodata_rect: tuple[float, float, float, float] | None,
    res: int = 7,
    ring_radius: float = 7.0,
    ring_count: int = 20,
    nodata_polys: DataFrame | None = None,
    nodata_res: int = 4,
) -> DataFrame:
    """edges(edge_id, x1, y1, x2, y2, length) ×
    layers(layer, poly_id, minx, miny, maxx, maxy, db) →
    one row per edge sample with per-source dB, n_max, n_max_sources,
    n_max_adj (reference steps 3-11; input to the per-edge aggregate).

    One physical shape (each step oracle-pinned by the flagship
    queries):
    - ``location_exposures`` dedups the samples on xy_id AND pivots the
      per-layer max in one broadcast cell-join + one groupBy(xy_id)
      with map-side combine; every location is evaluated at its
      QUANTIZED coordinates, so co-located samples share one value.
    - the nodata zone is ``nodata_rect`` (native predicate) or, when
      ``nodata_polys`` is given, a general geometry: an even-odd
      ``pip_join_wkb`` semi-join flags the locations (the reference's
      nodata layer is a municipal-boundary multipolygon,
      noise_graph_join.py:41-47). ``nodata_res`` is coarse by default —
      nodata zones are municipality-scale, so big cells keep the
      cover linear.
    - the miss branch (nodata AND no layer hit) recomputes its input
      instead of caching the wide location table: a one-reuse cache of
      it measured slower than the recompute (58.4 vs 47.9 s for the
      full flagship, MULT=400, 4×2-core executors). For the rect, the
      recompute explodes only the edges whose bbox (±0.1 m, covering
      the 0.05 m quantization shift) meets the strip, and filters the
      samples to the strip before the join; the OR-form edge predicate
      pushes down to the parquet scan. For polygons it filters a full
      recompute.
    - the ring pivot is the same LEFT broadcast cell-join + one
      aggregation (``_left_cell_pivot``); ``interp_vals`` has exactly
      one row per miss location by construction (every miss point
      spawns ring_count ring rows, the left join keeps them, both
      groupBys keep keys), so no reassembly join follows it."""
    samples = with_xy_id(sample_edges(edges))

    if nodata_polys is None:
        pts = _located(location_exposures(samples, layers, res), nodata_rect)
    else:
        from hope_graph_builder_spark.operators.spatial_join import pip_join_wkb

        pts = _located(location_exposures(samples, layers, res))
        flags = (
            pip_join_wkb(
                pts.select("xy_id", "x", "y"), nodata_polys,
                res=nodata_res, point_id="xy_id",
            )
            .select("xy_id").distinct()
            .withColumn("_nz", F.lit(True))
        )
        pts = pts.join(flags, "xy_id", "left").withColumn(
            "nodata_zone", F.coalesce(F.col("_nz"), F.lit(False))
        ).drop("_nz")
    pts = pts.withColumn("missing_noises", F.col("nodata_zone") & _no_noise())
    normal = aggregate_noise_values(pts.filter(~F.col("missing_noises"))).select(*SAMPLE_COLS)

    if nodata_polys is None:
        nx0, ny0, nx1, ny1 = nodata_rect
        m = 0.1  # quantization moves a sample ≤0.05 m; margin 2×
        pre = edges.filter(
            ((F.col("x1") >= nx0 - m) | (F.col("x2") >= nx0 - m))
            & ((F.col("x1") < nx1 + m) | (F.col("x2") < nx1 + m))
            & ((F.col("y1") >= ny0 - m) | (F.col("y2") >= ny0 - m))
            & ((F.col("y1") < ny1 + m) | (F.col("y2") < ny1 + m))
        )
        strip = location_exposures(
            with_xy_id(sample_edges(pre)), layers, res, strip=nodata_rect
        )
        miss = _located(strip, nodata_rect).filter(_no_noise())
    else:
        miss = pts.filter(F.col("missing_noises"))
    rings = ring_points(miss.select("xy_id", "x", "y"), radius=ring_radius,
                        count=ring_count, keep=["xy_id"], index_col="ring_i")
    ring_pivot = _left_cell_pivot(rings, layers, res, keys=["xy_id", "ring_i"])
    interp_vals = interpolate_missing(ring_pivot, ring_count=ring_count)
    interp = aggregate_noise_values(interp_vals, prefer_syke=True).select(*SAMPLE_COLS)

    all_samples = normal.unionByName(interp)
    return samples.join(all_samples, "xy_id", "left")


def _located(
    exposures: DataFrame, nodata_rect: tuple[float, float, float, float] | None = None
) -> DataFrame:
    """location_exposures output + the x / y its xy_id encodes, and the
    rect nodata flag when ``nodata_rect`` is given."""
    x, y = _xy(F.col("xy_id"))
    flag = [] if nodata_rect is None else [_in_rect(x, y, nodata_rect).alias("nodata_zone")]
    return exposures.select("xy_id", x.alias("x"), y.alias("y"), *flag, *LAYER_NAMES)


def _layer_index_col() -> F.Column:
    """layer name → its LAYER_NAMES position, evaluated ONCE on the
    (tiny, broadcast) polygon side so the hot per-candidate aggregation
    compares ints instead of strings (r06: 8 string equalities per
    candidate row × 53M rows dominated the fused-agg CPU)."""
    expr = F.lit(None).cast("int")
    for i in range(len(LAYER_NAMES) - 1, -1, -1):
        expr = F.when(F.col("layer") == LAYER_NAMES[i], F.lit(i)).otherwise(expr)
    return expr


def _left_cell_pivot(
    points: DataFrame,
    layers: DataFrame,
    res: int,
    keys: list[str],
    x: str = "x",
    y: str = "y",
    res_bump: int = 0,
) -> DataFrame:
    """LEFT broadcast cell-join + one grouped 8-way conditional max —
    the PIP+pivot core of ``location_exposures`` and the ring branch.
    Exactly one aggregation over a stream-static broadcast join;
    unmatched points survive with all-null layer columns, and stacked
    (overlapping) polygons of one layer max-reduce (the reference's
    invalid-overlap dedup-keep-max, utils.py:112-141). Deliberately
    not ``.pivot()``: Spark's PivotFirst measured 8× slower than plain
    max(CASE WHEN) on 32M match rows (33.5 vs 4.1 s).

    ``res_bump`` joins at a finer cell resolution than the caller's
    polygon-scale ``res`` — results are resolution-invariant (the exact
    bbox refine decides), only the candidate count changes. One step
    finer quarters the cell area, so far fewer non-hit (point, rect)
    candidate rows reach the aggregation (measured at bench scale:
    53M → 33M rows, 2.36 → 1.79 s for the big location pass) at the
    cost of ~4× cover rows on the (tiny, broadcast) polygon side.
    Callers bump only when the point side is large.

    Nothing here caps the broadcast cover: it holds one row per
    (rect, cell its bbox meets) at ``res + res_bump``, so the layer
    table and the caller's res bound it. The synthetic layers (4,109
    rects of 3.6 km) cover 258,002 cells at res 8, the flagship's res
    7 bumped, with at most 81 per rect. No flagship caller runs the
    ``split_by_cover_size`` valve; a caller that feeds polygons of
    unbounded extent must wire it in and size it at ``res + res_bump``,
    the resolution the cover is exploded at — one bump quadruples a
    polygon's cover."""
    from hope_graph_builder_spark.operators.spatial_join import (
        CELL,
        with_cover_cells,
        with_point_cell,
    )

    res = res + res_bump
    p = with_point_cell(points, x, y, res)
    g = F.broadcast(
        with_cover_cells(layers, "minx", "miny", "maxx", "maxy", res)
        .withColumn("_li", _layer_index_col())
        .select(CELL, "_li", "minx", "miny", "maxx", "maxy", "db")
    )
    cand = p.join(g, CELL, "left")
    hit = (
        (F.col(x) >= F.col("minx")) & (F.col(x) < F.col("maxx"))
        & (F.col(y) >= F.col("miny")) & (F.col(y) < F.col("maxy"))
    )
    rows = cand.select(
        *keys,
        F.when(hit, F.col("_li")).alias("_li"),
        F.when(hit, F.col("db")).alias("db"),
    )
    return rows.groupBy(*keys).agg(
        *[
            F.max(F.when(F.col("_li") == i, F.col("db"))).alias(c)
            for i, c in enumerate(LAYER_NAMES)
        ],
    )


def location_exposures(
    samples: DataFrame,
    layers: DataFrame,
    res: int,
    strip: tuple[float, float, float, float] | None = None,
) -> DataFrame:
    """Location-level exposure table — the fused dedup+PIP+pivot core:
    raw samples LEFT-cell-join the broadcast layer cover at their
    QUANTIZED coordinates and ONE groupBy(xy_id) with map-side combine
    is simultaneously the location dedup AND the per-layer max pivot.
    Output: (xy_id, <one max-dB column per layer>); unmatched
    locations survive the left join with all-null layers.

    x / y are pure functions of xy_id, so they are NOT carried through
    the shuffle as first() buffers — callers re-derive them from xy_id
    (measured: dropping the derivable columns trims the partial
    aggregate rows ~19%).

    ``strip`` pre-filters samples to a rect BEFORE the join (the
    flagship's miss-branch recompute pushes the nodata filter down to
    the sample explode this way).

    Exactly one aggregation over a stream-static broadcast join — a
    legal Structured Streaming stage: streaming/noise_stream.py runs
    this same function over an edge STREAM and the test pins
    stream == batch equality."""
    x, y = _xy(F.col("xy_id"))
    sq = samples.select("xy_id", x.alias("x"), y.alias("y"))
    if strip is not None:
        sq = sq.filter(_in_rect(F.col("x"), F.col("y"), strip))
    # the point side is corpus-sized here → join one res step finer
    # (fewer false candidates; see _left_cell_pivot docstring)
    return _left_cell_pivot(sq, layers, res, keys=["xy_id"], res_bump=1)


def run_noise_join(
    edges: DataFrame,
    layers: DataFrame,
    nodata_rect: tuple[float, float, float, float] | None,
    res: int = 7,
    ring_radius: float = 7.0,
    ring_count: int = 20,
    extent_rect: tuple[float, float, float, float] | None = None,
    nodata_polys: DataFrame | None = None,
    nodata_res: int = 4,
    extent_polys: list | None = None,
    dedup_xy: bool = True,
    fused_dedup: bool = True,
) -> DataFrame:
    """Full flagship: → edge_noises(edge_id, noises map, noise_source,
    noise_sources map). The per-sample stage is
    ``noise_final_samples``; ``nodata_polys`` / ``nodata_res`` pass
    through to it.

    ``extent_rect`` enables the J3 three-valued semantics (reference
    noise_graph_update.py:36-44, gpd.sjoin op='within'): edges whose
    GEOMETRY is within the noise-data extent get the {} / '' defaults
    when unmatched; all other edges get noises=NULL / noise_source=NULL
    (nodata). For a rectangular (convex) extent and straight 2-vertex
    edges, geometry-within ⇔ BOTH endpoints inside — exactly the native
    predicate below, no refinement needed.

    ``extent_polys`` is the turnkey GENERAL-extent form (list of ring
    arrays, outer + holes, even-odd — the reference's extent is a real
    concave municipal polygon): within = both endpoints inside AND no
    boundary crossing (``segments_within_rings``), which differs from
    the endpoint-only predicate exactly when a segment exits and
    re-enters a concave region. Mutually exclusive with
    ``extent_rect``.

    ``dedup_xy`` and ``fused_dedup`` are accepted and ignored: they
    once chose between physical strategies of which only the fused
    dedup remains (bench.py still passes them)."""
    if extent_rect is not None and extent_polys is not None:
        raise ValueError("pass extent_rect OR extent_polys, not both")
    final = noise_final_samples(
        edges, layers, nodata_rect, res, ring_radius, ring_count,
        nodata_polys=nodata_polys, nodata_res=nodata_res,
    )
    # SLIM all-numeric projection into the fused single-pass edge
    # aggregate: ONE exchange for the entire tail (the old 2-pass +
    # reassembly-join tail cost 5 exchanges / 6 stages, and the
    # stage-launch floor was the measured N-vs-4N scaling bottleneck).
    # No persist: the fused aggregate is the only consumer.
    slim = final.select("edge_id", "sample_len", "n_max_adj", "n_max_mask")
    if extent_rect is None and extent_polys is None:
        # every edge yields ≥1 sample ⇒ the aggregate's group keys
        # already cover the full edge list — no reassembly join
        return aggregate_noises_by_edge(slim)
    if extent_polys is not None:
        from hope_graph_builder_spark.operators.geometry import edges_within_rings

        return aggregate_noises_by_edge(
            slim,
            edges_all=edges_within_rings(edges, extent_polys),
            extent_flag="in_extent",
        )
    # within(convex rect) ⇔ both endpoints inside (see docstring)
    edges_flagged = edges.select(
        "edge_id",
        (_in_rect(F.col("x1"), F.col("y1"), extent_rect)
         & _in_rect(F.col("x2"), F.col("y2"), extent_rect)).alias("in_extent"),
    )
    # (edges_flagged is the preserved side of the left join, so it
    # cannot be broadcast; it re-shuffles on edge_id — extent mode only)
    return aggregate_noises_by_edge(
        slim, edges_all=edges_flagged, extent_flag="in_extent"
    )
