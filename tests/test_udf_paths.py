"""The Arrow/pandas-UDF refinement paths must agree with the native
paths on shapes both can express (rectangles) — plus CRS/WKT codecs."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from hope_graph_builder_spark import synth
from hope_graph_builder_spark.operators.spatial_join import pip_join_rect, pip_join_wkb
from hope_graph_builder_spark.pipelines.overlay import (
    overlay_share_general,
    overlay_share_rect,
)
from hope_graph_builder_spark.spatial import crs, wkb
from hope_graph_builder_spark.spatial.wkt import (
    format_linestring_np,
    format_point_expr,
    parse_linestring_np,
    parse_point_expr,
)

from tests.conftest import SF_TINY


def _layers_with_wkb(spark):
    pdf = synth._layer_grid_np()
    pdf["geom"] = [
        wkb.rect_to_wkb(a, b, c, d)
        for a, b, c, d in zip(pdf.minx, pdf.miny, pdf.maxx, pdf.maxy)
    ]
    return spark.createDataFrame(pdf)


def test_pip_wkb_matches_rect_path(spark):
    """General-ring ray-cast refine == native rect refine on the same
    rectangles (boundary convention differs only on exact edges, which
    the 0.1m-grid points never hit)."""
    pts = synth.page_points(spark, SF_TINY).select("doc_id", "x", "y")
    layers = _layers_with_wkb(spark)
    a = (
        pip_join_rect(pts, layers.drop("geom"), res=7, how="inner", point_id="doc_id")
        .select("doc_id", "poly_id")
    )
    b = pip_join_wkb(pts, layers, res=7, point_id="doc_id").select("doc_id", "poly_id")
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_overlay_convex_matches_rect_path(spark):
    edges = synth.page_edges(spark, SF_TINY)
    veg_pdf = synth._veg_grid_np()
    veg_pdf2 = veg_pdf.copy()
    veg_pdf2["geom"] = [
        wkb.rect_to_wkb(a, b, c, d)
        for a, b, c, d in zip(veg_pdf.minx, veg_pdf.miny, veg_pdf.maxx, veg_pdf.maxy)
    ]
    rect = overlay_share_rect(edges, spark.createDataFrame(veg_pdf), res=8).toPandas()
    gen = overlay_share_general(edges, spark.createDataFrame(veg_pdf2), res=8).toPandas()
    m = rect.merge(gen, on=["edge_id", "veg_class"], suffixes=("_r", "_g"), how="outer")
    assert m.share_r.notna().all() and m.share_g.notna().all()
    assert (abs(m.share_r - m.share_g) < 1e-6).all()


def test_crs_roundtrip(spark):
    lon = np.array([0.0, 24.94, -122.4])
    lat = np.array([0.0, 60.17, 37.77])
    x, y = crs.lonlat_to_mercator_np(lon, lat)
    lon2, lat2 = crs.mercator_to_lonlat_np(x, y)
    assert np.allclose(lon, lon2) and np.allclose(lat, lat2)
    # Column flavor agrees with numpy flavor
    df = spark.createDataFrame(pd.DataFrame({"lon": lon, "lat": lat}))
    cx, cy = crs.lonlat_to_mercator_expr(F.col("lon"), F.col("lat"))
    rows = df.select(cx.alias("x"), cy.alias("y")).collect()
    assert np.allclose([r.x for r in rows], x)
    assert np.allclose([r.y for r in rows], y)


def test_wkt_roundtrips(spark):
    df = spark.createDataFrame(pd.DataFrame({"x": [1.5, -2.25], "y": [3.125, 4.0]}))
    w = df.select(format_point_expr(F.col("x"), F.col("y")).alias("wkt"), "x", "y")
    px, py = parse_point_expr(F.col("wkt"))
    out = w.select((px == F.col("x")).alias("ok_x"), (py == F.col("y")).alias("ok_y")).collect()
    assert all(r.ok_x and r.ok_y for r in out)
    coords = np.array([[1.5, 2.5], [3.0, 4.0], [5.25, 6.0]])
    assert (parse_linestring_np(format_linestring_np(coords)) == coords).all()
    assert parse_linestring_np("LINESTRING EMPTY").shape == (0, 2)


def test_overlay_general_concave_and_holes(spark):
    """overlay_share_general through the full Spark plan: concave ring
    + hole vs hand-computed areas."""
    # one edge whose 30 m buffer is exactly [70,130]×[170,230]
    edges = spark.createDataFrame(
        [(1, 100.0, 200.0, 100.0, 200.0)], "edge_id long, x1 double, y1 double, x2 double, y2 double"
    )
    # L-shape: arm A (0,150)-(300,150)-(300,190) + arm B (0,190)-(60,190)-(60,400),
    # hole (10,250)-(50,250)-(50,300)-(10,300) inside arm B
    ring = np.array([[0, 150], [300, 150], [300, 190], [60, 190], [60, 400], [0, 400]], float)
    hole = np.array([[10, 250], [50, 250], [50, 300], [10, 300]], float)
    polys = spark.createDataFrame(
        [(7, "low", bytearray(wkb.polygon_to_wkb_rings([ring, hole])), 0.0, 150.0, 300.0, 400.0)],
        "poly_id long, veg_class string, geom binary, minx double, miny double, maxx double, maxy double",
    )
    out = overlay_share_general(edges, polys, res=9, area_q=100.0).collect()
    # buffer [70,130]×[170,230]: ∩armA = 60×20=1200 (y 170..190), ∩armB = 0
    # (x 70..130 vs arm x 0..60), ∩hole = 0 → area 1200; buf_area 3600
    assert len(out) == 1
    assert abs(out[0]["share"] - 1200.0 / 3600.0) < 1e-12

    # hole subtraction: buffer [−30,30]×[220,280] ∩ armB (x 0..60 y 190..400)
    # = 30×60 = 1800 minus hole ∩ = (10..30)×(250..280) = 20×30 = 600 → 1200
    edges2 = spark.createDataFrame(
        [(2, 0.0, 250.0, 0.0, 250.0)], "edge_id long, x1 double, y1 double, x2 double, y2 double"
    )
    out2 = overlay_share_general(edges2, polys, res=9, area_q=100.0).collect()
    assert len(out2) == 1
    assert abs(out2[0]["share"] - 1200.0 / 3600.0) < 1e-12


def test_dissolve_general_matches_rect_dissolve(spark):
    """dissolve_union_geometry_general over rect WKB == the rect
    dissolve's union area, and the emitted trapezoid WKB quads decode
    to the parts' own corners."""
    from hope_graph_builder_spark.pipelines.overlay import (
        dissolve_union_area,
        dissolve_union_geometry_general,
    )

    veg_pdf = synth._veg_grid_np().head(60).copy()
    veg_pdf["tile"] = (veg_pdf.minx // 10000).astype("int64")
    veg_pdf["geom"] = [
        wkb.rect_to_wkb(a, b, c, d)
        for a, b, c, d in zip(veg_pdf.minx, veg_pdf.miny, veg_pdf.maxx, veg_pdf.maxy)
    ]
    df = spark.createDataFrame(veg_pdf)
    area = dissolve_union_area(df).toPandas()
    parts = dissolve_union_geometry_general(df).toPandas()
    got = parts.groupby(["tile", "veg_class"], as_index=False).part_area.sum()
    m = area.merge(got, on=["tile", "veg_class"], how="outer")
    assert m.union_area.notna().all() and m.part_area.notna().all()
    assert (abs(m.union_area - m.part_area) < 1e-6).all()
    # WKB quad round-trip
    row = parts.iloc[0]
    ring = wkb.polygon_from_wkb(bytes(row.geom))
    assert ring[0][0] == row.x0 and ring[1][0] == row.x1


def test_overlay_round_caps_through_spark(spark):
    """overlay_share_round end-to-end: a capsule crossing a rect
    boundary with one cap in, one out — share matches the closed
    form (rect strip + half-disk) / capsule area."""
    import math

    from hope_graph_builder_spark.pipelines.overlay import overlay_share_round

    edges = spark.createDataFrame(
        [(1, 400.0, 1000.0, 700.0, 1000.0)],
        "edge_id long, x1 double, y1 double, x2 double, y2 double",
    )
    polys = spark.createDataFrame(
        [(7, "low", bytearray(wkb.rect_to_wkb(500.0, 500.0, 2000.0, 1700.0)),
          500.0, 500.0, 2000.0, 1700.0)],
        "poly_id long, veg_class string, geom binary, minx double, miny double, maxx double, maxy double",
    )
    out = overlay_share_round(edges, polys, res=7).collect()
    assert len(out) == 1
    want = ((700.0 - 500.0) * 60.0 + math.pi * 450.0) / (300.0 * 60.0 + math.pi * 900.0)
    assert abs(out[0]["share"] - want) < 1e-6
