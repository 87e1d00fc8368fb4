"""Parity of the all-JVM tag join (tagjoin.tag_tiles_pairs) with the
Arrow-kernel path (tiles.tag_tiles), including adversarial points on
polygon edges/vertices that exercise the triage-uncertified residual
path."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from s2js_spark.spark.session import get_session
from s2js_spark.spark.tagjoin import tag_candidates, tag_tiles_pairs
from s2js_spark.spark.tiles import build_tileset, tag_tiles

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    s = get_session("local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def _tileset():
    import __spark_entry__ as e

    return build_tileset(e.PIP_TILES + e.RECT_TILES + e.CAP_TILES, max_cells=64)


def _pairs_set(df, key="url"):
    return {(r[key], int(r["tile_i"])) for r in df.collect()}


def test_pairs_match_kernel_on_corpus(spark):
    from s2js_spark.spark.pages import pages
    from s2js_spark.spark.pipeline import extract_geotags

    ts = _tileset()
    geo = extract_geotags(pages(spark, SF)).filter(F.col("lat").isNotNull())
    geo = geo.select("url", "lat", "lng")

    jvm = _pairs_set(tag_tiles_pairs(spark, geo, ts))
    kernel = _pairs_set(
        tag_tiles(spark, geo, ts).select(
            "url", F.explode("tile_idx").alias("tile_i")
        )
    )
    assert jvm == kernel
    assert len(jvm) > 0


def test_pairs_match_kernel_adversarial_boundary(spark):
    """Points exactly on / nanometers from polygon vertices and edge
    midpoints: the SQL triage must flag them and the exact residual job
    must reproduce the kernel's exact decision bit-for-bit."""
    import __spark_entry__ as e

    ts = build_tileset(e.PIP_TILES, max_cells=64)
    rows = []
    k = 0
    for _, geom in e.PIP_TILES:
        ring = geom["coordinates"][0]
        for lng, lat in ring:
            for dlat in (0.0, 1e-14, -1e-14):
                for dlng in (0.0, 1e-14, -1e-14):
                    rows.append((f"adv{k}", lat + dlat, lng + dlng))
                    k += 1
        for i in range(len(ring) - 1):
            mlng = (ring[i][0] + ring[i + 1][0]) / 2
            mlat = (ring[i][1] + ring[i + 1][1]) / 2
            rows.append((f"adv{k}", mlat, mlng))
            k += 1
    # plus clearly-inside / clearly-outside controls
    rows += [("in8", 1.0, 8.0), ("in9", 8.0, 29.0), ("out", 50.0, 50.0)]

    df = spark.createDataFrame(pd.DataFrame(rows, columns=["url", "lat", "lng"]))
    jvm = _pairs_set(tag_tiles_pairs(spark, df, ts))
    kernel = _pairs_set(
        tag_tiles(spark, df, ts).select("url", F.explode("tile_idx").alias("tile_i"))
    )
    assert jvm == kernel
    assert ("in8", 0) in jvm and ("in9", 1) in jvm
    assert not any(u == "out" for u, _ in jvm)


def test_certified_fraction_is_total_on_organic_data(spark):
    """On organic (non-adversarial) data zero lanes should need the
    exact residual pass — the certified one-pass plan is complete."""
    from s2js_spark.spark.pages import pages
    from s2js_spark.spark.pipeline import extract_geotags

    ts = _tileset()
    geo = extract_geotags(pages(spark, SF)).filter(F.col("lat").isNotNull())
    cand = tag_candidates(spark, geo.select("url", "lat", "lng"), ts)
    assert cand.filter(F.col("_uncert_poly")).count() == 0


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_big_polygon_aggregate_path_matches_kernel(spark):
    """Every polygon tile, small or big, winds through the one
    ``aggregate`` form over the broadcast edge array. The 240-edge
    concave tile must agree with the Arrow-kernel path and need zero
    exact residuals on the organic corpus."""
    import __spark_entry__ as e
    from s2js_spark.spark.pages import pages
    from s2js_spark.spark.pipeline import extract_geotags

    ts = build_tileset(e.BIG_PIP_TILES, max_cells=64)
    small = build_tileset(e.PIP_TILES, max_cells=64)
    assert int(ts.edge_off[1] - ts.edge_off[0]) == 240
    assert int(np.diff(small.edge_off).max()) < 16

    geo = extract_geotags(pages(spark, SF)).filter(F.col("lat").isNotNull())
    geo = geo.select("url", "lat", "lng")
    for t in (ts, small):
        assert "aggregate(" in _plan(tag_tiles_pairs(spark, geo, t))
    jvm = _pairs_set(tag_tiles_pairs(spark, geo, ts))
    kernel = _pairs_set(
        tag_tiles(spark, geo, ts).select("url", F.explode("tile_idx").alias("tile_i"))
    )
    assert jvm == kernel
    assert len(jvm) > 0
    cand = tag_candidates(spark, geo, ts)
    assert cand.filter(F.col("_uncert_poly")).count() == 0


def _ring(lat: float, lng: float, n: int, r: float, wobble: float = 0.0) -> list:
    """Closed GeoJSON ring of ``n`` edges around (lat, lng); ``wobble``
    > 0 makes it a concave star r(theta) = r (1 + wobble sin(7 theta))."""
    ring = []
    for k in range(n):
        th = 2.0 * math.pi * k / n
        rr = r * (1.0 + wobble * math.sin(7.0 * th))
        ring.append([lng + rr * math.cos(th), lat + rr * math.sin(th)])
    return ring + [list(ring[0])]


def _scalar_pairs(pdf: pd.DataFrame, tiles: list) -> set:
    """(id, tile_i) pairs decided by the scalar geometry port."""
    from s2js_spark.geometry.geojson import from_geojson
    from s2js_spark.geometry.point import Point

    pts = [
        (i, Point.from_latlng_degrees(la, ln))
        for i, la, ln in zip(pdf["id"], pdf["lat"], pdf["lng"])
    ]
    out = set()
    for t, (_, g) in enumerate(tiles):
        shape = from_geojson(g) if isinstance(g, dict) else g
        bound = shape.rect_bound()
        out |= {
            (i, t) for i, p in pts
            if bound.contains_point(p) and shape.contains_point(p)
        }
    return out


def test_winding_matches_scalar_contains_point_at_every_edge_count(spark):
    """Seeded points around polygons of 3, 16, 95, 97 and 400 edges
    (concave ones included) and a polygon with a hole: the single
    aggregate winding path must give the scalar port's answer."""
    def poly(ring: list, *holes: list) -> dict:
        return {"type": "Polygon", "coordinates": [ring, *holes]}

    tiles = [
        ("tri3", poly(_ring(10.0, 10.0, 3, 1.0))),
        ("gon16", poly(_ring(10.0, 14.0, 16, 1.0))),
        ("star95", poly(_ring(14.0, 10.0, 95, 1.2, 0.4))),
        ("star97", poly(_ring(14.0, 14.0, 97, 1.2, 0.4))),
        ("star400", poly(_ring(-20.0, 40.0, 400, 2.0, 0.3))),
        ("holed", poly(_ring(-20.0, 46.0, 24, 2.0), _ring(-20.0, 46.0, 12, 0.8)[::-1])),
    ]
    ts = build_tileset(tiles, max_cells=16)
    assert sorted(np.diff(ts.edge_off)) == [3, 16, 36, 95, 97, 400]
    rng = np.random.default_rng(20261017)
    lat, lng = [], []
    for _, g in tiles:
        ring = np.array(g["coordinates"][0])
        lo, hi = ring.min(axis=0) - 0.3, ring.max(axis=0) + 0.3
        lng.append(rng.uniform(lo[0], hi[0], 1500))
        lat.append(rng.uniform(lo[1], hi[1], 1500))
    pdf = pd.DataFrame({"lat": np.concatenate(lat), "lng": np.concatenate(lng)})
    pdf.insert(0, "id", np.arange(len(pdf)))
    got = _pairs_set(tag_tiles_pairs(spark, spark.createDataFrame(pdf), ts), "id")
    want = _scalar_pairs(pdf, tiles)
    assert got == want
    # every tile, the holed one included, contains some points
    assert {t for _, t in got} == set(range(len(tiles)))
    assert len(got) < len(pdf)


def test_no_edge_coordinate_is_a_plan_literal(spark):
    """Polygon edges ride the broadcast geometry frame as data: the
    executed plan carries none of the tile set's edge coordinates."""
    import __spark_entry__ as e

    ts = build_tileset(e.PIP_TILES + e.BIG_PIP_TILES, max_cells=64)
    df = spark.createDataFrame(pd.DataFrame({"lat": [1.0], "lng": [8.0]}))
    plan = _plan(tag_tiles_pairs(spark, df, ts))
    coords = np.concatenate([ts.cx, ts.cy, ts.cz, ts.dx, ts.dy, ts.dz])
    # the significant digits of each coordinate, as any formatting of
    # a full-precision double literal would print them
    digits = {repr(abs(float(v))).lstrip("0.")[:12] for v in coords}
    assert not [d for d in digits if len(d) >= 8 and d in plan]


def test_empty_and_degenerate_tile_sets(spark):
    """An empty tile set and a tile set whose coverings are all empty
    build valid plans (typed empty frames, zero pairs); zero-edge
    polygons (empty / full loop) keep a typed empty edge array and
    their winding answers by origin parity."""
    import dataclasses

    from s2js_spark.geometry.loop import Loop
    from s2js_spark.geometry.polygon import Polygon

    pdf = pd.DataFrame({"id": [0, 1, 2], "lat": [1.0, -40.0, 89.9], "lng": [8.0, 120.0, 0.0]})
    df = spark.createDataFrame(pdf)
    empty = Polygon([Loop.empty_loop()])
    assert tag_tiles_pairs(spark, df, build_tileset([])).count() == 0
    assert tag_tiles_pairs(spark, df, build_tileset([("e", empty)])).count() == 0

    import __spark_entry__ as e

    tiles = [("e", empty), ("full", Polygon.full_polygon())] + e.PIP_TILES[:1]
    ts = build_tileset(tiles, max_cells=16)
    assert list(np.diff(ts.edge_off)[:2]) == [0, 0]
    got = _pairs_set(tag_tiles_pairs(spark, df, ts), "id")
    assert got == _scalar_pairs(pdf, tiles)
    assert got == {(0, 1), (1, 1), (2, 1), (0, 2)}
    # the full polygon's covering is all interior; forced through the
    # winding, its zero edges fold to 0 and origin parity says "in"
    full = build_tileset(tiles[1:2], max_cells=16)
    wound = dataclasses.replace(full, cov_interior=np.zeros_like(full.cov_interior))
    assert _pairs_set(tag_tiles_pairs(spark, df, wound), "id") == {(0, 0), (1, 0), (2, 0)}


def test_covering_frame_cache_is_bounded(spark):
    """Dropped tile sets are evicted and the memo never exceeds its cap."""
    import gc
    import weakref

    from s2js_spark.spark import tagjoin

    dropped = []
    for k in range(40):
        ring = [[10.0, k], [10.5, k], [10.5, k + 0.5], [10.0, k + 0.5], [10.0, k]]
        ts = build_tileset([(f"r{k}", {"type": "Polygon", "coordinates": [ring]})], max_cells=4)
        tagjoin.covering_frames(spark, ts)
        dropped.append(weakref.ref(ts))
        assert len(tagjoin._COV_FRAME_CACHE) <= tagjoin._CACHE_MAX
    del ts
    gc.collect()
    assert all(r() is None for r in dropped)
    tagjoin._prune(tagjoin._COV_FRAME_CACHE)
    assert all(v[0]() is not None for v in tagjoin._COV_FRAME_CACHE.values())


def test_pairs_plan_stays_compact(spark):
    """Regression guard for the round-3 barrier fix: the refinement
    stack must appear ONCE in the executed plan (attribute references
    in the decision filter / residual UDF), not alias-substituted into
    the covering-join condition — that blow-up measured 530 KB of plan
    and ~2s of fixed per-execution cost."""
    from s2js_spark.spark.pages import pages
    from s2js_spark.spark.pipeline import extract_geotags

    ts = _tileset()
    geo = extract_geotags(pages(spark, SF)).filter(F.col("lat").isNotNull())
    pairs = tag_tiles_pairs(spark, geo.select("url", "lat", "lng"), ts)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert len(plan) < 200_000
    # decision inputs reach the residual UDF as attributes, not
    # re-inlined expressions
    udf_line = next(l for l in plan.splitlines() if "ArrowEvalPython" in l)
    assert len(udf_line) < 2_000


def test_rect_cap_sql_bitwise_vs_kernel(spark):
    """Dense sample near rect and cap boundaries: SQL refinement uses
    the same correctly-rounded op order as the kernel, so membership
    must agree everywhere (trig-input ulp caveat aside)."""
    import __spark_entry__ as e

    ts = build_tileset(e.RECT_TILES + e.CAP_TILES, max_cells=48)
    rng = np.random.default_rng(5)
    lat = np.concatenate(
        [
            rng.uniform(-27.6, -26.4, 3000),  # rect_c4 band
            rng.uniform(28.0, 30.0, 3000),  # cap_c12 band
        ]
    )
    lng = np.concatenate(
        [rng.uniform(-77.0, -75.0, 3000), rng.uniform(91.0, 93.0, 3000)]
    )
    pdf = pd.DataFrame(
        {"url": [f"p{i}" for i in range(len(lat))], "lat": lat, "lng": lng}
    )
    df = spark.createDataFrame(pdf)
    jvm = _pairs_set(tag_tiles_pairs(spark, df, ts))
    kernel = _pairs_set(
        tag_tiles(spark, df, ts).select("url", F.explode("tile_idx").alias("tile_i"))
    )
    assert jvm == kernel
    assert len(jvm) > 100


def test_registered_predicate_functions(spark):
    """SQL-callable s2_point_in_polygon / s2_rect_contains /
    s2_cap_contains agree with the tag-join decisions."""
    import json
    import pandas as pd
    from s2js_spark.spark.functions import register_all
    import __spark_entry__ as e

    register_all(spark)
    gj = json.dumps(e.PIP_TILES[0][1])
    df = spark.createDataFrame(
        pd.DataFrame({"lat": [1.0, 1.69, 50.0], "lng": [8.0, 8.0, 50.0]})
    )
    df.createOrReplaceTempView("pts")
    got = spark.sql(
        f"""SELECT
          s2_point_in_polygon(lat, lng, '{gj}') AS pip,
          s2_rect_contains(lat, lng, -27.4D, -26.6D, -76.8D, -75.2D) AS rc,
          s2_cap_contains(lat, lng, 29.0D, 92.0D, 0.8D) AS cc
        FROM pts"""
    ).collect()
    assert [r.pip for r in got] == [True, True, False]
    assert [r.rc for r in got] == [False, False, False]
    assert [r.cc for r in got] == [False, False, False]
    df2 = spark.createDataFrame(
        pd.DataFrame({"lat": [-27.0, 29.0], "lng": [-76.0, 92.0]})
    )
    df2.createOrReplaceTempView("pts2")
    got2 = spark.sql(
        """SELECT s2_rect_contains(lat, lng, -27.4D, -26.6D, -76.8D, -75.2D) AS rc,
                  s2_cap_contains(lat, lng, 29.0D, 92.0D, 0.8D) AS cc FROM pts2"""
    ).collect()
    assert [r.rc for r in got2] == [True, False]
    assert [r.cc for r in got2] == [False, True]
