"""Expected outputs, computed without the engine under test.

- Base pages come from ``PAGES_SQL`` run in DuckDB over the generated
  documents (the same text the engine's pages table is built from).
- Tile membership comes from the scalar geometry port
  (``s2js_spark.geometry``), one point at a time.
- Declared queries are compared with ``__spark_entry__.oracle_sql()``
  run in DuckDB.
"""

from __future__ import annotations

import hashlib
import os

import duckdb
import numpy as np
import pandas as pd


def base_pages(sf_dir: str) -> pd.DataFrame:
    """Deduped base pages: the latest crawl per url with its geotag
    (NaN when the page has none) and the sha256 of its text."""
    from s2js_spark.spark.pages import PAGES_SQL

    con = duckdb.connect()
    try:
        con.sql(
            "CREATE VIEW documents AS SELECT * FROM "
            f"'{os.path.join(sf_dir, 'documents.parquet')}'"
        )
        df = con.sql(
            f"SELECT * FROM ({PAGES_SQL}) QUALIFY row_number() OVER ("
            "PARTITION BY url ORDER BY warc_ts_sec DESC, doc_id DESC) = 1"
        ).df()
    finally:
        con.close()
    df["lat"] = df["lat_e6"] / 1e6
    df["lng"] = df["lng_e6"] / 1e6
    df["text_sha"] = [hashlib.sha256(t.encode()).hexdigest() for t in df["text"]]
    return df.sort_values("url").reset_index(drop=True)


def scalar_membership(pages: pd.DataFrame, shapes: list) -> list[np.ndarray]:
    """Per shape, the row indices of ``pages`` whose geotag it contains,
    decided by the scalar port (a shape's rect bound pre-filters)."""
    from s2js_spark.geometry.point import Point

    geo = pages[pages["lat"].notna()]
    pts = [
        (i, Point.from_latlng_degrees(la, ln))
        for i, la, ln in zip(geo.index, geo["lat"], geo["lng"])
    ]
    out = []
    for shape in shapes:
        bound = shape.rect_bound()
        out.append(np.array(
            [i for i, p in pts if bound.contains_point(p) and shape.contains_point(p)],
            dtype=np.int64,
        ))
    return out


def shapes_of(tiles: list) -> list:
    """Scalar shapes for (tile_id, geojson dict | shape) tile lists."""
    from s2js_spark.geometry.geojson import from_geojson

    return [from_geojson(g) if isinstance(g, dict) else g for _, g in tiles]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Order-insensitive, exact comparison form of a result frame."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif np.issubdtype(df[c].dtype, np.floating):
            df[c] = df[c].astype(np.float64)
        elif np.issubdtype(df[c].dtype, np.integer):
            df[c] = df[c].astype(np.int64)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def query_oracles(sf_dir: str, names: list[str]) -> dict[str, pd.DataFrame]:
    import __spark_entry__ as entry

    sql = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            con.sql(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{os.path.join(sf_dir, t + '.parquet')}'"
            )
        return {n: canon(con.sql(sql[n]).df()) for n in names}
    finally:
        con.close()


def same_frame(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    a = canon(got)
    return list(a.columns) == list(want.columns) and len(a) == len(want) and a.equals(want)
