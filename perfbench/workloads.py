"""The benchmark's workloads.

Each workload is a closed loop with one client: the next operation
starts when the previous one has returned. A workload supplies

- ``ingest``: one set-up round, writing its seeded inputs into the
  store (repeated several times so that set-up time is a median);
- ``attach``: re-attach the stored inputs to a fresh session;
- ``prepare``: expected outputs, computed without the engine;
- ``op`` (timed) and ``check`` (untimed) for one operation;
- ``chain``: the prefix cuts of its pages pipeline for the traced run.

Only public engine functions are called: ``pages``/``storage``,
``pipeline``, ``sqlkernels``, ``tiles.build_tileset``,
``tagjoin.tag_tiles_pairs``/``tag_candidates``,
``checkpoint.resumable_write_bucketed`` (the flagship's traced run) and
``__spark_entry__.queries()``.
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil
import time

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import inputs, oracle

# Per-workload input sizes; ``smoke`` is the sf0.01-sized test mode.
SIZES = {
    "full": {
        "docs": 5000, "amplify": 12, "mix_docs": 500,
        "mix_vecs": 500, "small_polys": 1, "small_vertices": 16,
        "big_polys": 1, "big_vertices": 120, "cold_max_cells": 16,
    },
    "smoke": {
        "docs": 500, "amplify": 2, "mix_docs": 200,
        "mix_vecs": 100, "small_polys": 2, "small_vertices": 8,
        "big_polys": 1, "big_vertices": 100, "cold_max_cells": 8,
    },
}

# The declared queries of the query-surface probe: joins, tiles,
# distance, textops and similarity. The other declared queries are left
# out to fit the run's time limit: each adds seconds of first-pass
# planning, pip_big / pip_tag / knn_auto exercise paths cold_tiles and
# knn already cover, and minhash_dedup, cell_vectorize and
# semantic_dedup also bypass the plan memo and cost ~3 s per pass even
# on 500 rows.
MIX = ["rect_tag", "buffer_tag", "cell_rollup", "knn", "exact_dedup", "ann_lsh_self"]

# Prefix cuts of the pages pipeline, in order; a layer's self time is
# its cut's wall minus the previous cut's wall.
CUTS = [
    "storage.scan", "pipeline.extract_geotags", "pipeline.dedup_latest",
    "sqlkernels.encode", "tagjoin.join_refine", "flagship.rollup",
]


class Ctx:
    """Run-wide state handed to a workload."""

    def __init__(self, work: str, seed: int, smoke: bool, n_threads: int, tracer) -> None:
        self.work = work
        self.seed = seed
        self.size = SIZES["smoke" if smoke else "full"]
        self.n_threads = n_threads
        self.tracer = tracer
        self.group = None  # set by the harness: callable(name) -> context

    def span(self, name: str):
        return self.tracer.span(name)


# ---------------------------------------------------------------- helpers

def plan_string(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def plan_fingerprint(plan: str) -> str:
    """Hash of the physical plan's shape: expression ids, plan ids,
    paths and size statistics are stripped, so equal fingerprints mean
    the same plan."""
    s = re.sub(r"#\d+[A-Z]*", "#", plan)
    s = re.sub(r"\[plan_id=\d+\]", "", s)
    s = re.sub(r"(file|dbfs|s3a?):[^\s,\]\)]+", r"\1:", s)
    s = re.sub(r"\d{5,}", "N", s)
    return hashlib.sha256(s.encode()).hexdigest()[:16]


def shuffle_exchanges(plan: str) -> int:
    """Shuffle Exchange nodes in a physical plan (broadcasts excluded)."""
    return sum(
        1 for line in plan.splitlines()
        if line.strip().lstrip("+-*: ").startswith("Exchange ")
    )


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(dirpath, f))
    return total


def column_bytes(files: list[str], columns: set[str]) -> int:
    """Stored (compressed) bytes of ``columns`` in parquet ``files``:
    what a scan of those columns must read."""
    total = 0
    for f in files:
        md = pq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            group = md.row_group(rg)
            for c in range(group.num_columns):
                chunk = group.column(c)
                if chunk.path_in_schema.split(".")[0] in columns:
                    total += chunk.total_compressed_size
    return total


def parquet_files(path: str) -> list[str]:
    return sorted(
        os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")
    )


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def flagship_tiles() -> list:
    """The flagship tile set of the frozen bench.py: the declared
    polygon, rect and cap tiles plus five boxes over further cities."""
    import __spark_entry__ as entry

    tiles = list(entry.PIP_TILES) + list(entry.RECT_TILES) + list(entry.CAP_TILES)
    for c in range(6, 16, 2):
        lat, lng = inputs.city(c)
        ring = [
            [lng - 0.8, lat - 0.5], [lng + 0.8, lat - 0.5],
            [lng + 0.8, lat + 0.5], [lng - 0.8, lat + 0.5],
            [lng - 0.8, lat - 0.5],
        ]
        tiles.append((f"box_c{c}", {"type": "Polygon", "coordinates": [ring]}))
    return tiles


def amplified_pages(spark: SparkSession, sf_dir: str, amplify: int) -> DataFrame:
    """The pages table, each row replicated ``amplify`` times under the
    url ``<url>#<replica>`` (so the dedup keeps its cardinality)."""
    from s2js_spark.spark.pages import pages

    p = pages(spark, sf_dir).select("url", "warc_ts", "html", "text", "lang", "doc_id")
    if amplify == 1:
        return p
    rep = p.repartition(spark.sparkContext.defaultParallelism * 4).withColumn(
        "rep", F.explode(F.sequence(F.lit(0), F.lit(amplify - 1)))
    )
    return rep.withColumn("url", F.concat_ws("#", "url", F.col("rep").cast("string"))).drop("rep")


def pages_chain(spark: SparkSession, scan: DataFrame, ts, exact_residuals: bool) -> list:
    """(cut name, DataFrame) for each prefix of the flagship plan."""
    from s2js_spark.spark import sqlkernels
    from s2js_spark.spark.pipeline import dedup_latest, extract_geotags
    from s2js_spark.spark.tagjoin import tag_tiles_pairs

    scan = scan.select("url", "warc_ts", "html", "doc_id")
    ext = extract_geotags(scan)
    ded = dedup_latest(ext)
    geo = ded.select("url", "lat", "lng")
    enc = sqlkernels.with_s2_cellid(
        geo.filter(F.col("lat").isNotNull() & F.col("lng").isNotNull()),
        "lat", "lng", out_col="cellid",
    )
    pairs = tag_tiles_pairs(spark, geo, ts, exact_residuals=exact_residuals, cellid_col="cellid")
    roll = pairs.groupBy("tile_i").count()
    return list(zip(CUTS, [
        scan, ext.drop("html"), ded.select("url", "lat", "lng"), enc, pairs, roll,
    ]))


# -------------------------------------------------------------- workloads

class Workload:
    name = ""
    exact_residuals = True
    warm_ops = 1  # fewest warm-up operations
    warm_max = 1  # most warm-up operations (see Run.warm_up)
    min_ops = 0  # fewest operations in the measured window

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.size = ctx.size
        self.round = 0
        self.ts = None
        self.expected = None
        self.pages_per_op = 0
        self.sf_dir = ""

    # set-up -----------------------------------------------------------
    def _round_dir(self) -> str:
        self.round += 1
        d = os.path.join(self.ctx.work, f"round{self.round}")
        os.makedirs(d, exist_ok=True)
        return d

    def ingest(self, spark: SparkSession) -> None:
        raise NotImplementedError

    def attach(self, spark: SparkSession) -> None:
        """Re-attach the stored inputs to a fresh session."""

    def prepare(self, spark: SparkSession) -> None:
        raise NotImplementedError

    # operations -------------------------------------------------------
    def op(self, spark: SparkSession, i: int):
        raise NotImplementedError

    def check(self, out, i: int) -> bool:
        raise NotImplementedError

    def op_frame(self, spark: SparkSession) -> DataFrame:
        """The DataFrame one operation executes, for plan records."""
        raise NotImplementedError

    # traced run -------------------------------------------------------
    def chain(self, spark: SparkSession) -> list:
        raise NotImplementedError

    def chain_tileset(self):
        return self.ts

    def scan_bytes(self) -> int:
        """Stored bytes the ``storage.scan`` cut reads."""
        raise NotImplementedError


class _StoredPages(Workload):
    """Shared set-up of the workloads over the url-bucketed pages table."""

    amplify = 1
    fixed_tiles = True

    def ingest(self, spark: SparkSession) -> None:
        from s2js_spark.spark.storage import ensure_bucketed
        from s2js_spark.spark.tiles import build_tileset

        d = self._round_dir()
        self.sf_dir = os.path.join(d, "sf")
        inputs.write_sf_dir(self.sf_dir, self.size["docs"], 8, self.ctx.seed)
        self.path = os.path.join(d, "pages")
        self.table = f"pages_r{self.round}"
        self.buckets = 4 * self.ctx.n_threads
        ensure_bucketed(
            spark, lambda: amplified_pages(spark, self.sf_dir, self.amplify),
            self.path, self.table, key="url", n_buckets=self.buckets,
        )
        if self.fixed_tiles:
            with self.ctx.span("tiles.build_tileset"):
                self.ts = build_tileset(self.tiles(), max_cells=48)

    def tiles(self) -> list:
        return flagship_tiles()

    def attach(self, spark: SparkSession) -> None:
        """Re-register the stored table; a fresh session also rebuilds
        its tile set (no cache survives the session)."""
        from s2js_spark.spark.storage import ensure_bucketed
        from s2js_spark.spark.tiles import build_tileset

        ensure_bucketed(spark, None, self.path, self.table, key="url", n_buckets=self.buckets)
        if self.fixed_tiles:
            with self.ctx.span("tiles.build_tileset"):
                self.ts = build_tileset(self.tiles(), max_cells=48)

    def prepare(self, spark: SparkSession) -> None:
        self.base = oracle.base_pages(self.sf_dir)
        self.pages_per_op = len(self.base) * self.amplify
        if self.fixed_tiles:
            members = oracle.scalar_membership(self.base, oracle.shapes_of(self.tiles()))
            self.expected = {
                t: len(idx) * self.amplify for t, idx in enumerate(members) if len(idx)
            }

    def chain(self, spark: SparkSession) -> list:
        return pages_chain(spark, spark.table(self.table), self.chain_tileset(), self.exact_residuals)

    def scan_bytes(self) -> int:
        return column_bytes(parquet_files(self.path), {"url", "warc_ts", "html", "doc_id"})


class Flagship(_StoredPages):
    """Warm flagship pass: bucketed scan -> geotag parse -> dedup ->
    SQL encode -> covering join + refinement -> per-tile counts."""

    name = "flagship"
    exact_residuals = False
    warm_ops = warm_max = 6

    def __init__(self, ctx: Ctx) -> None:
        super().__init__(ctx)
        self.amplify = self.size["amplify"]

    def op_frame(self, spark: SparkSession) -> DataFrame:
        from s2js_spark.spark.pipeline import dedup_latest, extract_geotags
        from s2js_spark.spark.tagjoin import tag_tiles_pairs

        span = self.ctx.span
        with span("pipeline.extract_geotags"):
            df = extract_geotags(spark.table(self.table))
        with span("pipeline.dedup_latest"):
            df = dedup_latest(df)
        with span("tagjoin.tag_tiles_pairs"):
            pairs = tag_tiles_pairs(
                spark, df.select("url", "lat", "lng"), self.ts,
                exact_residuals=False, cellid_col="cellid",
            )
        return pairs.groupBy("tile_i").count()

    def op(self, spark: SparkSession, i: int):
        agg = self.op_frame(spark)
        with self.ctx.span("tagjoin.plan"):
            agg._jdf.queryExecution().executedPlan()
        rows = agg.collect()
        return {int(r["tile_i"]): int(r["count"]) for r in rows}

    def check(self, out, i: int) -> bool:
        return out == self.expected

    # the checkpoint layer, measured in the traced run ------------------
    def sink(self, spark: SparkSession, i: int) -> dict:
        """``tag_pipeline`` output over the stored table, ``text``
        carried, written through ``resumable_write_bucketed`` to a fresh
        location."""
        from s2js_spark.spark.checkpoint import resumable_write_bucketed
        from s2js_spark.spark.pipeline import tag_pipeline

        df = tag_pipeline(spark, spark.table(self.table), self.ts)
        path = os.path.join(self.ctx.work, "sink", f"op{i}")
        table = f"sink_op{i}"
        with self.ctx.span("checkpoint.write"):
            rep = resumable_write_bucketed(
                df, path, table, stage="tags", input_fingerprint=f"seed{self.ctx.seed}",
                key_col="url", n_buckets=16,
            )
        return {"path": path, "table": table, "rows": rep.rows_written}

    def check_sink(self, out: dict) -> bool:
        """Row count equals the flagship tag total and every row keeps
        the sha256 of its input page's text."""
        if not hasattr(self, "sha_by_url"):
            self.sha_by_url = dict(zip(self.base["url"], self.base["text_sha"]))
        t = pq.read_table(parquet_files(out["path"]), columns=["url", "text"])
        want_rows = sum(self.expected.values())
        if t.num_rows != want_rows or out["rows"] != want_rows:
            return False
        want = self.sha_by_url
        return all(
            hashlib.sha256(text.encode()).hexdigest() == want.get(url.rsplit("#", 1)[0])
            for url, text in zip(t.column("url").to_pylist(), t.column("text").to_pylist())
        )


class ColdTiles(_StoredPages):
    """A new seeded polygon tile set per operation: ``build_tileset``
    then ``tag_tiles_pairs`` over the stored geotagged pages, every plan
    cache missed. Set-up extracts and dedups the geotags once, so the
    operation does no html parsing and its wall is the coverer,
    planning, codegen and the winding refinement."""

    name = "cold_tiles"
    fixed_tiles = False
    warm_ops, warm_max = 4, 8
    min_ops = 6  # a few-second operation: more samples behind the median

    def __init__(self, ctx: Ctx) -> None:
        super().__init__(ctx)
        self._tiles = {}

    def op_tiles(self, i: int) -> list:
        if i not in self._tiles:
            s = self.size
            self._tiles = {i: inputs.polygon_tiles(
                self.ctx.seed, i, s["small_polys"], s["small_vertices"],
                s["big_polys"], s["big_vertices"],
            )}
        return self._tiles[i]

    def ingest(self, spark: SparkSession) -> None:
        from s2js_spark.spark.pipeline import dedup_latest, extract_geotags

        super().ingest(spark)
        self.geo_path = os.path.join(os.path.dirname(self.path), "geo")
        dedup_latest(extract_geotags(spark.table(self.table))).filter(
            F.col("lat").isNotNull()
        ).select("url", "lat", "lng").write.parquet(self.geo_path)
        self.geo_df = spark.read.parquet(self.geo_path)

    def attach(self, spark: SparkSession) -> None:
        super().attach(spark)
        self.geo_df = spark.read.parquet(self.geo_path)

    def prepare(self, spark: SparkSession) -> None:
        super().prepare(spark)
        self.geo_base = self.base[self.base["lat"].notna()].reset_index(drop=True)
        self.pages_per_op = len(self.geo_base)

    def op_frame(self, spark: SparkSession, i: int | None = None) -> DataFrame:
        """Operation ``i``'s frame; without ``i``, the last one's."""
        from s2js_spark.spark.tagjoin import tag_tiles_pairs
        from s2js_spark.spark.tiles import build_tileset

        if i is None:
            return self.last_frame
        tiles = self.op_tiles(i)
        with self.ctx.span("tiles.build_tileset"):
            self.ts = build_tileset(tiles, max_cells=self.size["cold_max_cells"])
        with self.ctx.span("tagjoin.tag_tiles_pairs"):
            self.last_frame = tag_tiles_pairs(spark, self.geo_df, self.ts).select("url", "tile_i")
        return self.last_frame

    def op(self, spark: SparkSession, i: int):
        df = self.op_frame(spark, i)
        with self.ctx.span("tagjoin.plan"):
            df._jdf.queryExecution().executedPlan()
        rows = df.collect()
        return sorted((r["url"], int(r["tile_i"])) for r in rows)

    def check(self, out, i: int) -> bool:
        members = oracle.scalar_membership(self.geo_base, oracle.shapes_of(self.op_tiles(i)))
        urls = self.geo_base["url"]
        want = sorted((urls[j], t) for t, idx in enumerate(members) for j in idx)
        return out == want


class QueryMix(Workload):
    """One pass of the declared queries ``MIX`` at sf0.01 size, each
    result compared with its DuckDB oracle (the query-surface probe of
    the flagship's traced run)."""

    name = "query_mix"

    def ingest(self, spark: SparkSession) -> None:
        d = self._round_dir()
        self.sf_dir = os.path.join(d, "sf")
        inputs.write_sf_dir(self.sf_dir, self.size["mix_docs"], self.size["mix_vecs"], self.ctx.seed)

    def prepare(self, spark: SparkSession) -> None:
        self.expected = oracle.query_oracles(self.sf_dir, MIX)
        self.q_wall: dict[str, list[float]] = {n: [] for n in MIX}

    def op(self, spark: SparkSession, i: int):
        import __spark_entry__ as entry

        qs = entry.queries()
        out = {}
        for n in MIX:
            with self.ctx.group(f"query:{n}:{i}"), self.ctx.span(f"query.{n}"):
                t0 = time.perf_counter()
                out[n] = qs[n](spark, self.sf_dir).toPandas()
                self.q_wall[n].append(time.perf_counter() - t0)
        return out

    def check(self, out, i: int) -> bool:
        return all(oracle.same_frame(out[n], self.expected[n]) for n in MIX)


# query_mix runs as a probe inside the flagship's traced run, not as a
# workload: its first pass (planning and compiling every query) made a
# run too long for the benchmark's time budget on a slow host.
WORKLOADS = {w.name: w for w in (Flagship, ColdTiles)}


def plan_record(spark: SparkSession, wl: Workload) -> dict:
    """Physical-plan fingerprint, dedup-exchange flag and plan size of
    the workload's operation, so a wall change with an unchanged plan
    can be attributed at a glance."""
    from s2js_spark.spark.pipeline import dedup_latest, extract_geotags
    from s2js_spark.spark.storage import no_exchange_before_window

    plan = plan_string(wl.op_frame(spark))
    return {
        "fingerprint": plan_fingerprint(plan),
        "dedup_exchange_free": no_exchange_before_window(
            dedup_latest(extract_geotags(spark.table(wl.table)))
        ),
        "plan_bytes": len(plan),
        "shuffle_exchanges": shuffle_exchanges(plan),
    }


def median(vals) -> float:
    return float(np.median(np.asarray(vals, dtype=np.float64))) if len(vals) else 0.0
