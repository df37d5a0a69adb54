"""The benchmark's workloads.

Each workload drives the engine only through its public functions. A
workload has four phases:

  stage(ctx)   make the seeded inputs and write them to disk (no Spark)
  open(ctx)    per Spark session: read the inputs, build broadcasts
  rep(ctx, i)  one complete operation; returns (output signature, errors)
  check(ctx)   sampled oracle checks, run once per run
  layers(ctx)  extra per-layer measurements, traced runs only

A rep's output signature must be identical on every rep of a run; the
errors list holds oracle mismatches found in that rep's output.
"""

from __future__ import annotations

import math
import os
import pickle
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from gdal_spark import (checkpoint, ehdr, geomlite, geotiff, index, joins, knn,
                        skew, synth, tiling)
from gdal_spark.cells import np_geo_cell
from gdal_spark.functions import text as TX

import checks
import gen
import harness as H

ZOOM = 12
OUT_COLS = ["doc_id", "zone_id", "eas_id", "lon", "lat", "tile_x", "tile_y", "quadkey"]


def timed(fn, reps: int = 3):
    """Median wall seconds of `reps` calls after one warm call."""
    fn()
    ts = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return H.median(ts)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def probe(spark, path: str, col: str) -> None:
    """Engine-independent drift probe over a staged input: a parquet scan
    + hash aggregate in the JVM, and the same scan through one Python
    worker round trip. Its plans never change with the engine."""

    def count_rows(batches):  # nested, so workers unpickle it by value
        for pdf in batches:
            yield pd.DataFrame({"n": [len(pdf)]})

    df = spark.read.parquet(path).select(col)
    df.select(F.sum(F.xxhash64(col)), F.count("*")).collect()
    df.mapInPandas(count_rows, "n long").agg(F.sum("n")).collect()


def pip_sample(wl, ctx, k: int, mode: str) -> list[tuple[str, list[str]]]:
    """Join + tiles on k sampled docs of `wl` against the brute-force PIP
    oracle and the tile recomputation."""
    idx = gen.sample(wl.items, k, ctx.seed)
    ids = wl.docs.doc_id[idx]
    pdf = pd.DataFrame({"doc_id": ids, "geom_wkt": wl.docs.wkt[idx]})
    got = tiling.assign_tiles(joins.pip_join(
        wl.df.filter(F.col("doc_id").isin(list(ids))), wl.zidx, mode=mode), ZOOM)
    got = got.select(*OUT_COLS).toPandas().sort_values("doc_id")
    out = [(f"pip_{mode}", checks.pip_rows(got, pdf, wl.zones, mode)),
           (f"tiles_{mode}", checks.tile_cols(got, ZOOM))]
    if mode == "first":
        out.append(("rep_points", checks.rep_points(got, wl.docs.lon[idx], wl.docs.lat[idx])))
    return out


# ------------------------------------------------------------- documents
class PipTile:
    """Headline read path: first-match PIP join + zoom-12 tiles into an
    aggregate sink that forces every output column."""

    name, unit = "pip_tile", "docs"
    probe_ref_s = 0.7  # fixed scale near the drift probe's baseline median (README.md)
    n_docs, n_files, n_zones = 200_000, 16, 10_000

    def __init__(self, scale: float):
        self.scale = scale

    def stage(self, ctx) -> None:
        self.items = max(2000, int(self.n_docs * self.scale))
        self.docs, table = gen.documents(self.items, ctx.seed)
        self.docs_path = os.path.join(ctx.data_dir, "docs")
        gen.write_parquet(table, self.docs_path, self.n_files)
        g = max(4, int(math.sqrt(self.n_zones * self.scale)))
        self.zones = synth.zones_np(g * g, seed=ctx.seed)

    def open(self, ctx) -> None:
        self.df = ctx.spark.read.parquet(self.docs_path)
        t0 = time.perf_counter()
        self.zidx = index.zone_index(ctx.spark, self.zones)
        ctx.note("index.build_s", time.perf_counter() - t0)

    def probe(self, ctx) -> None:
        probe(ctx.spark, self.docs_path, "doc_id")

    def rep(self, ctx, i):
        out = tiling.assign_tiles(joins.pip_join(self.df, self.zidx, mode="first"), ZOOM)
        agg = out.select(
            F.count("*").alias("rows"),
            F.sum(F.col("zone_id").isNull().cast("long")).alias("null_rows"),
            F.sum(F.col("geom_wkt").startswith("POLYGON").cast("long")).alias("poly_rows"),
            F.sum(F.coalesce("zone_id", F.lit(-1))).alias("zsum"),
            F.sum(F.coalesce("eas_id", F.lit(-1))).alias("esum"),
            F.sum(F.xxhash64("doc_id", "lon", "lat")).alias("pt_hash"),
            F.sum(F.xxhash64("zoom", "tile_x", "tile_y", "quadkey")).alias("tile_hash"),
            F.sum(F.size("spans")).alias("spans"),
        )
        row = agg.collect()[0].asDict()
        self.last = agg
        errs = []
        if row["rows"] != self.items or row["poly_rows"] != int(self.docs.is_poly.sum()):
            errs.append(f"sink: {row['rows']} rows / {row['poly_rows']} polygons, "
                        f"want {self.items} / {int(self.docs.is_poly.sum())}")
        self.counts = row
        return tuple(sorted(row.items())), errs

    def check(self, ctx):
        return pip_sample(self, ctx, 300, "first")

    def layers(self, ctx, judge) -> dict:
        d = self.df
        prefixes = [
            ("scan.s", d.select("doc_id")),
            ("spans.decode_s", d.select("doc_id", "spans")),
            ("joins.geom_select_s",
             d.select("doc_id", "spans").withColumn("geom_wkt", joins.geom_wkt_col())),
        ]
        prefixes.append(("joins.pip_s", joins.pip_join(prefixes[-1][1], self.zidx, "first")))
        prefixes.append(("tiling.assign_tiles_s", tiling.assign_tiles(prefixes[-1][1], ZOOM)))
        # rounds interleave the prefixes, so host drift hits all alike
        times = {name: [] for name, _ in prefixes}
        for r in range(6):
            for name, df in prefixes:
                with ctx.tracer.span("prefix." + name):
                    t0 = time.perf_counter()
                    noop(df)
                    if r:  # round 0 warms
                        times[name].append(time.perf_counter() - t0)
        out, prev = {}, 0.0
        for name, _ in prefixes:
            t = H.median(times[name])
            out[name] = t - prev
            prev = t

        nodes = H.plan_metrics(self.last)
        out["scan.bytes"] = H.metric_sum(nodes, "Scan parquet", "filesSize")
        out["scan.files"] = H.metric_sum(nodes, "Scan parquet", "numFiles")
        out["joins.codegen_s"] = H.metric_sum(nodes, "WholeStageCodegen", "pipelineTime")
        out["arrow.python_s"] = H.metric_sum(nodes, "ArrowEvalPython", "pythonTotalTime")
        out["arrow.bytes_sent"] = H.metric_sum(nodes, "ArrowEvalPython", "pythonDataSent")
        out["arrow.bytes_recv"] = H.metric_sum(nodes, "ArrowEvalPython", "pythonDataReceived")
        out["joins.rows_out"] = self.counts["rows"]
        out["joins.null_rows"] = self.counts["null_rows"]
        out["joins.poly_rows"] = self.counts["poly_rows"]

        # Spark-free ceilings and the cover's own size / selectivity
        cov = self.zidx.bc.value
        lon, lat = gen.kernel_batch(200_000, ctx.seed)
        cell = np_geo_cell(lon, lat, cov.level)
        with ctx.tracer.span("index.kernel"):
            t = timed(lambda: index.first_match_packed(cov, cell, lon, lat))
        out["index.kernel_pts_per_s"] = len(lon) / t
        polys = self.docs.wkt[self.docs.is_poly]
        with ctx.tracer.span("geomlite.poly_parse"):
            t = timed(lambda: geomlite.parse_wkt_objs(polys))
        out["geomlite.poly_parse_rows_per_s"] = len(polys) / t
        out["index.cover_bytes"] = len(pickle.dumps(cov, protocol=pickle.HIGHEST_PROTOCOL))
        pos = np.searchsorted(cov.cells, cell)
        pos = np.minimum(pos, len(cov.cells) - 1)
        hit = cov.cells[pos] == cell
        out["index.cands_per_point"] = float(
            np.where(hit, cov.off[pos + 1] - cov.off[pos], 0).mean())

        wp = WritePath(self, ctx)
        return out | wp.layers(ctx, judge) | Corpus(wp, ctx).layers(ctx, judge)


class WritePath:
    """The write path, on the first `files` staged files of the headline
    documents: 'all'-mode join + tiles through Checkpointer.stage, a
    cell-prefix range layout, a quadkey-prefix range query over it, and
    a resume that re-reads the checkpoint. Run in traced runs only; see
    README.md for why it has no end-to-end workload of its own."""

    files, layout_parts, reps = 4, 8, 2

    def __init__(self, wl, ctx):
        paths = sorted(os.listdir(wl.docs_path))[: self.files]
        self.df = ctx.spark.read.parquet(*(os.path.join(wl.docs_path, p) for p in paths))
        self.items = min(wl.items, self.files * -(-wl.items // wl.n_files))
        self.docs = gen.head(wl.docs, self.items)
        self.zidx, self.zones = wl.zidx, wl.zones
        _, _, qk = checks.tiles(self.docs.lon, self.docs.lat, ZOOM)
        self.prefix = qk[gen.sample(self.items, 1, ctx.seed, stream=31)[0]][:2]
        self.prefix_docs = int(sum(1 for q in qk if q.startswith(self.prefix)))

    def build(self):
        out = tiling.assign_tiles(joins.pip_join(self.df, self.zidx, mode="all"), ZOOM)
        return out.select(*OUT_COLS)

    def rep(self, ctx, i):
        root = os.path.join(ctx.data_dir, f"ckpt{i}")
        tr = ctx.tracer
        ck = checkpoint.Checkpointer(ctx.spark, root, run_id=f"rep{i}")
        with tr.span("checkpoint.stage"):
            staged = ck.stage("pip_all", self.build)
        layout = os.path.join(root, "layout")
        with tr.span("skew.layout"):
            skew.repartition_by_cell_prefix(staged, "quadkey", 3, self.layout_parts) \
                .write.mode("overwrite").parquet(layout)
        q = ctx.spark.read.parquet(layout) \
            .filter(F.col("quadkey").startswith(self.prefix)) \
            .agg(F.count("*").alias("rows"), F.countDistinct("doc_id").alias("docs"))
        with tr.span("layout.query"):
            qrow = q.collect()[0]
        self.last_query = q

        def no_rebuild():
            raise RuntimeError("resume rebuilt an existing checkpoint")

        with tr.span("checkpoint.resume"):
            resumed = checkpoint.Checkpointer(ctx.spark, root, run_id=f"rep{i}") \
                .stage("pip_all", no_rebuild).count()

        nbytes, _ = H.dir_bytes(root)
        self.stage_bytes, self.stage_files = H.dir_bytes(os.path.join(root, "pip_all"))
        self.out_bytes = nbytes
        shutil.rmtree(root, ignore_errors=True)
        errs = []
        if qrow["docs"] != self.prefix_docs:
            errs.append(f"range query: {qrow['docs']} docs under quadkey "
                        f"{self.prefix}, want {self.prefix_docs}")
        if resumed < self.items:
            errs.append(f"resume: {resumed} rows for {self.items} docs")
        return (resumed, qrow["rows"], qrow["docs"]), errs

    def layers(self, ctx, judge) -> dict:
        tr = ctx.tracer
        sig, errs = self.rep(ctx, -1)
        judge(errs, "write path warm-up")
        for i in range(self.reps):
            tr.rep = f"write{i}"
            got, errs = self.rep(ctx, i)
            judge(errs + ([] if got == sig else ["output differs from warm-up"]),
                  f"write path rep {i}")
        tr.rep = None

        for name, errs in pip_sample(self, ctx, 200, "all"):
            judge(errs, name)

        nodes = H.plan_metrics(self.last_query)
        scanned = H.metric_sum(nodes, "Scan parquet", "numOutputRows")
        kept = H.metric_sum(nodes, "Filter", "numOutputRows")
        return {
            "checkpoint.bytes_written": self.stage_bytes,
            "checkpoint.files_written": self.stage_files,
            "layout.files_read": H.metric_sum(nodes, "Scan parquet", "numFiles"),
            "layout.rows_kept_ratio": kept / scanned if scanned else 0.0,
            "out_bytes_per_doc": self.out_bytes / self.items,
        }


# ---------------------------------------------------------------- raster
class RasterTiles:
    """GeoTIFF and EHdr round trips, an overview level and a warp over a
    staged 256x256 uint8 tile table."""

    name, unit = "raster_tiles", "tiles"
    probe_ref_s = 0.47  # fixed scale near the drift probe's baseline median (README.md)
    grid = 2  # grid x grid source tiles

    def __init__(self, scale: float):
        self.scale = scale  # the tile count is fixed; scale is unused

    def stage(self, ctx) -> None:
        g = self.grid
        self.ntx = self.nty = g
        self.items = g * g
        res = 2 * math.pi * synth.EARTH_RADIUS / 256 / (2 ** ZOOM)
        self.res, self.origin = res, -math.pi * synth.EARTH_RADIUS
        rows = {f.name: [] for f in synth.TILE_SCHEMA.fields}
        self.image = np.zeros((g * 256, g * 256), dtype=np.uint8)
        for ty in range(g):
            for tx in range(g):
                px = synth.tile_pixels_np(tx, ty, seed=ctx.seed)
                self.image[ty * 256:(ty + 1) * 256, tx * 256:(tx + 1) * 256] = px
                gt = [self.origin + tx * 256 * res, res, 0.0,
                      self.origin + (g - ty) * 256 * res, 0.0, -res]
                for k, v in (("raster_id", "src"), ("band", 1), ("zoom", ZOOM),
                             ("tile_x", tx), ("tile_y", ty), ("width", 256),
                             ("height", 256), ("dtype", "uint8"), ("nodata", 0.0),
                             ("crs", "EPSG:3857"), ("geotransform", gt),
                             ("data", px.tobytes())):
                    rows[k].append(v)
        i32 = pa.int32()
        types = {"band": i32, "zoom": i32, "tile_x": i32, "tile_y": i32,
                 "width": i32, "height": i32}
        table = pa.table({k: pa.array(v, types.get(k)) for k, v in rows.items()})
        self.src_path = os.path.join(ctx.data_dir, "tiles")
        os.makedirs(self.src_path, exist_ok=True)
        pq.write_table(table, os.path.join(self.src_path, "part-00000.parquet"))

    def open(self, ctx) -> None:
        self.tiles = ctx.spark.read.parquet(self.src_path)

    def probe(self, ctx) -> None:
        probe(ctx.spark, self.src_path, "data")

    def rep(self, ctx, i):
        tr, spark = ctx.tracer, ctx.spark
        tif = os.path.join(ctx.data_dir, f"r{i}.tif")
        bil = os.path.join(ctx.data_dir, f"r{i}.bil")
        self.frames = []

        def cks(df):
            c = tiling.checksum_table(df)
            self.frames.append(c)
            return c.toPandas()

        with tr.span("geotiff.write"):
            geotiff.write_geotiff(self.tiles, tif)
        with tr.span("geotiff.read"):
            tif_ck = cks(geotiff.read_geotiff(spark, tif))
        with tr.span("tiling.overview"):
            ov_ck = cks(tiling.build_overview(self.tiles))
        top = self.origin + self.nty * 256 * self.res
        with tr.span("tiling.warp"):
            warp_ck = cks(tiling.warp_affine(
                self.tiles, src_zoom_origin=(self.origin, top), src_res=self.res,
                dst_origin=(self.origin, top), dst_res=self.res * 2,
                dst_tiles_x=max(1, self.ntx // 2), dst_tiles_y=max(1, self.nty // 2),
                kernel="bilinear"))
        with tr.span("ehdr.write"):
            ehdr.write_ehdr(self.tiles, bil)
        with tr.span("ehdr.read"):
            bil_ck = cks(ehdr.read_ehdr(spark, bil))
        for f in os.listdir(ctx.data_dir):
            if f.startswith((f"r{i}.", f".r{i}.")):
                os.remove(os.path.join(ctx.data_dir, f))

        errs = (checks.raster_checksums(tif_ck, self.image, "src", "geotiff round trip")
                + checks.raster_checksums(bil_ck, self.image, "src", "ehdr round trip"))
        sig = tuple(sorted(zip(ov_ck.tile_x, ov_ck.tile_y, ov_ck.checksum))) + \
            tuple(sorted(zip(warp_ck.tile_x, warp_ck.tile_y, warp_ck.checksum)))
        return sig, errs

    def check(self, ctx):
        return []  # every rep checks its round trips against the source

    def layers(self, ctx, judge) -> dict:
        py = 0.0
        for df in self.frames:
            nodes = H.plan_metrics(df)
            py += sum(m.get("pythonTotalTime", 0) for _, m in nodes)
        return {"arrow.python_s": py}


# ---------------------------------------------------------------- corpus
class Corpus:
    """kNN over the docs' representative points and minhash near-dup
    detection over their text spans, on the write path's documents. Run
    once per traced run; see README.md for why these layers have no
    end-to-end workload of their own."""

    n_queries, n_checked = 64, 8

    def __init__(self, wl, ctx):
        self.wl = wl
        self.queries = synth.knn_queries_np(self.n_queries, seed=ctx.seed)
        qi = gen.sample(self.n_queries, self.n_checked, ctx.seed, stream=32)
        self.checked = self.queries.iloc[qi]

    def text_df(self):
        text = F.concat_ws(" ", F.transform(
            F.filter("spans", lambda s: s["kind"] == "text"), lambda s: s["text"]))
        return self.wl.df.select("doc_id", text.alias("text"))

    def layers(self, ctx, judge) -> dict:
        tr, spark, wl, docs = ctx.tracer, ctx.spark, self.wl, self.wl.docs
        out = {}
        q_df = spark.createDataFrame(self.queries)
        with tr.span("knn.join") as s:
            pts = joins.extract_geom(wl.df).select("doc_id", "lon", "lat")
            res = knn.knn_join_distributed(spark, pts, q_df).toPandas()
        out["knn.join_s"] = tr.duration(s)
        out["knn.jobs"] = H.job_counts(spark.sparkContext, tr.groups_under(s))[0]
        judge(checks.knn(res, self.checked, docs.doc_id, docs.lon, docs.lat), "knn")

        with tr.span("text.dedup") as s:
            pairs = TX.minhash_dedup(self.text_df(), "text", "doc_id") \
                .select("id_a", "id_b").collect()
        dedup_s = tr.duration(s)
        spark.catalog.clearCache()
        pairs = {(r.id_a, r.id_b) for r in pairs}
        recall = checks.planted_recall(pairs, docs.dup_pairs)
        judge([] if recall == 1.0 else [f"recall of planted pairs {recall:.3f} < 1"],
              "minhash")

        sigs = TX.minhash_signatures(self.text_df(), "text", "doc_id")
        with tr.span("text.signatures"):
            out["text.signatures_s"] = timed(lambda: noop(sigs), reps=1)
        out["text.lsh_s"] = dedup_s - out["text.signatures_s"]
        cands = TX.lsh_candidates(TX.minhash_signatures(self.text_df(), "text", "doc_id"),
                                  "doc_id").count()
        spark.catalog.clearCache()
        out["text.pairs_kept_ratio"] = len(pairs) / cands if cands else 0.0

        with tr.span("prefix.geom_select"):
            base = timed(lambda: noop(wl.df.select("doc_id", joins.geom_wkt_col())))
        with tr.span("prefix.extract_geom"):
            t = timed(lambda: noop(joins.extract_geom(wl.df).select("doc_id", "lon", "lat")))
        out["joins.extract_geom_s"] = t - base
        idx = gen.sample(wl.items, 300, ctx.seed)
        got = joins.extract_geom(wl.df.filter(F.col("doc_id").isin(list(docs.doc_id[idx])))) \
            .select("doc_id", "lon", "lat").toPandas().sort_values("doc_id")
        judge(checks.rep_points(got, docs.lon[idx], docs.lat[idx]), "extract_geom")
        return out


WORKLOADS = {w.name: w for w in (PipTile, RasterTiles)}
