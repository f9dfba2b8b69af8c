"""The three benchmark workloads.

Each workload is a closed loop with one client: the benchmark runs
one complete, checked iteration after another. ``setup`` writes the
workload's fixtures through the engine's own writers; ``iterate`` is
one untraced iteration; ``traced`` is the same work as spans (see
``perfbench.trace``). Every iteration checks its outputs against the
answers computed once per seed in ``expect`` and raises
``CheckFailed`` on a mismatch.

Every workload reports the same end-to-end figures: ``wall_s`` (one
iteration) and ``rows_per_s`` (input rows through the workload's main
stage per second of that stage: documents through the join on
vector_join, pixels through the decode on raster_tiles, documents
through the two stages on checkpointed_ingest).
``named`` carries the workload's own figures under their own names.
"""

from __future__ import annotations

import os
import shutil
from pathlib import Path

import numpy as np
from pyspark.sql import functions as F

from georaster_spark.cells import cell_encode_cols
from georaster_spark.datagen import (
    XYZ_TILE_SIZE,
    XYZ_Z,
    documents_df,
    geocode_cols,
    polygons,
    xyz_tile_pixels_df,
)
from georaster_spark.functions.decode import terrarium_height
from georaster_spark.grid import RasterGeometry
from georaster_spark.operators.knn import knn_table_join
from georaster_spark.operators.raster import (
    build_overview,
    pixels_to_tiles,
    xyz_lookup,
)
from georaster_spark.operators.spatial_join import (
    build_cover,
    cover_df,
    pip_join,
    salted_cell_counts,
)
from georaster_spark.plans import lineage
from georaster_spark.sources import geotiff, icetable
from perfbench.host import dir_bytes, host_cores, now
from perfbench.inputs import (
    JOIN_RES,
    KNN_K,
    KNN_RES,
    KNN_RING,
    RASTER_STRIP,
    RETILE,
    Inputs,
    Oracle,
    overview_of,
    weighted_sum,
)


class CheckFailed(Exception):
    """An iteration produced a wrong output."""


def check(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


def geocoded(docs):
    lon, lat = geocode_cols(F.col("doc_id"))
    return docs.withColumn("lon", lon).withColumn("lat", lat)


def encode(docs):
    return docs.withColumn("cell", cell_encode_cols(F.col("lon"), F.col("lat"), JOIN_RES))


def write_docs(spark, path: str, n: int, offset: int) -> None:
    """Seeded document snapshot: ``doc_id`` = offset + generation index."""
    docs = documents_df(spark, n).withColumn("doc_id", F.col("doc_seq") + F.lit(offset))
    icetable.write_table(docs, path)


def weighted_sum_col():
    """Spark twin of ``inputs.weighted_sum`` over (x, y, value) pixel rows."""
    x, y = F.col("x").cast("long"), F.col("y").cast("long")
    return F.sum(F.col("value").cast("long") * ((x * 31 + y * 17) % 1009 + 1))


def poly_table(rows) -> dict:
    return {r["poly_id"]: (int(r["n"]), int(r["s"])) for r in rows}


# ---------------------------------------------------------- vector join


class VectorJoin:
    """Seeded docs committed once as an ``icetable`` snapshot; each
    iteration runs read_table -> geocode -> cell encode -> pip_join
    over 50 polygons (20 concave) -> per-polygon stats and
    salted_cell_counts.

    The traced iteration then also runs kNN (k=3, 40 POIs) for 1/8 of
    the encoded docs, checked against NumPy brute force. kNN is kept
    out of the timed iteration: it costs about 4 s a call on a 4-core
    host whatever the input size (its plan has several shuffles), so
    it would take two thirds of every iteration and leave one timed
    iteration per run, too few for a steady median."""

    name = "vector_join"

    @staticmethod
    def expect(inp: Inputs, oracle: Oracle) -> dict:
        n = inp.size["join_docs"]
        per_poly, per_cell = oracle.join(n)
        ids = oracle.knn_sample_ids(n)
        every, off = inp.size["knn_every"], inp.doc_offset
        knn_docs = len(range(off + (-off) % every, off + n, every))
        return {"per_poly": per_poly, "per_cell": per_cell, "knn": oracle.knn(ids),
                "knn_docs": knn_docs}

    def __init__(self, spark, inp: Inputs, expected: dict, work: Path):
        self.spark, self.inp, self.exp = spark, inp, expected
        self.n = inp.size["join_docs"]
        self.docs_path = str(work / "docs")
        self.polys = polygons()

    def setup(self) -> None:
        write_docs(self.spark, self.docs_path, self.n, self.inp.doc_offset)

    def _knn_input(self, enc):
        every = self.inp.size["knn_every"]
        return enc.where(F.col("doc_id") % every == 0).select("doc_id", "lon", "lat")

    def _knn(self, docs):
        return knn_table_join(docs, self.inp.pois, KNN_K, KNN_RES, ring=KNN_RING)

    def _knn_summary(self, out):
        sample = F.col("doc_id").isin(list(self.exp["knn"]))
        return out.agg(
            F.count(F.lit(1)).alias("rows"),
            F.collect_list(F.when(sample, F.struct("doc_id", "rank", "poi_id", "dist_m"))).alias("smp"),
        ).collect()[0]

    @staticmethod
    def _poly_stats(joined):
        return joined.groupBy("poly_id").agg(
            F.count(F.lit(1)).alias("n"), F.sum("doc_id").alias("s")
        ).collect()

    def _check_join(self, poly_rows, cell_rows) -> None:
        check(poly_table(poly_rows) == self.exp["per_poly"], "per-polygon counts differ from oracle")
        cells_got = {int(r["cell"]): int(r["n_docs"]) for r in cell_rows}
        check(cells_got == self.exp["per_cell"], "per-cell counts differ from oracle")

    def _check_knn(self, knn_row) -> None:
        check(knn_row["rows"] == KNN_K * self.exp["knn_docs"], "kNN row count")
        got: dict[int, list] = {}
        for r in sorted(knn_row["smp"], key=lambda r: (r["doc_id"], r["rank"])):
            got.setdefault(int(r["doc_id"]), []).append((r["poi_id"], float(r["dist_m"])))
        check(set(got) == set(self.exp["knn"]), "kNN sample docs missing")
        for doc, want in self.exp["knn"].items():
            have = got[doc]
            for (hp, hd), (wp, wd) in zip(have, want):
                check(abs(hd - wd) <= 1e-6 * max(wd, 1.0), f"kNN distance for doc {doc}")
            # a POI swap is only allowed between equal distances
            check(
                [p for p, _ in have] == [p for p, _ in want]
                or sorted(d for _, d in have) == sorted(d for _, d in want),
                f"kNN top-{KNN_K} for doc {doc}",
            )

    def iterate(self) -> dict:
        t0 = now()
        enc = encode(geocoded(icetable.read_table(self.spark, self.docs_path)))
        joined = pip_join(enc, self.polys, JOIN_RES)
        poly_rows = self._poly_stats(joined)
        cell_rows = salted_cell_counts(joined.select("cell", "doc_id")).collect()
        t1 = now()
        self._check_join(poly_rows, cell_rows)
        return {
            "wall_s": now() - t0,
            "rows_per_s": self.n / (t1 - t0),
            "named": {"join_docs_per_s": self.n / (t1 - t0)},
        }

    def traced(self, tr) -> dict:
        t0 = now()
        raw, _ = tr.call("icetable.read_table", lambda: icetable.read_table(self.spark, self.docs_path))
        enc, _ = tr.call("cells.encode", encode, [geocoded(raw)])
        with tr.span("spatial_join.cover_df_s", driver_only=True):
            cover, _ = cover_df(self.spark, self.polys, JOIN_RES)
        joined, (enc_c,) = tr.call(
            "spatial_join.pip_join", lambda d: pip_join(d, self.polys, JOIN_RES), [enc]
        )
        cell_rows, (joined_c,) = tr.call(
            "spatial_join.salted_cell_counts",
            lambda d: salted_cell_counts(d.select("cell", "doc_id")).collect(),
            [joined], force=False,
        )
        poly_rows = self._poly_stats(joined_c)
        self._check_join(poly_rows, cell_rows)
        wall = now() - t0  # the work of ``iterate``, traced
        knn_row, _ = tr.call(
            "knn.knn_table_join", lambda d: self._knn_summary(self._knn(d)),
            [self._knn_input(enc_c)], force=False,
        )
        self._check_knn(knn_row)
        cover_rows = build_cover(self.polys, JOIN_RES)
        candidates = enc_c.join(F.broadcast(cover), "cell").count()
        matches = sum(int(r["n"]) for r in poly_rows)
        per_cell = [int(r["n_docs"]) for r in cell_rows]
        tr.release()
        return {
            "wall_s": wall,
            "counters": {
                "spatial_join.cover_rows": len(cover_rows),
                "spatial_join.cover_full_frac": sum(f for *_, f in cover_rows) / len(cover_rows),
                "spatial_join.candidates": candidates,
                "spatial_join.match_ratio": matches / candidates,
                "spatial_join.hot_key_share": max(per_cell) / sum(per_cell),
                "knn.rows_out": int(knn_row["rows"]),
            },
        }


# -------------------------------------------------------- raster tiles


class RasterTiles:
    """Setup writes a seeded u16 GeoTIFF (Deflate, predictor 2, 64-row
    strips, one 2x max overview IFD). Each iteration decodes the pixels
    (window max and tile-assignment check), builds the overview and
    compares it with the decoded overview IFD, and re-tiles the pixels
    (checked by reassembling the chunks).

    The traced iteration then also writes the XYZ tile table and probes
    seeded docs through the XYZ tile lookup with the terrarium height
    decode, checked against the ``sql_xyz_lookup`` oracle. Like kNN on
    vector_join, the lookup is kept out of the timed iteration: it
    costs about 2.5 s a call on a 4-core host whatever the probe count,
    and with it a run fits too few timed iterations for a steady
    median."""

    name = "raster_tiles"

    @staticmethod
    def expect(inp: Inputs, oracle: Oracle) -> dict:
        arr = inp.raster
        x0, y0, w, h = inp.window
        n = arr.shape[0]
        tiles = {}
        for ty in range(-(-n // RETILE)):
            for tx in range(-(-n // RETILE)):
                th, tw = min(RETILE, n - ty * RETILE), min(RETILE, n - tx * RETILE)
                tiles[ty * (-(-n // RETILE)) + tx] = th * tw
        ov = overview_of(arr)
        return {
            "pixels": arr.size,
            "px_sum": weighted_sum(arr),
            "window_max": int(arr[y0 : y0 + h, x0 : x0 + w].max()),
            "tile_px": tiles,
            "overview": (ov.size, int(ov.max()), weighted_sum(ov)),
            "xyz": oracle.xyz(inp.size["xyz_docs"]),
        }

    def __init__(self, spark, inp: Inputs, expected: dict, work: Path):
        self.spark, self.inp, self.exp = spark, inp, expected
        self.tif = str(work / "raster.tif")
        self.tiles_path = str(work / "xyz_tiles")
        n = inp.raster.shape[0]
        self.geom = RasterGeometry(width=n, height=n, tile_w=RETILE, tile_h=RETILE)
        self.n_probe = inp.size["xyz_docs"]
        self.parts = host_cores()

    def setup(self) -> None:
        os.makedirs(os.path.dirname(self.tif), exist_ok=True)
        n = self.inp.raster.shape[0]
        geotiff.write_tiff(
            self.tif, self.inp.raster, "u16",
            pixel_scale=(2.0 / n, -2.0 / n), origin=(7.0, 47.0),
            rows_per_strip=RASTER_STRIP, overviews=[overview_of(self.inp.raster)],
            compression=geotiff.COMPRESSION_DEFLATE, predictor=2,
        )
        # the written overview IFD, decoded once; iterations compare
        # the engine's overview against it
        self.ifd1 = self._overview_stats(self._pixels(1))

    def _pixels(self, image_idx: int = 0):
        return geotiff.pixels_df(self.spark, [self.tif], image_idx, chunk_partitions=self.parts)

    def _probes(self):
        off = self.inp.doc_offset
        return geocoded(
            self.spark.range(off, off + self.n_probe).withColumnRenamed("id", "doc_id")
        )

    def _decode_stats(self, px):
        x0, y0, w, h = self.inp.window
        in_win = self.geom.window_filter(F.col("x"), F.col("y"), x0, y0, w, h)
        tile = self.geom.tile_index_cols(F.col("x"), F.col("y"))
        return px.groupBy(tile.alias("tile")).agg(
            F.count(F.lit(1)).alias("n"),
            F.max(F.when(in_win, F.col("value"))).alias("win_max"),
            weighted_sum_col().alias("wsum"),
        ).collect()

    @staticmethod
    def _overview_stats(pixels) -> tuple[int, int, int]:
        r = pixels.agg(
            F.count(F.lit(1)).alias("n"), F.max("value").alias("max"),
            weighted_sum_col().alias("wsum"),
        ).collect()[0]
        return int(r["n"]), int(r["max"]), int(r["wsum"])

    def _assemble(self, tile_rows) -> np.ndarray:
        """Re-tiled chunks back into one array (edge chunks are
        stored without their padding)."""
        out = np.full(self.inp.raster.shape, -1.0)
        for r in tile_rows:
            h, w = RETILE - r["pad_down"], RETILE - r["pad_right"]
            y0, x0 = r["tile_row"] * RETILE, r["tile_col"] * RETILE
            out[y0 : y0 + h, x0 : x0 + w] = np.asarray(r["data"]).reshape(h, w)
        return out

    def _xyz(self, points, tile_pixels):
        out = xyz_lookup(points, tile_pixels, XYZ_Z, XYZ_TILE_SIZE)
        h = terrarium_height(F.col("r"), F.col("g"), F.col("b"))
        return out.select("doc_id", F.round(h * 1000000.0, 0).cast("long").alias("height_um"))

    @staticmethod
    def _xyz_stats(hits):
        r = hits.agg(F.count(F.lit(1)), F.sum("doc_id"), F.sum("height_um")).collect()[0]
        return int(r[0]), int(r[1] or 0), int(r[2] or 0)

    def _check(self, dec_rows, ov, tile_rows) -> None:
        e = self.exp
        check({int(r["tile"]): int(r["n"]) for r in dec_rows} == e["tile_px"], "pixels per tile")
        check(sum(int(r["wsum"]) for r in dec_rows) == e["px_sum"], "decoded pixel checksum")
        check(max(r["win_max"] or 0 for r in dec_rows) == e["window_max"], "window max")
        check(self.ifd1 == e["overview"], "decoded overview IFD")
        check(ov == self.ifd1, f"overview {ov} != overview IFD {self.ifd1}")
        check(len(tile_rows) == len(e["tile_px"]), "re-tile chunk count")
        check(np.array_equal(self._assemble(tile_rows), self.inp.raster), "re-tile round trip")

    def iterate(self) -> dict:
        t0 = now()
        px = self._pixels().persist()
        dec_rows = self._decode_stats(px)
        t1 = now()
        ov = self._overview_stats(build_overview(px, 2, "max"))
        tile_rows = pixels_to_tiles(px, self.geom).collect()
        px.unpersist()
        self._check(dec_rows, ov, tile_rows)
        return {
            "wall_s": now() - t0,
            "rows_per_s": self.exp["pixels"] / (t1 - t0),
            "named": {"decode_mpix_per_s": self.exp["pixels"] / 1e6 / (t1 - t0)},
        }

    def traced(self, tr) -> dict:
        t0 = now()
        tr.call("geotiff.chunk_plan_df", lambda: geotiff.chunk_plan_df(self.spark, [self.tif]))
        tr.call("geotiff.pixels_df", self._pixels)
        ov, (px,) = tr.call(
            "raster.build_overview",
            lambda d: self._overview_stats(build_overview(d, 2, "max")),
            [self._pixels()], force=False,
        )
        tile_rows, _ = tr.call(
            "raster.pixels_to_tiles", lambda d: pixels_to_tiles(d, self.geom).collect(),
            [px], force=False,
        )
        dec_rows = self._decode_stats(px)
        self._check(dec_rows, ov, tile_rows)
        wall = now() - t0  # the work of ``iterate``, traced
        icetable.write_table(xyz_tile_pixels_df(self.spark), self.tiles_path)
        xyz, _ = tr.call(
            "raster.xyz_lookup", lambda p, t: self._xyz_stats(self._xyz(p, t)),
            [self._probes(), icetable.read_table(self.spark, self.tiles_path)], force=False,
        )
        check(xyz == self.exp["xyz"], f"xyz hits {xyz} != oracle {self.exp['xyz']}")
        tf = geotiff.open_tiff(self.tif)
        tr.release()
        return {
            "wall_s": wall,
            "counters": {
                "geotiff.chunks": sum(len(im.offsets) for im in tf.images),
                "geotiff.file_bytes": os.path.getsize(self.tif),
                "geotiff.pixels": self.exp["pixels"],
                "raster.tiles_out": len(tile_rows),
                "raster.xyz_hit_ratio": xyz[0] / self.n_probe,
            },
        }


# ------------------------------------------------ checkpointed ingest


class CheckpointedIngest:
    """The flagship job shape from public calls: ``run_stage`` "enrich"
    (geocode + cell encode, with url/text checksums) into a fresh
    ``icetable`` output, ``verify_text_identity``, ``run_stage`` "join"
    (pip_join with a (part, poly_id) rollup), a read-back, then both
    stages again as a no-op resume that must find nothing pending."""

    name = "checkpointed_ingest"

    @staticmethod
    def expect(inp: Inputs, oracle: Oracle) -> dict:
        return {"per_poly": oracle.join(inp.size["ingest_docs"])[0]}

    def __init__(self, spark, inp: Inputs, expected: dict, work: Path):
        self.spark, self.inp, self.exp = spark, inp, expected
        self.n = inp.size["ingest_docs"]
        self.parts = inp.size["parts"]
        self.work = work
        self.docs_path = str(work / "docs")
        self.polys = polygons()
        self.k = 0

    def setup(self) -> None:
        write_docs(self.spark, self.docs_path, self.n, self.inp.doc_offset)

    def _source(self):
        docs = geocoded(icetable.read_table(self.spark, self.docs_path))
        return docs.withColumn("part", F.pmod(F.xxhash64("doc_id"), F.lit(self.parts)))

    def _join(self, enriched):
        return (
            pip_join(enriched, self.polys, JOIN_RES)
            .groupBy("part", "poly_id")
            .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("doc_id").alias("sum_doc_id"))
        )

    def _stage(self, name: str, source, out: str):
        if name == "enrich":
            return lineage.run_stage(
                self.spark, "enrich", source, encode, part_col="part",
                output_path=out, checksum_cols=["url", "text"],
            )
        return lineage.run_stage(self.spark, "join", source, self._join, part_col="part", output_path=out)

    def _fresh_out(self) -> tuple[Path, str, str]:
        self.k += 1
        out = self.work / f"out-{self.k}"
        return out, str(out / "enriched"), str(out / "poly_stats")

    def _read_back(self, stats_path: str) -> dict:
        rows = icetable.read_table(self.spark, stats_path).groupBy("poly_id").agg(
            F.sum("n_docs").alias("n"), F.sum("sum_doc_id").alias("s")
        ).collect()
        return poly_table(rows)

    def _check(self, s1, text_ok, s2, per_poly, r1, r2) -> None:
        check(s1["pending"] == self.parts and s2["pending"] == self.parts, "stage parts")
        check(bool(text_ok), "text identity")
        check(per_poly == self.exp["per_poly"], "poly_stats differ from oracle")
        check(r1["pending"] == 0 and r2["pending"] == 0, "resume found pending parts")

    def _write_amp(self, out: Path) -> float:
        return dir_bytes(out) / dir_bytes(self.docs_path)

    def iterate(self) -> dict:
        out, enr, stats = self._fresh_out()
        t0 = now()
        src = self._source()
        s1 = self._stage("enrich", src, enr)
        text_ok = lineage.verify_text_identity(
            src, icetable.read_table(self.spark, enr), "part", ["url", "text"]
        )
        s2 = self._stage("join", icetable.read_table(self.spark, enr), stats)
        per_poly = self._read_back(stats)
        t1 = now()
        r1 = self._stage("enrich", self._source(), enr)
        r2 = self._stage("join", icetable.read_table(self.spark, enr), stats)
        t2 = now()
        self._check(s1, text_ok, s2, per_poly, r1, r2)
        wall = now() - t0
        amp = self._write_amp(out)
        shutil.rmtree(out)
        return {
            "wall_s": wall,
            "rows_per_s": self.n / (t1 - t0),
            "named": {
                "ingest_docs_per_s": self.n / (t1 - t0),
                "resume_s": t2 - t1,
                "write_amp": amp,
            },
        }

    def traced(self, tr) -> dict:
        out, enr, stats = self._fresh_out()
        t0 = now()
        s1, (src,) = tr.call(
            "lineage.run_stage.enrich", lambda d: self._stage("enrich", d, enr),
            [self._source()], force=False,
        )
        text_ok, _ = tr.call(
            "lineage.verify_text_identity",
            lambda a, b: lineage.verify_text_identity(a, b, "part", ["url", "text"]),
            [src, icetable.read_table(self.spark, enr)], force=False,
        )
        s2, _ = tr.call(
            "lineage.run_stage.join", lambda d: self._stage("join", d, stats),
            [icetable.read_table(self.spark, enr)], force=False,
        )
        per_poly = self._read_back(stats)
        with tr.span("lineage.resume"):
            r1 = self._stage("enrich", src, enr)
            r2 = self._stage("join", icetable.read_table(self.spark, enr), stats)
        self._check(s1, text_ok, s2, per_poly, r1, r2)
        wall = now() - t0
        data = [
            os.path.join(root, n)
            for root, _d, names in os.walk(out)
            for n in names
            if n.endswith(".parquet")
        ]
        counters = {
            "icetable.files_written": len(data),
            "icetable.bytes_written": sum(os.path.getsize(p) for p in data),
            "icetable.manifest_bytes": dir_bytes(Path(enr) / "metadata")
            + dir_bytes(Path(stats) / "metadata"),
            "icetable.write_amp": self._write_amp(out),
            "lineage.parts_committed": len(lineage.lineage_rows(enr))
            + len(lineage.lineage_rows(stats)),
        }
        tr.release()
        shutil.rmtree(out)
        return {"wall_s": wall, "counters": counters}


WORKLOADS = {w.name: w for w in (VectorJoin, RasterTiles, CheckpointedIngest)}
