"""The benchmark workloads. Each concentrates different layers:

* ``joins``      the j7 rectangle join (cells + broadcast probe, pure JVM)
                 and the j8-style polygon join (cover refine and PIP
                 refine across the Arrow boundary), one action each
* ``osm_tiles``  the ``tile_export --pbf`` path: PBF decode, polygon
                 assembly, tile clip, MVT encode and snapshot commits,
                 then the PBF re-encode of the decoded elements

A workload builds its seeded inputs in ``setup``; ``rep`` is one timed
repetition and returns what ``check`` verifies (untimed); ``traced``
runs one repetition layer by layer and returns per-layer metrics.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from collections import Counter
from statistics import median

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osm_io_spark import schemas
from osm_io_spark.functions import geometry as G
from osm_io_spark.functions import mvt as MVT
from osm_io_spark.operators import assemble as A
from osm_io_spark.operators import spatial_join as SJ
from osm_io_spark.operators import tiles as TL
from osm_io_spark.plans.snapshots import ResumableJob, SnapshotCatalog
from osm_io_spark.sources.pbf import decode as D
from osm_io_spark.sources.pbf import encode as E

import inputs as I
from referee import check_pairs, convex_pairs, file_md5, require, tile_digest
from tracing import Tracer, node_metric, plan_nodes

RES = 10          # cell resolution of both joins
MB = 2.0 ** 20
BROADCAST_TIMES = ("collectTime", "buildTime", "broadcastTime")


def _noop(df: DataFrame) -> None:
    """Materialise every column of ``df`` without keeping the rows."""
    df.write.format("noop").mode("overwrite").save()


def _kernel_rate(fn, items: int) -> float:
    """items/s of a driver-side kernel call, median of three runs."""
    times = []
    for _ in range(3):
        t = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t)
    return items / median(times)


class Workload:
    name = ""
    sizes: dict = {}
    # Timed repetitions a run makes even past --seconds. The first timed
    # one is still 10-15% slower than later ones (JIT); with three the
    # median leaves it out.
    min_reps = 3

    def __init__(self, spark: SparkSession, seed: int, work_dir: str):
        self.spark = spark
        self.seed = seed
        self.work_dir = work_dir
        self.notes: dict = {}

    @property
    def input_rows(self) -> int:
        raise NotImplementedError

    def setup(self) -> None:
        """Build the seeded inputs; cheap and repeatable."""
        raise NotImplementedError

    def prepare(self) -> None:
        """One-time work on the inputs of the last ``setup``."""

    def rep(self):
        raise NotImplementedError

    def check(self, out) -> None:
        raise NotImplementedError

    def traced(self, tr: Tracer) -> tuple[dict, object]:
        raise NotImplementedError


class _Join:
    """One spatial join of a JVM-generated probe, with its sampled
    referee: K probe ids regenerated in numpy and matched against every
    polygon by half-planes."""

    def __init__(self, spark, seed: int, salt: int, n: int, partitions: int,
                 sample: int, polys: list[dict]):
        self.probe = I.probe_df(spark, n, seed, partitions, salt)
        self.sample = I.sample_ids(n, sample, seed + salt)
        lat, lon = I.probe_np(self.sample, seed, salt)
        self.want, self.ambiguous = convex_pairs(lat, lon, self.sample, polys)
        self.count = None

    def summarise(self, joined: DataFrame) -> DataFrame:
        """One action: the total row count plus the sampled ids' rows."""
        hit = F.col("img_id").isin(self.sample.tolist())
        return joined.groupBy().agg(
            F.count(F.lit(1)).alias("n"),
            F.collect_list(F.when(hit, F.struct("img_id", "polygon_id")))
            .alias("s"))

    def check(self, row, what: str) -> None:
        check_pairs([(r["img_id"], r["polygon_id"]) for r in row["s"]],
                    self.want, self.ambiguous)
        if self.count is None:
            self.count = row["n"]
        require(row["n"] == self.count, f"{what}: {row['n']} rows, "
                f"first repetition had {self.count}")


class Joins(Workload):
    """``spatial_join_rect`` on a large Zipf probe against rectangles,
    then ``spatial_join_polygons`` on a small one against mixed convex
    polygons (rects, triangles, hexagons and one 16°×10° continent)."""

    name = "joins"
    sizes = {"rect_probe": 3_000_000, "rect_partitions": 8,
             "rects_per_cluster": 12,
             "pip_probe": 20_000, "pip_partitions": 8,
             "pip_per_cluster": {"rect": 4, "triangle": 2, "hexagon": 2},
             "pip_continent_clusters": (0,),
             "sample": 256}

    @property
    def input_rows(self) -> int:
        return self.sizes["rect_probe"] + self.sizes["pip_probe"]

    def setup(self) -> None:
        z = self.sizes
        pool = I.polygon_pool(self.seed)
        rects = I.polygon_mix(pool, {"rect": z["rects_per_cluster"]})
        self.rects = self.spark.createDataFrame(
            [(p["polygon_id"], p["left"], p["bottom"], p["right"], p["top"])
             for p in rects],
            "polygon_id long, left double, bottom double, right double, top double")
        self.polys = I.polygon_mix(pool, z["pip_per_cluster"],
                                   z["pip_continent_clusters"])
        self.polys_df = self.spark.createDataFrame(self.polys, schema=schemas.POLYGONS)
        self.rect = _Join(self.spark, self.seed, 0, z["rect_probe"],
                          z["rect_partitions"], z["sample"], rects)
        self.pip = _Join(self.spark, self.seed, 1, z["pip_probe"],
                         z["pip_partitions"], z["sample"], self.polys)
        self.notes.update(rects=len(rects), polygons=len(self.polys))

    def _rect_join(self) -> DataFrame:
        return self.rect.summarise(
            SJ.spatial_join_rect(self.rect.probe, self.rects, RES))

    def _pip_join(self) -> DataFrame:
        return self.pip.summarise(
            SJ.spatial_join_polygons(self.pip.probe, self.polys_df, RES)
            .select("img_id", "polygon_id"))

    def rep(self):
        return self._rect_join().collect()[0], self._pip_join().collect()[0]

    def check(self, out) -> None:
        self.rect.check(out[0], "rect join")
        self.pip.check(out[1], "polygon join")
        self.notes.update(rect_matches=out[0]["n"], pip_matches=out[1]["n"])

    def _pip_rate(self) -> float:
        """Points/s of functions.geometry.points_in_polygon alone, on a
        fixed seeded sample of probe points against every polygon whose
        bbox holds them."""
        ids = I.sample_ids(self.sizes["pip_probe"], 20_000, self.seed + 2)
        lat, lon = I.probe_np(ids, self.seed, 1)
        work = []
        for p in self.polys:
            m = ((lon >= p["left"]) & (lon <= p["right"])
                 & (lat >= p["bottom"]) & (lat <= p["top"]))
            if m.any():
                rings = [np.array([(q["lon"], q["lat"]) for q in r])
                         for r in p["rings"]]
                work.append((lon[m], lat[m], rings))
        n = sum(len(w[0]) for w in work)
        return _kernel_rate(
            lambda: [G.points_in_polygon(x, y, r) for x, y, r in work], n)

    def traced(self, tr: Tracer):
        # rect join: cell tagging is fused into the probe's codegen stage,
        # so its cost is the difference between noop writes of the
        # probe with and without the cell column (medians of 3 pairs)
        for _ in range(3):
            with tr.span("inputs.rect_probe"):
                _noop(self.rect.probe)
            with tr.span("cells.tag"):
                _noop(SJ.tag_probe_cells(self.rect.probe, RES))
        with tr.span("spatial_join.rect") as rs:
            rect_agg = self._rect_join()
            rect_out = rect_agg.collect()[0]
        rn = plan_nodes(rect_agg)
        build_s = sum(node_metric(rn, "BroadcastExchange", m)
                      for m in BROADCAST_TIMES) / 1e3
        # polygon join, layer by layer on eagerly pinned inputs
        with tr.span("inputs.pip_probe"):
            tagged = SJ.tag_probe_cells(self.pip.probe, RES).localCheckpoint(eager=True)
        with tr.span("spatial_join.cover"):
            cover_src = SJ.cover_polygon_cells_json(self.polys_df, RES)
            build = cover_src.localCheckpoint(eager=True)
        cov = plan_nodes(cover_src)
        with tr.span("spatial_join.join"):
            join_src = SJ.cell_join(tagged, build)
            joined = join_src.localCheckpoint(eager=True)
        cand = node_metric(plan_nodes(join_src), "BroadcastHashJoin", "numOutputRows")
        with tr.span("spatial_join.refine"):
            pip_agg = self.pip.summarise(
                SJ.refine_pip_json(joined).select("img_id", "polygon_id"))
            pip_out = pip_agg.collect()[0]
        ref = plan_nodes(pip_agg)
        with tr.span("geometry.pip"):
            pip_rate = self._pip_rate()
        kept = node_metric(cov, "MapInPandas", "pythonNumRowsReceived")
        cells_in = node_metric(cov, "Generate", "numOutputRows")
        return {
            "cells.tag_s": max(0.0, median(tr.durations("cells.tag"))
                               - median(tr.durations("inputs.rect_probe"))),
            "spatial_join.broadcast_build_s": build_s,
            "spatial_join.broadcast_rows":
                node_metric(rn, "BroadcastExchange", "numOutputRows"),
            "spatial_join.probe_s": max(0.0, rs["end"] - rs["start"] - build_s),
            # the rect refine runs inside the broadcast join's condition
            "spatial_join.candidates":
                node_metric(rn, "BroadcastHashJoin", "numOutputRows"),
            "spatial_join.cover_s": tr.seconds("spatial_join.cover"),
            "spatial_join.cover_cells": kept,
            "spatial_join.cover_keep_ratio": kept / cells_in if cells_in else 0.0,
            "spatial_join.cover.python_data_sent_mb":
                node_metric(cov, "MapInPandas", "pythonDataSent") / MB,
            "spatial_join.refine_s": tr.seconds("spatial_join.refine"),
            "spatial_join.matches": pip_out["n"],
            "spatial_join.refine_hit_ratio": pip_out["n"] / cand if cand else 0.0,
            "spatial_join.refine.python_data_sent_mb":
                node_metric(ref, "MapInPandas", "pythonDataSent") / MB,
            "spatial_join.refine.python_init_s":
                node_metric(ref, "MapInPandas", "pythonInitTime") / 1e3,
            "spatial_join.refine.python_total_s":
                node_metric(ref, "MapInPandas", "pythonTotalTime") / 1e3,
            "geometry.pip_pts_per_s": pip_rate,
        }, (rect_out, pip_out)


def _element_stats(pdf):
    """(per-type count/min id/max id, node bbox, tag multiset) of a
    pandas frame of elements."""
    per = {et: (len(g), int(g["id"].min()), int(g["id"].max()))
           for et, g in pdf.groupby("etype")}
    nodes = pdf[pdf["etype"] == "node"]
    bbox = [nodes["lon"].min(), nodes["lat"].min(),
            nodes["lon"].max(), nodes["lat"].max()]
    tags = Counter((t["k"], t["v"]) for ts in pdf["tags"] for t in ts
                   if ts is not None)
    return per, bbox, tags


def _data_blocks(path: str) -> list[bytes]:
    """The raw PrimitiveBlock bytes of every data blob of a PBF file."""
    return [D._read_blob_body(b["path"], b["offset"], b["length"])
            for b in D.scan_blobs(path) if b["blob_type"] == "OSMData"]


class OsmTiles(Workload):
    """``read_pbf`` → ``assemble_polygons`` → ``build_vector_tiles`` →
    ``encode_mvt_tiles`` → ``ResumableJob`` commits into a fresh
    snapshot catalog (the ``tile_export --pbf`` path, Morton-range
    shards), then ``write_pbf`` of the decoded elements to a new file.
    The input extract is written once, in set-up, by ``write_pbf``."""

    name = "osm_tiles"
    # ~9 s repetitions: a third would not fit the benchmark's time limit
    min_reps = 2
    sizes = {"nodes": 6_000, "ways": 600, "relations": 45, "zoom": 12,
             "shards": 2, "commit_every": 1}

    @property
    def input_rows(self) -> int:
        return self.n_elements

    def setup(self) -> None:
        z = self.sizes
        pdf, self.analysis, self.tags = I.osm_elements(
            self.seed, z["nodes"], z["ways"], z["relations"])
        self.n_elements = len(pdf)
        self.elements = I.elements_frame(self.spark, pdf)
        self.n_rep = 0
        self.digest = None
        key = hashlib.sha1(json.dumps(z, sort_keys=True).encode()).hexdigest()[:8]
        self.digest_file = os.path.join(
            os.path.dirname(self.work_dir), f"{self.name}-seed{self.seed}-{key}.digest")
        self.blocks: list[int] = []
        self.md5s: list[str] = []
        self.notes["elements"] = self.n_elements

    def prepare(self) -> None:
        self.in_path = os.path.join(self.work_dir, "input.osm.pbf")
        E.write_pbf(self.elements, self.in_path)

    # -- the pipeline's steps, shared by rep() and traced() ---------------

    def _decode(self) -> DataFrame:
        el = D.read_pbf(self.spark, self.in_path).persist(StorageLevel.MEMORY_AND_DISK)
        el.count()
        return el

    def _assemble(self, el: DataFrame) -> tuple[DataFrame, int]:
        polys = A.assemble_polygons(el).localCheckpoint(eager=True)
        return polys, polys.count()

    def _blobs(self, feats: DataFrame) -> DataFrame:
        zoom = self.sizes["zoom"]
        return (TL.encode_mvt_tiles(feats)
                .withColumn("m", TL.tile_morton_col("x", "y"))
                .withColumn("shard", F.shiftright(
                    F.col("m") * self.sizes["shards"], 2 * zoom)))

    def _commit(self, blobs: DataFrame):
        self.n_rep += 1
        root = os.path.join(self.work_dir, f"catalog-{self.n_rep}")
        table = SnapshotCatalog(root).table(f"tiles_z{self.sizes['zoom']}")
        job = ResumableJob(table, "tile_export",
                           inputs={"seed": self.seed, "zoom": self.sizes["zoom"]},
                           commit_every=self.sizes["commit_every"],
                           stats_columns=["m"])
        plan = [f"shard={s}" for s in range(self.sizes["shards"])]
        snap = job.run(plan, lambda pk: blobs.filter(
            F.col("shard") == int(pk.split("=")[1])).drop("shard"))
        return root, table, snap

    def _encode(self, el: DataFrame) -> tuple[str, int]:
        path = os.path.join(self.work_dir, f"out-{self.n_rep}.osm.pbf")
        return path, E.write_pbf(el, path)

    def rep(self):
        el = self._decode()
        polys, n_poly = self._assemble(el)
        feats = TL.build_vector_tiles(polys, self.sizes["zoom"])
        root, table, snap = self._commit(self._blobs(feats).localCheckpoint(eager=False))
        path, blocks = self._encode(el)
        return el, n_poly, root, table, snap, path, blocks

    # -- checks ------------------------------------------------------------

    def _check_elements(self, pdf: pd.DataFrame, what: str) -> None:
        d = self.analysis["data"]
        per, bbox, tags = _element_stats(pdf)
        for et, key in (("node", "nodes"), ("way", "ways"), ("relation", "relations")):
            want = (d["count"][key], d["minid"][key], d["maxid"][key])
            require(per.get(et) == want, f"{what}: {key} (count, min id, max id) "
                    f"{per.get(et)} != {want}")
        # coordinates are stored at 100-nanodegree granularity
        require(np.allclose(bbox, d["bbox"], rtol=0, atol=1e-7),
                f"{what}: bbox {bbox} != {d['bbox']}")
        require(tags == self.tags, f"{what}: tag multiset differs")

    def _check_tiles(self, table, snap) -> None:
        rows = table.read(self.spark).select("z", "x", "y", F.sha1("mvt")).collect()
        require(len(rows) > 0, "no tiles written")
        require(len(rows) == snap.summary["total_rows"],
                f"{len(rows)} tiles read back, snapshot says {snap.summary['total_rows']}")
        require(len({tuple(r[:3]) for r in rows}) == len(rows), "duplicate (z, x, y)")
        digest = tile_digest(rows)
        if self.digest is None:
            self.digest = digest
            self.notes.update(tiles=len(rows), tile_digest=digest)
            if os.path.exists(self.digest_file):
                with open(self.digest_file) as fh:
                    prev = fh.read().strip()
                require(prev == digest, f"tile digest {digest[:12]} differs from "
                        f"an earlier run of seed {self.seed}: {prev[:12]}")
            else:
                with open(self.digest_file, "w") as fh:
                    fh.write(digest)
        require(digest == self.digest, f"tile digest {digest[:12]} differs from "
                f"the first repetition's {self.digest[:12]}")

    def check(self, out) -> None:
        el, n_poly, root, table, snap, path, blocks = out
        try:
            self._check_elements(
                el.select("etype", "id", "lon", "lat", "tags").toPandas(),
                "decoded input")
            want = self.sizes["ways"] + self.sizes["relations"]
            require(n_poly == want, f"{n_poly} polygons assembled, want {want}")
            self._check_tiles(table, snap)
            self._check_elements(
                pd.concat([D.decode_block(b) for b in _data_blocks(path)],
                          ignore_index=True),
                "re-encoded output")
            # write_pbf cuts blocks at range-partition boundaries, so the
            # block count and the file bytes may differ between calls:
            # recorded here, never asserted
            self.blocks.append(blocks)
            self.md5s.append(file_md5(path))
            self.notes.update(blocks_written=self.blocks,
                              out_md5_distinct=len(set(self.md5s)))
        finally:
            el.unpersist()
            shutil.rmtree(root, ignore_errors=True)
            if os.path.exists(path):
                os.remove(path)

    # -- traced repetition -------------------------------------------------

    def _encode_rate(self, feats: DataFrame) -> float:
        """Features/s of functions.mvt.encode_features_batch alone on a
        fixed sample of clipped features."""
        pdf = (feats.orderBy("z", "x", "y", "polygon_id").limit(4000)
               .select("polygon_id", "ring_lens", "pxs", "pys").toPandas())
        lens = pdf["ring_lens"].to_numpy()
        rpr = np.array([len(v) for v in lens], np.int64)
        ring_lens = np.concatenate(lens).astype(np.int64)
        q = np.column_stack([np.concatenate(pdf["pxs"].to_numpy()),
                             np.concatenate(pdf["pys"].to_numpy())]).astype(np.int64)
        feat_of_ring = np.repeat(np.arange(len(pdf)), rpr)
        pid = pdf["polygon_id"].to_numpy()
        return _kernel_rate(
            lambda: MVT.encode_features_batch(q, ring_lens, feat_of_ring, pid),
            len(pdf))

    def _block_rates(self) -> tuple[int, float, float]:
        """(data blocks, elements/s of decode_block and of encode_block
        alone) over every data block of the input file."""
        blobs = _data_blocks(self.in_path)
        frames = [D.decode_block(b) for b in blobs]
        n = sum(len(f) for f in frames)
        dec = _kernel_rate(lambda: [D.decode_block(b) for b in blobs], n)
        enc = _kernel_rate(lambda: [E.encode_block(f) for f in frames], n)
        return len(blobs), dec, enc

    def traced(self, tr: Tracer):
        zoom = self.sizes["zoom"]
        with tr.span("pbf.decode"):
            el = self._decode()
        with tr.span("assemble"):
            polys, n_poly = self._assemble(el)
        with tr.span("tiles.cover"):
            fanout = TL.tile_cover(polys, zoom).count()
        with tr.span("tiles.features"):
            feat_src = TL.build_vector_tiles(polys, zoom)
            feats = feat_src.localCheckpoint(eager=True)
        fn = plan_nodes(feat_src)
        with tr.span("tiles.mvt"):
            blobs = self._blobs(feats).localCheckpoint(eager=True)
        n_tiles, mvt_bytes = blobs.agg(F.count(F.lit(1)),
                                       F.sum(F.length("mvt"))).collect()[0]
        with tr.span("snapshots.commit"):
            root, table, snap = self._commit(blobs)
        with tr.span("pbf.encode"):
            path, blocks = self._encode(el)
        with tr.span("kernels"):
            rate = self._encode_rate(feats)
            n_blobs, dec, enc = self._block_rates()
        return {
            "pbf.decode_s": tr.seconds("pbf.decode"),
            "pbf.blobs": n_blobs,
            "pbf.decode_block_elems_per_s": dec,
            "pbf.encode_s": tr.seconds("pbf.encode"),
            "pbf.encode_block_elems_per_s": enc,
            "pbf.blocks_written": blocks,
            "pbf.out_bytes_ratio": os.path.getsize(path) / os.path.getsize(self.in_path),
            "assemble.s": tr.seconds("assemble"),
            "assemble.polygons": n_poly,
            "tiles.cover_s": tr.seconds("tiles.cover"),
            "tiles.fanout_rows": fanout,
            "tiles.features_s": tr.seconds("tiles.features"),
            "tiles.clip.python_data_sent_mb":
                node_metric(fn, "MapInPandas", "pythonDataSent") / MB,
            "tiles.clip.python_total_s":
                node_metric(fn, "MapInPandas", "pythonTotalTime") / 1e3,
            "tiles.mvt_s": tr.seconds("tiles.mvt"),
            "tiles.tiles": n_tiles,
            "tiles.mvt_bytes": mvt_bytes,
            "mvt.encode_features_per_s": rate,
            "snapshots.commit_s": tr.seconds("snapshots.commit"),
            "snapshots.partitions": snap.summary["n_partitions"],
            "snapshots.bytes_per_mvt_byte": snap.summary["total_bytes"] / mvt_bytes,
        }, (el, n_poly, root, table, snap, path, blocks)


WORKLOADS = {w.name: w for w in (Joins, OsmTiles)}
