"""Seeded benchmark inputs: every input is a pure function of ``--seed``.

* Probe points are generated in the JVM from ``spark.range`` with
  ``xxhash64`` columns, so a 10^7-row probe costs no Python. The same
  points are regenerated in numpy by :func:`probe_np` (a bit-exact
  replica of Spark's XXH64 ``hashLong``) for the sampled referee.
* Polygons come from ``synth.polygons_local``; :func:`polygon_mix`
  picks a FIXED number of each shape per cluster from a seeded pool, so
  the work per repetition does not swing with how many 16°×10°
  "continents" a seed happens to draw.
* The OSM extract comes from ``synth.osm_elements_local``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osm_io_spark.sources import synth
from osm_io_spark.sources.pbf import decode as D

N_CLUSTERS = synth.N_CLUSTERS
ZIPF_SLOTS = 4096
SPREAD_DEG = 2.0          # probe points land within ±1° of their centre

_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)


def _rotl(v: np.ndarray, r: int) -> np.ndarray:
    return (v << np.uint64(r)) | (v >> np.uint64(64 - r))


def xxhash64_long(values: np.ndarray, seed: np.ndarray | int) -> np.ndarray:
    """Spark's ``XxHash64Function.hashLong`` on int64 input (uint64 out)."""
    with np.errstate(over="ignore"):
        v = values.astype(np.int64).view(np.uint64)
        h = np.asarray(seed, np.int64).view(np.uint64) + _P5 + np.uint64(8)
        h = h ^ (_rotl(v * _P2, 31) * _P1)
        h = _rotl(h, 27) * _P1 + _P4
        h = h ^ (h >> np.uint64(33))
        h = h * _P2
        h = h ^ (h >> np.uint64(29))
        h = h * _P3
        return h ^ (h >> np.uint64(32))


def _hash_np(ids: np.ndarray, stream: int) -> np.ndarray:
    """numpy twin of ``F.xxhash64(id, lit(stream).cast('long'))``."""
    return xxhash64_long(np.full(len(ids), stream, np.int64),
                         xxhash64_long(ids, 42))


def _hash_col(stream: int):
    return F.xxhash64(F.col("img_id"), F.lit(stream).cast("long"))


def _unit_col(h):
    return F.shiftrightunsigned(h, 11).cast("double") * F.lit(2.0 ** -53)


def _unit_np(h: np.ndarray) -> np.ndarray:
    return (h >> np.uint64(11)).astype(np.float64) * 2.0 ** -53


def zipf_table() -> np.ndarray:
    """Cluster index per slot, with slot counts ∝ 1/(rank+1)."""
    w = 1.0 / np.arange(1, N_CLUSTERS + 1)
    counts = np.floor(w / w.sum() * ZIPF_SLOTS).astype(np.int64)
    counts[0] += ZIPF_SLOTS - counts.sum()
    return np.repeat(np.arange(N_CLUSTERS), counts)


def centres(seed: int) -> np.ndarray:
    """The (lat, lon) cluster centres ``synth.polygons_local(n, seed)``
    places its polygons on (cluster ``i % 50`` for polygon ``i``)."""
    return synth._cluster_centers(seed + 7)


def _streams(seed: int, salt: int) -> tuple[int, int, int]:
    base = 1_000 * (seed + 1) + 10 * salt
    return base + 1, base + 2, base + 3


def _lookup(values, index: str):
    """``values[index]`` as one parsed SQL expression: an array literal
    built through py4j would cost one gateway call per element."""
    return F.expr(f"element_at(array({', '.join(f'{v!r}D' for v in values)}), "
                  f"cast({index} as int) + 1)")


def probe_df(spark: SparkSession, n: int, seed: int, partitions: int,
             salt: int = 0) -> DataFrame:
    """(img_id, lat, lon): n Zipf-skewed points clustered on the polygon
    centres, computed entirely by codegen'd JVM expressions. ``salt``
    gives independent probes for one seed."""
    c = centres(seed)
    s_k, s_lat, s_lon = _streams(seed, salt)
    k = f"element_at(array({', '.join(map(str, zipf_table()))}), " \
        f"cast(pmod(xxhash64(img_id, {s_k}L), {ZIPF_SLOTS}) as int) + 1)"
    return (spark.range(0, n, 1, partitions).withColumnRenamed("id", "img_id")
            .withColumn("_k", F.expr(k))
            .select("img_id",
                    (_lookup(c[:, 0].tolist(), "_k")
                     + (_unit_col(_hash_col(s_lat)) - 0.5) * SPREAD_DEG).alias("lat"),
                    (_lookup(c[:, 1].tolist(), "_k")
                     + (_unit_col(_hash_col(s_lon)) - 0.5) * SPREAD_DEG).alias("lon")))


def probe_np(ids: np.ndarray, seed: int,
             salt: int = 0) -> tuple[np.ndarray, np.ndarray]:
    """(lat, lon) of the given probe ids, regenerated in numpy."""
    c = centres(seed)
    s_k, s_lat, s_lon = _streams(seed, salt)
    slot = (_hash_np(ids, s_k).view(np.int64) % ZIPF_SLOTS)
    k = zipf_table()[slot]
    lat = c[k, 0] + (_unit_np(_hash_np(ids, s_lat)) - 0.5) * SPREAD_DEG
    lon = c[k, 1] + (_unit_np(_hash_np(ids, s_lon)) - 0.5) * SPREAD_DEG
    return lat, lon


def sample_ids(n: int, k: int, seed: int) -> np.ndarray:
    rng = np.random.Generator(np.random.Philox(seed + 9_001))
    return np.sort(rng.choice(n, size=min(k, n), replace=False)).astype(np.int64)


def _shape(poly: dict) -> str:
    ring = poly["rings"][0]
    if len(ring) == 3:
        return "triangle"
    if len(ring) == 6:
        return "hexagon"
    return "continent" if poly["right"] - poly["left"] > 15.0 else "rect"


def polygon_pool(seed: int) -> list[dict]:
    """``synth.polygons_local`` with 100 polygons per cluster: far more of
    each shape than :func:`polygon_mix` asks for."""
    return synth.polygons_local(100 * N_CLUSTERS, seed)


def polygon_mix(pool: list[dict], per_cluster: dict[str, int],
                continent_clusters: tuple[int, ...] = ()) -> list[dict]:
    """Polygons of ``pool`` with a fixed composition: ``per_cluster[shape]``
    polygons of each shape on every cluster, plus one continent on each
    cluster in ``continent_clusters``; polygon ids stay those of the pool."""
    want = {c: dict(per_cluster) for c in range(N_CLUSTERS)}
    for c in continent_clusters:
        want[c]["continent"] = want[c].get("continent", 0) + 1
    out = []
    for i, p in enumerate(pool):
        left = want[i % N_CLUSTERS]
        s = _shape(p)
        if left.get(s, 0) > 0:
            left[s] -= 1
            out.append(p)
    missing = {c: w for c, w in want.items() if any(w.values())}
    if missing:
        raise RuntimeError(f"polygon pool too small: {missing}")
    return out


def osm_elements(seed: int, n_nodes: int, n_ways: int, n_relations: int):
    """(unified element pandas frame, golden analysis, tag multiset)."""
    nodes, ways, rels, analysis = synth.osm_elements_local(
        seed=seed, n_nodes=n_nodes, n_ways=n_ways, n_relations=n_relations)
    rows = []
    for et, items in (("node", nodes), ("way", ways), ("relation", rels)):
        for e in items:
            rows.append({
                "etype": et, "id": e["id"], "version": e["version"],
                "lat": e.get("lat"), "lon": e.get("lon"),
                "timestamp": e["timestamp"], "changeset": e["changeset"],
                "uid": e["uid"], "user": e["user"], "visible": e["visible"],
                "tags": [(t["k"], t["v"]) for t in e["tags"]],
                "refs": e.get("refs"),
                "members": ([(m["type"], m["id"], m["role"])
                             for m in e["members"]] if "members" in e else None),
            })
    tags: dict[tuple[str, str], int] = {}
    for r in rows:
        for kv in r["tags"]:
            tags[kv] = tags.get(kv, 0) + 1
    return pd.DataFrame(rows), analysis, tags


def elements_frame(spark: SparkSession, pdf: pd.DataFrame) -> DataFrame:
    return spark.createDataFrame(
        list(pdf.itertuples(index=False, name=None)), schema=D.ELEMENTS)
