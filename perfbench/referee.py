"""Independent correctness checks. None of them calls the engine's own
geometry, cell or codec helpers."""

from __future__ import annotations

import hashlib

import numpy as np

EPS_DEG = 1e-9


class CheckFailed(AssertionError):
    pass


def require(ok: bool, msg: str) -> None:
    if not ok:
        raise CheckFailed(msg)


def convex_pairs(lat: np.ndarray, lon: np.ndarray, ids: np.ndarray,
                 polys: list[dict]) -> tuple[set, set]:
    """Brute-force (probe id, polygon id) matches by half-planes, exact
    for convex rings: a point is inside when it lies strictly on the
    inner side of every edge. Returns (matches, ambiguous), where
    ambiguous pairs lie within EPS_DEG of an edge and are not judged."""
    inside, ambiguous = set(), set()
    for p in polys:
        ring = np.array([(q["lon"], q["lat"]) for q in p["rings"][0]])
        ax, ay = ring[:, 0], ring[:, 1]
        bx, by = np.roll(ax, -1), np.roll(ay, -1)
        area2 = np.sum(ax * by - bx * ay)
        # signed distance of every point to every edge, positive inside
        cross = ((bx - ax)[None, :] * (lat[:, None] - ay[None, :])
                 - (by - ay)[None, :] * (lon[:, None] - ax[None, :]))
        dist = np.sign(area2) * cross / np.hypot(bx - ax, by - ay)[None, :]
        pid = int(p["polygon_id"])
        for i in np.flatnonzero((dist > EPS_DEG).all(axis=1)):
            inside.add((int(ids[i]), pid))
        near = (dist >= -EPS_DEG).all(axis=1) & ~(dist > EPS_DEG).all(axis=1)
        for i in np.flatnonzero(near):
            ambiguous.add((int(ids[i]), pid))
    return inside, ambiguous


def check_pairs(got: list[tuple[int, int]], want: set, ambiguous: set) -> None:
    """The engine's rows for the sampled ids are complete and sound."""
    got_set = set(got)
    require(len(got_set) == len(got),
            f"{len(got) - len(got_set)} duplicate (probe, polygon) rows")
    extra = got_set - want - ambiguous
    missing = want - got_set
    require(not extra, f"{len(extra)} unsound rows, e.g. {sorted(extra)[:3]}")
    require(not missing, f"{len(missing)} missed rows, e.g. {sorted(missing)[:3]}")


def tile_digest(rows) -> str:
    """Order-independent digest of (z, x, y, sha1(mvt)) rows."""
    h = hashlib.sha256()
    for z, x, y, s in sorted((int(r[0]), int(r[1]), int(r[2]), r[3]) for r in rows):
        h.update(f"{z}/{x}/{y}:{s};".encode())
    return h.hexdigest()


def file_md5(path: str) -> str:
    h = hashlib.md5()
    with open(path, "rb") as fh:
        for chunk in iter(lambda: fh.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()
