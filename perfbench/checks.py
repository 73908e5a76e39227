"""Correctness checks the benchmark applies to every timed call.

Digests are order-independent (sorted canonical rows), so they do not
depend on partitioning. The PIP and tile-key checks compare the job's
output with NumPy references built from the generated inputs.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np

TILE_PX = 256


def rows_digest(rows) -> str:
    """sha256 over the sorted canonical text of ``rows`` (tuples)."""
    lines = sorted("\x1f".join(_canon(v) for v in r) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def _canon(v) -> str:
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, (bytes, bytearray)):
        return hashlib.sha256(v).hexdigest()
    return str(v)


def ray_cast(px: np.ndarray, py: np.ndarray, rx: np.ndarray, ry: np.ndarray) -> np.ndarray:
    """Points (px=lon, py=lat) inside a closed ring, edges and vertices
    counted as inside."""
    inside = np.zeros(px.shape, bool)
    edge = np.zeros(px.shape, bool)
    n = len(rx)
    for a in range(n):
        b = (a - 1) % n
        x0, y0, x1, y1 = rx[a], ry[a], rx[b], ry[b]
        crosses = (y0 > py) != (y1 > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xs = np.where(crosses, (x1 - x0) * (py - y0) / (y1 - y0) + x0, 0.0)
        inside ^= crosses & (px < xs)
        on_line = (x1 - x0) * (py - y0) - (y1 - y0) * (px - x0) == 0.0
        in_box = ((px >= min(x0, x1)) & (px <= max(x0, x1))
                  & (py >= min(y0, y1)) & (py <= max(y0, y1)))
        edge |= on_line & in_box
    return inside | edge


def pip_reference(urls: list[str], lat: np.ndarray, lon: np.ndarray, polygons) -> set:
    """{(url, polygon_id)} for every page inside every polygon.
    ``polygons``: (polygon_id, name, kind, [(lon, lat), ...]) rows."""
    out = set()
    for pid, _name, _kind, ring in polygons:
        rx = np.array([p[0] for p in ring])
        ry = np.array([p[1] for p in ring])
        box = (lon >= rx.min()) & (lon <= rx.max()) & (lat >= ry.min()) & (lat <= ry.max())
        idx = np.nonzero(box)[0]
        hit = idx[ray_cast(lon[idx], lat[idx], rx, ry)]
        out.update((urls[i], pid) for i in hit.tolist())
    return out


def tile_keys_reference(lat: np.ndarray, lon: np.ndarray, z: int, halo: int) -> set:
    """{(x, y)} of every z-tile a point reaches with a ``halo``-pixel
    border (WebMercator, x wraps, y clamps)."""
    n_tiles = 1 << z
    n_px = n_tiles * TILE_PX
    lat_c = np.clip(lat, -85.05112878, 85.05112878)
    xn = (lon + 180.0) / 360.0
    r = np.radians(lat_c)
    yn = (1.0 - np.log(np.tan(r) + 1.0 / np.cos(r)) / math.pi) / 2.0
    gx = np.clip(np.floor(xn * float(n_px)), 0, n_px - 1).astype(np.int64)
    gy = np.clip(np.floor(yn * float(n_px)), 0, n_px - 1).astype(np.int64)
    tx, ty = gx >> 8, gy >> 8
    px, py = gx & 255, gy & 255
    keys = set()
    for dx in (-1, 0, 1):
        for dy in (-1, 0, 1):
            m = np.ones(len(gx), bool)
            if dx == -1:
                m &= px < halo
            elif dx == 1:
                m &= px >= TILE_PX - halo
            if dy == -1:
                m &= py < halo
            elif dy == 1:
                m &= py >= TILE_PX - halo
            nx = (tx + dx) % n_tiles
            ny = ty + dy
            m &= (ny >= 0) & (ny < n_tiles)
            keys.update(zip(nx[m].tolist(), ny[m].tolist()))
    return keys


class Checker:
    """Collects named pass/fail results for one job call."""

    def __init__(self):
        self.results: list[tuple[str, bool, str]] = []

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        self.results.append((name, bool(ok), detail))
        return bool(ok)

    @property
    def ok(self) -> bool:
        return all(r[1] for r in self.results)


# ------------------------- job outputs on disk -------------------------

def part_files(path: str) -> list[str]:
    """Data files of a stage output written with partitionBy."""
    import glob
    import os

    return sorted(glob.glob(os.path.join(path, "**", "part-*"), recursive=True))


def read_stage(path: str, columns: list[str] | None = None):
    """A stage output as one pyarrow Table (partition column dropped),
    read without Spark so checks add no jobs to the run."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tables = [pq.read_table(f, columns=columns) for f in part_files(path)]
    return pa.concat_tables(tables) if tables else None


def stage_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(f).num_rows for f in part_files(path))


def files_digest(root: str, stages) -> str:
    """sha256 over the relative paths and bytes of every data file the
    stages wrote: unchanged bytes mean an untouched output."""
    import os

    h = hashlib.sha256()
    for st in stages:
        base = os.path.join(root, st)
        for f in part_files(base):
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()
