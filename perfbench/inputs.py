"""Seeded input generator.

Writes parquet replicas of the input tables the engine reads (``orders``,
``supplier``, ``nation``, ``documents``) plus the two polygon layers, all
derived from one seed.  Keys are remapped per seed (a random offset inside
each stride) so different seeds give different point, page and query sets
of the same size and distribution.  Every key stays below 2**31, so the
``synth`` modular arithmetic (largest multiplier 104729) cannot overflow a
BIGINT, with or without ANSI.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

#: key stride of the remapping: key = i * STRIDE + (seeded offset < STRIDE)
STRIDE = 8

#: vocabulary of the page text; '&' and '<' exercise the html escaping
WORDS = (
    "spark tile grid point cloud raster slope hillshade ridge valley scarp "
    "fault basin channel lidar survey profile transect elevation terrain "
    "a&b x<y r&d <p> the of"
).split()
LANGS = ("en", "de", "fr", "es", "zh")


@dataclass(frozen=True)
class Sizes:
    points: int = 0
    gps: int = 0
    pages: int = 0
    page_polygons: int = 0


def _keys(rng: np.random.Generator, n: int) -> np.ndarray:
    """n distinct seeded keys in [0, n * STRIDE), in seeded row order."""
    keys = np.arange(n, dtype=np.int64) * STRIDE + rng.integers(
        0, STRIDE, n, dtype=np.int64
    )
    return keys[rng.permutation(n)]


def _write(root: str, name: str, table: pa.Table) -> None:
    # 16 row groups, so a scan splits across every core
    pq.write_table(table, os.path.join(root, f"{name}.parquet"),
                   row_group_size=max(1, -(-table.num_rows // 16)))


def _texts(rng: np.random.Generator, n: int) -> pa.Array:
    """n page texts of about 300 characters: each joins two of 512 seeded
    phrases of 10 to 40 words."""
    phrases = []
    for _ in range(512):
        k = int(rng.integers(10, 41))
        phrases.append(" ".join(rng.choice(WORDS, k)))
    pool = pa.array(phrases)
    a = pc.take(pool, pa.array(rng.integers(0, 512, n)))
    b = pc.take(pool, pa.array(rng.integers(0, 512, n)))
    return pc.binary_join_element_wise(a, b, " ")


def generate(root: str, seed: int, sizes: Sizes) -> None:
    """Write every table the workloads read under ``root``."""
    os.makedirs(root, exist_ok=True)
    rng = np.random.default_rng(seed)
    if sizes.points:
        _write(root, "orders", pa.table({"o_orderkey": _keys(rng, sizes.points)}))
        nation = np.sort(rng.choice(400, 25, replace=False)).astype(np.int32)
        _write(root, "nation", pa.table({
            "n_nationkey": nation,
            "n_name": [f"UNIT{k:03d}" for k in nation],
        }))
    if sizes.gps:
        # spread over [0, 100000) so the gx/gy hashes cover the extent
        sup = np.sort(rng.choice(100_000, sizes.gps, replace=False))
        _write(root, "supplier", pa.table({"s_suppkey": sup.astype(np.int64)}))
    if sizes.pages:
        _write(root, "documents", pa.table({
            "doc_id": _keys(rng, sizes.pages),
            "text": _texts(rng, sizes.pages),
            "lang": pc.take(
                pa.array(LANGS), pa.array(rng.integers(0, 5, sizes.pages))
            ),
        }))
    if sizes.page_polygons:
        # small lon/lat rectangles over the geo pages' coordinate range
        # (lat in [-80, 80], lon in [-180, 180]); whole milli-degrees so
        # the containment tests are exact in every engine
        n = sizes.page_polygons
        w = rng.integers(200, 1500, n)
        h = rng.integers(200, 1500, n)
        x0 = rng.integers(-180_000, 180_000 - 1500, n)
        y0 = rng.integers(-80_000, 80_000 - 1500, n)
        _write(root, "page_polygons", pa.table({
            "polygon_id": np.arange(n, dtype=np.int32),
            "xmin": x0 / 1000.0,
            "ymin": y0 / 1000.0,
            "width": w / 1000.0,
            "height": h / 1000.0,
        }))
