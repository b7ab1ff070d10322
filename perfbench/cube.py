"""Seeded generator for the cube_timeseries workload.

Writes a sparse int16 NDVI-like cube as GeoTIFF tiles (deflate,
predictor 2) through the package's own ``write_geotiff``, and saves the
values every read must return as numpy arrays beside them. The same
seed gives byte-identical tiles and expected arrays.

Layout under ``out_dir``::

    tiles/tile_{x0}_{y0}_t{t}.tif   one file per (tile, date) present
    expected.npy                    int16 [H, W, ndates + append_dates]
                                    (nodata where a value is nodata or
                                    its tile is missing)
    present.npy                     bool, same shape: a row exists
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np

NODATA = -3000
DAY_MS = 86_400_000


@dataclass(frozen=True)
class CubeSpec:
    width: int = 240
    height: int = 240
    ndates: int = 23
    append_dates: int = 4
    tile: int = 120
    frac: int = 80
    frac_ndates: int = 8
    nodata_frac: float = 0.05
    missing_tiles: int = 3  # (tile, date) files left out of the ingest
    geot: tuple[float, ...] = (500_000.0, 231.65, 0.0, 5_000_000.0, 0.0, -231.65)

    @property
    def total_dates(self) -> int:
        return self.ndates + self.append_dates

    def timestamps_ms(self) -> list[int]:
        # MODIS 16-day composites, starting 2020-01-01
        return [1_577_836_800_000 + 16 * DAY_MS * i for i in range(self.total_dates)]

    def tile_origins(self) -> list[tuple[int, int]]:
        return [
            (x0, y0)
            for y0 in range(0, self.height, self.tile)
            for x0 in range(0, self.width, self.tile)
        ]


def make_values(spec: CubeSpec, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """Return (values, present) for every pixel and date, appended dates
    included. Values follow a per-pixel seasonal curve plus noise, so
    the predictor-2 deflate tiles compress like real NDVI."""
    rng = np.random.default_rng(seed)
    h, w, nt = spec.height, spec.width, spec.total_dates
    base = rng.integers(1000, 6000, size=(h, w, 1))
    amp = rng.integers(500, 3000, size=(h, w, 1))
    phase = rng.random((h, w, 1)) * 2 * np.pi
    t = np.arange(nt).reshape(1, 1, nt)
    season = amp * np.sin(2 * np.pi * t / 23 + phase)
    noise = rng.integers(-150, 151, size=(h, w, nt))
    values = np.clip(base + season + noise, -2000, 10000).astype(np.int16)
    values[rng.random((h, w, nt)) < spec.nodata_frac] = NODATA

    present = np.ones((h, w, nt), dtype=bool)
    origins = spec.tile_origins()
    # missing tiles only among ingested dates: append_dates takes a
    # dense array, so appended dates are always present
    cells = rng.choice(len(origins) * spec.ndates, spec.missing_tiles, replace=False)
    for c in cells:
        x0, y0 = origins[c % len(origins)]
        ti = int(c // len(origins))
        present[y0 : y0 + spec.tile, x0 : x0 + spec.tile, ti] = False
    values[~present] = NODATA
    return values, present


def generate(spec: CubeSpec, seed: int, out_dir: str) -> tuple[np.ndarray, np.ndarray]:
    """Write the tiles and expected arrays under ``out_dir``; return
    (values, present)."""
    from rastercube_spark.sources.geotiff import write_geotiff

    values, present = make_values(spec, seed)
    tile_dir = os.path.join(out_dir, "tiles")
    os.makedirs(tile_dir, exist_ok=True)
    g = spec.geot
    for ti in range(spec.ndates):
        for x0, y0 in spec.tile_origins():
            if not present[y0, x0, ti]:
                continue
            block = values[y0 : y0 + spec.tile, x0 : x0 + spec.tile, ti]
            geot = (g[0] + x0 * g[1], g[1], 0.0, g[3] + y0 * g[5], 0.0, g[5])
            write_geotiff(
                os.path.join(tile_dir, f"tile_{x0}_{y0}_t{ti}.tif"),
                block,
                geot,
                nodataval=NODATA,
                compress="deflate",
                predictor=2,
            )
    np.save(os.path.join(out_dir, "expected.npy"), values)
    np.save(os.path.join(out_dir, "present.npy"), present)
    return values, present
