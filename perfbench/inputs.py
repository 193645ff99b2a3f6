"""Seeded workload inputs.

Everything a run feeds the engine comes from here: the same ``--seed``
gives the same regions, query batches and appended rows. The
point corpora themselves are fixed (the orders-derived points of
``rgm.benchqueries.points_df`` and the hot-box points of ``bench.py``), so
index contents do not depend on the seed; only what is asked of them does.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

# contiguous-US box the corpus is drawn in (rgm.benchqueries, bench.py)
LAT_LO, LAT_HI = 24.396308, 49.384358
LNG_LO, LNG_HI = -125.0, -66.93457
# bench.py's hot-cell box: ~50 km square, one level-3 zone
HOT_LAT, HOT_LNG, HOT_SPAN = 37.0, -106.0, 0.45

REGION_SCHEMA = (
    "query_id string, kind string, lat double, lng double, radius_m double, "
    "verts array<array<double>>"
)


class Inputs:
    """Independent random streams per input kind, so adding or resizing one
    kind of input leaves the others unchanged for a given seed."""

    def __init__(self, seed: int):
        kids = np.random.SeedSequence(seed).spawn(6)
        self._rng = {
            name: np.random.default_rng(k)
            for name, k in zip(
                ("regions", "small", "bulk", "append", "fresh", "sample"),
                kids,
            )
        }

    def _uniform(self, name: str, n: int) -> tuple[np.ndarray, np.ndarray]:
        r = self._rng[name]
        return r.uniform(LAT_LO, LAT_HI, n), r.uniform(LNG_LO, LNG_HI, n)

    def region_caps(self, n: int, radius_m: float = 1000.0) -> pd.DataFrame:
        """Indexed regions: ``n`` uniform caps keyed ``r<i>``."""
        lat, lng = self._uniform("regions", n)
        return caps_frame([f"r{i}" for i in range(n)], lat, lng, radius_m)

    def small_caps(self, tag: str, n: int, radius_m: float = 1000.0) -> pd.DataFrame:
        lat, lng = self._uniform("small", n)
        return caps_frame([f"{tag}{i}" for i in range(n)], lat, lng, radius_m)

    def bulk_batch(self, tag: str, n: int, hot_share: float) -> pd.DataFrame:
        """``n`` regions: uniform 1 km caps and ~1 km squares (as 4-vertex
        polygons) in equal parts, plus ``hot_share`` of 1 km caps inside
        the hot box."""
        r = self._rng["bulk"]
        n_hot = int(round(n * hot_share))
        n_uni = n - n_hot
        n_cap = n_uni // 2
        lat, lng = self._uniform("bulk", n_uni)
        hlat = r.uniform(HOT_LAT, HOT_LAT + HOT_SPAN, n_hot)
        hlng = r.uniform(HOT_LNG, HOT_LNG + HOT_SPAN, n_hot)
        ids = [f"{tag}{i}" for i in range(n)]
        caps = caps_frame(
            ids[:n_cap] + ids[n_uni:],
            np.concatenate([lat[:n_cap], hlat]),
            np.concatenate([lng[:n_cap], hlng]),
            1000.0,
        )
        quads = squares_frame(ids[n_cap:n_uni], lat[n_cap:], lng[n_cap:], 1000.0)
        return pd.concat([caps, quads], ignore_index=True)

    def append_points(self, batch: int, n: int) -> pd.DataFrame:
        lat, lng = self._uniform("append", n)
        return pd.DataFrame(
            {
                "key": [f"a{batch}_{i}" for i in range(n)],
                "kind": "point",
                "lat": lat,
                "lng": lng,
            }
        )

    def fresh_caps(self, tag: str, pts: pd.DataFrame, n: int, radius_m: float) -> pd.DataFrame:
        """``n`` caps centred on distinct rows of ``pts`` (just-appended
        points), so every cap must return at least its own centre."""
        idx = np.sort(self._rng["fresh"].choice(len(pts), size=min(n, len(pts)), replace=False))
        sel = pts.iloc[idx]
        return caps_frame(
            [f"{tag}{i}" for i in range(len(sel))],
            sel["lat"].to_numpy(), sel["lng"].to_numpy(), radius_m,
        )

    def sample(self, n_total: int, n: int) -> np.ndarray:
        return np.sort(self._rng["sample"].choice(n_total, size=min(n, n_total), replace=False))


def caps_frame(ids, lat, lng, radius_m: float) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "query_id": list(ids),
            "kind": "cap",
            "lat": np.asarray(lat, dtype=np.float64),
            "lng": np.asarray(lng, dtype=np.float64),
            "radius_m": float(radius_m),
            "verts": None,
        }
    )


def squares_frame(ids, lat, lng, half_side_m: float) -> pd.DataFrame:
    """Axis-aligned lat/lng squares as 4-vertex polygons (vertices are
    (lat, lng) pairs, ring closed implicitly)."""
    dlat = half_side_m / 111_195.0
    dlng = dlat / np.cos(np.radians(lat))
    lo_a, hi_a, lo_g, hi_g = lat - dlat, lat + dlat, lng - dlng, lng + dlng
    verts = [
        [[a0, g0], [a0, g1], [a1, g1], [a1, g0]]
        for a0, a1, g0, g1 in zip(lo_a.tolist(), hi_a.tolist(), lo_g.tolist(), hi_g.tolist())
    ]
    return pd.DataFrame(
        {
            "query_id": list(ids),
            "kind": "polygon",
            "lat": np.nan,
            "lng": np.nan,
            "radius_m": np.nan,
            "verts": verts,
        }
    )


def write_orders(sf_dir: str, n: int) -> None:
    """An ``orders.parquet`` whose ``o_orderkey`` column is 0..n-1 — the
    key set of the TPC-H orders table at that row count (sf0.1: 150,000
    rows), the only column ``rgm.benchqueries.points_df`` reads."""
    os.makedirs(sf_dir, exist_ok=True)
    pd.DataFrame({"o_orderkey": np.arange(n, dtype=np.int64)}).to_parquet(
        os.path.join(sf_dir, "orders.parquet"), index=False
    )


def hot_points(n: int) -> pd.DataFrame:
    """bench.py's hot-cell points: ``n`` points packed into the ~50 km hot
    box by the same integer hashing bench.py uses."""
    i = np.arange(n, dtype=np.int64)
    return pd.DataFrame(
        {
            "key": [f"h{k}" for k in range(n)],
            "kind": "point",
            "lat": HOT_LAT + (i * 6151 % 1_000_000) / 1_000_000.0 * HOT_SPAN,
            "lng": HOT_LNG + (i * 4231 % 1_000_000) / 1_000_000.0 * HOT_SPAN,
        }
    )
