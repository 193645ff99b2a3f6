"""Brute-force numpy oracles, independent of ``rgm``.

Predicates follow the DuckDB oracles in ``rgm/benchqueries.py``: a point
is in a cap when its haversine distance (Earth radius 6,371,010 m) is at
most the radius; a point is in an axis-aligned square when it lies within
its lat/lng bounds.

Points lying within ``TOL`` (relative) of a region boundary may go either
way: the engine and this oracle evaluate the same formula in a different
operation order, so a last-bit difference there is not a wrong answer.
"""

from __future__ import annotations

import numpy as np

EARTH_RADIUS_M = 6_371_010.0
TOL = 1e-9


def haversine_m(lat1, lng1, lat2, lng2) -> np.ndarray:
    p1, p2 = np.radians(lat1), np.radians(lat2)
    a = np.sin((p2 - p1) / 2.0) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(
        np.radians(np.asarray(lng2) - np.asarray(lng1)) / 2.0
    ) ** 2
    return 2.0 * EARTH_RADIUS_M * np.arcsin(np.sqrt(np.minimum(a, 1.0)))


class PointSet:
    """Points sorted by latitude, so each query scans only its latitude band."""

    def __init__(self, keys, lat, lng):
        order = np.argsort(np.asarray(lat), kind="stable")
        self.keys = np.asarray(keys, dtype=object)[order]
        self.lat = np.asarray(lat, dtype=np.float64)[order]
        self.lng = np.asarray(lng, dtype=np.float64)[order]

    @classmethod
    def concat(cls, sets: list["PointSet"]) -> "PointSet":
        return cls(
            np.concatenate([s.keys for s in sets]),
            np.concatenate([s.lat for s in sets]),
            np.concatenate([s.lng for s in sets]),
        )

    def __len__(self) -> int:
        return len(self.keys)

    def _band(self, lo: float, hi: float) -> slice:
        return slice(
            int(np.searchsorted(self.lat, lo, "left")),
            int(np.searchsorted(self.lat, hi, "right")),
        )

    def in_cap(self, lat: float, lng: float, radius_m: float) -> tuple[set, set]:
        """(keys that must match, keys that may match)."""
        dlat = np.degrees(radius_m * (1 + 1e-6) / EARTH_RADIUS_M) + 1e-9
        s = self._band(lat - dlat, lat + dlat)
        d = haversine_m(self.lat[s], self.lng[s], lat, lng)
        keys = self.keys[s]
        return (
            set(keys[d <= radius_m * (1 - TOL)]),
            set(keys[d <= radius_m * (1 + TOL)]),
        )

    def in_box(self, lat_lo, lat_hi, lng_lo, lng_hi) -> tuple[set, set]:
        eps = TOL * max(abs(lat_lo), abs(lng_lo), 1.0)
        s = self._band(lat_lo - eps, lat_hi + eps)
        la, ln, keys = self.lat[s], self.lng[s], self.keys[s]
        inner = (la >= lat_lo + eps) & (la <= lat_hi - eps) & (ln >= lng_lo + eps) & (ln <= lng_hi - eps)
        outer = (la >= lat_lo - eps) & (la <= lat_hi + eps) & (ln >= lng_lo - eps) & (ln <= lng_hi + eps)
        return set(keys[inner]), set(keys[outer])

    def in_region(self, row) -> tuple[set, set]:
        if row["kind"] == "cap":
            return self.in_cap(row["lat"], row["lng"], row["radius_m"])
        v = np.asarray([list(p) for p in row["verts"]], dtype=np.float64)
        return self.in_box(v[:, 0].min(), v[:, 0].max(), v[:, 1].min(), v[:, 1].max())


def check_regions(points: PointSet, regions, got: dict[str, set]) -> list[str]:
    """Exact refined-search check: per region, the returned keys lie between
    the must-match and may-match sets. Returns error strings."""
    errs = []
    for row in regions.to_dict("records"):
        must, may = points.in_region(row)
        g = got.get(row["query_id"], set())
        if not must <= g:
            errs.append(f"{row['query_id']}: {len(must - g)} matching keys missing")
        if not g <= may:
            errs.append(f"{row['query_id']}: {len(g - may)} keys outside the region")
    return errs


def check_caps_overlap(centres: PointSet, radius_m: float, regions, got: dict[str, set]) -> list[str]:
    """Cell-level Contains against an index of equal-radius caps: every
    indexed cap that overlaps the query cap (centre distance at most the sum
    of the radii) must be found."""
    errs = []
    for row in regions.to_dict("records"):
        must, _ = centres.in_cap(row["lat"], row["lng"], row["radius_m"] + radius_m)
        miss = must - got.get(row["query_id"], set())
        if miss:
            errs.append(f"{row['query_id']}: {len(miss)} overlapping caps missing")
    return errs
