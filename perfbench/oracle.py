"""Expected outputs, computed without the engine, and the checks that
compare them with what the engine returned.

Coordinates come from the scalar reference decoder (tests/oracle_pbf),
geometry from the scalar oracles in tests/oracle_geo, tile counts from
numpy, and shingle Jaccard from Python sets. A check returns an error
string, or None when the output is right.
"""

from __future__ import annotations

import hashlib

import numpy as np

from tests.oracle_geo import knn_bruteforce, point_in_polygon

TILE_ZOOM, TILE_MIN_ZOOM = 12, 6
KNN_K = 5
DEDUP_THRESHOLD = 0.5
SHINGLE_K = 5
# a planted near-copy at this Jaccard or above is missed by the 16x4
# band scheme with probability (1 - 0.85**4)**16 < 1e-5
NEAR_RECALL_MIN_JACCARD = 0.85


def digest(rows) -> tuple[int, str]:
    """(row count, order-independent digest) of an iterable of tuples."""
    acc, n = 0, 0
    for r in rows:
        h = hashlib.blake2b(repr(tuple(r)).encode(), digest_size=8).digest()
        acc = (acc + int.from_bytes(h, "little")) % (1 << 64)
        n += 1
    return n, f"{acc:016x}"


def compare(name: str, got_rows, want: tuple[int, str]) -> str | None:
    got = digest(got_rows)
    if got != want:
        return f"{name}: got {got[0]} rows / {got[1]}, want {want[0]} rows / {want[1]}"
    return None


class SpatialOracle:
    """Expected results for the spatial ops over one decoded corpus."""

    def __init__(self, decoded: dict):
        nodes = decoded["nodes"]
        self.doc_ids = [f"node/{n['id']}" for n in nodes]
        self.lat = np.array([n["lat"] for n in nodes])
        self.lon = np.array([n["lon"] for n in nodes])
        coord = {n["id"]: (n["lat"], n["lon"]) for n in nodes}
        self.read = digest(zip(self.doc_ids, self.lat.tolist(), self.lon.tolist()))

        way_rows = []
        self.rings = {}
        for w in decoded["ways"]:
            pts = tuple(coord[r] for r in w["refs"])
            closed = pts[0] == pts[-1]
            way_rows.append((w["id"], pts, closed))
            if closed and len(pts) >= 4:
                self.rings[f"way/{w['id']}"] = [list(pts[:-1])]
        self.assembly = digest(way_rows)

    def prepare_spatial(self, polygons, knn_query_ids: list[str], knn_sample: int, seed: int,
                        with_pip: bool = True):
        """Expected results of the operator ops (PIP and tiles only when
        the workload runs them)."""
        if with_pip:
            self.pip_regions = digest(self._pip(
                {p.poly_id: [[tuple(v) for v in r] for r in p.rings] for p in polygons}))
            self.pip_footprints = digest(self._pip(self.rings))
            self.tiles = digest(self._tiles())
        rng = np.random.default_rng([seed, 3])
        self.knn_checked = sorted(rng.choice(knn_query_ids, knn_sample, replace=False).tolist())
        idx = {d: i for i, d in enumerate(self.doc_ids)}
        cands = list(zip(self.doc_ids, self.lat.tolist(), self.lon.tolist()))
        self.knn = digest(knn_bruteforce([cands[idx[q]] for q in self.knn_checked], cands, KNN_K))

    def _pip(self, rings_by_poly: dict):
        out = []
        for pid, rings in rings_by_poly.items():
            pts = np.array([v for r in rings for v in r])
            box = ((self.lat >= pts[:, 0].min()) & (self.lat <= pts[:, 0].max())
                   & (self.lon >= pts[:, 1].min()) & (self.lon <= pts[:, 1].max()))
            for i in np.nonzero(box)[0]:
                if point_in_polygon(float(self.lat[i]), float(self.lon[i]), rings):
                    out.append((self.doc_ids[i], pid))
        return out

    def _tiles(self):
        n = float(1 << TILE_ZOOM)
        nmax = (1 << TILE_ZOOM) - 1
        x = np.clip(np.floor((self.lon + 180.0) / 360.0 * n), 0, nmax).astype(np.int64)
        y = np.clip(np.floor((90.0 - self.lat) / 180.0 * n), 0, nmax).astype(np.int64)
        out = []
        for d in range(TILE_ZOOM - TILE_MIN_ZOOM + 1):
            keys, counts = np.unique(np.stack([x >> d, y >> d], axis=1), axis=0,
                                     return_counts=True)
            out.extend((TILE_ZOOM - d, int(k[0]), int(k[1]), int(c))
                       for k, c in zip(keys, counts))
        return out

    # -- checks over the engine's collected pandas results --

    def check_read(self, pdf):
        return compare("read", zip(pdf["doc_id"], pdf["lat"].tolist(), pdf["lon"].tolist()),
                       self.read)

    def check_assembly(self, pdf):
        rows = ((int(w), tuple((p["lat"], p["lon"]) for p in pts), bool(c))
                for w, pts, c in zip(pdf["way_id"], pdf["points"], pdf["is_closed"]))
        return compare("assembly", rows, self.assembly)

    def check_pip_regions(self, pdf):
        return compare("pip_regions", zip(pdf["doc_id"], pdf["poly_id"]), self.pip_regions)

    def check_pip_footprints(self, pdf):
        return compare("pip_footprints", zip(pdf["doc_id"], pdf["poly_id"]),
                       self.pip_footprints)

    def check_tiles(self, pdf):
        rows = zip(pdf["tile_z"].astype(int), pdf["tile_x"].astype(int),
                   pdf["tile_y"].astype(int), pdf["n_docs"].astype(int))
        return compare("tiles", rows, self.tiles)

    def check_knn(self, pdf, n_queries: int):
        if len(pdf) != n_queries * KNN_K:
            return f"knn: got {len(pdf)} rows, want {n_queries * KNN_K}"
        sel = pdf[pdf["query_id"].isin(self.knn_checked)]
        return compare("knn", zip(sel["query_id"], sel["neighbor_id"], sel["rank"].astype(int)),
                       self.knn)


def shingles(text: str) -> set[bytes]:
    data = text.encode("utf-8")
    if len(data) < SHINGLE_K:
        data = data + b"\x00" * (SHINGLE_K - len(data))
    return {data[i : i + SHINGLE_K] for i in range(len(data) - SHINGLE_K + 1)}


def jaccard(a: set, b: set) -> float:
    u = len(a | b)
    return len(a & b) / u if u else 1.0


class DedupOracle:
    def __init__(self, ids, texts, exact_pairs, near_pairs):
        self.sh = dict(zip(ids, (shingles(t) for t in texts)))
        self.exact = set(exact_pairs)
        self.near = {p for p in near_pairs
                     if jaccard(self.sh[p[0]], self.sh[p[1]]) >= NEAR_RECALL_MIN_JACCARD}

    def check(self, pdf):
        """Every returned pair's exact Jaccard, plus recall of the planted
        copies. Returns (error or None, near-copy recall)."""
        pairs = list(zip(pdf["id_a"].astype(int), pdf["id_b"].astype(int),
                         pdf["jaccard"].astype(float)))
        seen = set()
        for a, b, j in pairs:
            if a >= b or (a, b) in seen:
                return f"dedup: pair ({a}, {b}) out of order or repeated", 0.0
            seen.add((a, b))
            want = jaccard(self.sh[a], self.sh[b])
            if abs(want - j) > 1e-9 or want < DEDUP_THRESHOLD:
                return f"dedup: pair ({a}, {b}) jaccard {j}, exact {want}", 0.0
        missing = self.exact - seen
        if missing:
            return f"dedup: {len(missing)} exact copies not returned", 0.0
        missed_near = self.near - seen
        recall = 1.0 - len(missed_near) / max(len(self.near), 1)
        if missed_near:
            return f"dedup: {len(missed_near)} planted near-copies not returned", recall
        return None, recall
