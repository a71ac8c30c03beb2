"""Seeded inputs for the benchmark: an OSM-PBF corpus and a text corpus.

Everything here is a pure function of the seed, so two runs with the same
seed feed the engine byte-identical files.

PBF corpus: point nodes (half of them in one ~0.2 degree hot cluster, the
rest uniform world-wide) plus ways. A twentieth of the hot points sit in a
~0.002 degree core at a fixed place: the one hot cell, heavy at every
cover level and for every seed. Every way owns its own vertex nodes,
placed next to a seed-chosen point node: one way in five is a small
closed footprint ring (a star-shaped polygon of radius 10-80 m), the rest
are short open polylines. Vertex nodes are written after the point nodes,
so every node is a point doc once ingested.

Text corpus: documents of 10-100 words over a small vocabulary, plus
seed-chosen exact copies and near-copies (a few token edits) of others.
"""

from __future__ import annotations

import numpy as np

from osm_pbf_spark.pbf import encoder as E

HOT_LAT, HOT_LON = 52.5, 13.4
HOT_HALF_DEG = 0.1
CORE_HALF_DEG = 0.001
CORE_SHARE = 0.05
HOT_FRACTION = 0.5
CLOSED_SHARE = 0.2
WAY_ID_BASE = 1_000_000_000
NODES_PER_BLOB = 4500
WAYS_PER_BLOB = 2000
TAG_KEYS = ["amenity", "shop", "name", "highway"]
TAG_VALS = ["cafe", "bakery", "alpha", "stop", "yes"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()


class PbfCorpus:
    """What was written, kept for the output checks.

    ``node_ids``/``lat_raw``/``lon_raw`` cover every node (points first,
    then way vertices); ``ways`` holds (way_id, refs, closed)."""

    def __init__(self, path, n_points, node_ids, lat_raw, lon_raw, ways, hot):
        self.path = path
        self.n_points = n_points
        self.node_ids = node_ids
        self.lat_raw = lat_raw
        self.lon_raw = lon_raw
        self.ways = ways
        self.hot = hot

    @property
    def n_nodes(self) -> int:
        return len(self.node_ids)

    @property
    def n_docs(self) -> int:
        return self.n_nodes + len(self.ways)

    def footprint_rings(self) -> list[tuple[str, list[tuple[float, float]]]]:
        """(poly_id, ring without its closing vertex) per closed way, with
        coordinates as a PBF decoder yields them (granularity 100)."""
        lat = 1e-9 * (100 * self.lat_raw.astype(np.float64))
        lon = 1e-9 * (100 * self.lon_raw.astype(np.float64))
        return [(f"way/{wid}", [(float(lat[r - 1]), float(lon[r - 1])) for r in refs[:-1]])
                for wid, refs, closed in self.ways if closed]


def write_pbf_corpus(path: str, seed: int, n_points: int, n_ways: int) -> PbfCorpus:
    rng = np.random.default_rng([seed, 1])
    n_hot = int(n_points * HOT_FRACTION)
    n_core = int(n_hot * CORE_SHARE)
    half = np.where(np.arange(n_hot) < n_core, CORE_HALF_DEG, HOT_HALF_DEG)
    lat = np.concatenate([
        HOT_LAT + rng.uniform(-1.0, 1.0, n_hot) * half,
        rng.uniform(-80.0, 80.0, n_points - n_hot),
    ])
    lon = np.concatenate([
        HOT_LON + rng.uniform(-1.0, 1.0, n_hot) * half,
        rng.uniform(-179.0, 179.0, n_points - n_hot),
    ])
    hot = np.zeros(n_points, dtype=bool)
    hot[:n_hot] = True
    order = rng.permutation(n_points)
    lat, lon, hot = lat[order], lon[order], hot[order]

    # ways: each owns fresh vertex nodes next to a seed-chosen point node
    closed = np.zeros(n_ways, dtype=bool)
    closed[rng.choice(n_ways, int(n_ways * CLOSED_SHARE), replace=False)] = True
    anchors = rng.integers(0, n_points, n_ways)
    v_lat, v_lon, ways = [], [], []
    next_id = n_points + 1
    for w in range(n_ways):
        a_lat, a_lon = lat[anchors[w]], lon[anchors[w]]
        if closed[w]:
            m = int(rng.integers(4, 9))
            ang = np.sort(rng.uniform(0.0, 2 * np.pi, m))
            rad = rng.uniform(1e-4, 7e-4) * rng.uniform(0.6, 1.0, m)
            c_lat = a_lat + rng.uniform(-3e-4, 3e-4)
            c_lon = a_lon + rng.uniform(-3e-4, 3e-4)
            pl, pn = c_lat + rad * np.sin(ang), c_lon + rad * np.cos(ang)
        else:
            m = int(rng.integers(2, 9))
            pl = a_lat + np.cumsum(rng.uniform(-3e-4, 3e-4, m))
            pn = a_lon + np.cumsum(rng.uniform(-3e-4, 3e-4, m))
        refs = list(range(next_id, next_id + m))
        next_id += m
        v_lat.append(pl)
        v_lon.append(pn)
        ways.append((WAY_ID_BASE + w, refs + refs[:1] if closed[w] else refs, bool(closed[w])))

    all_lat = np.concatenate([lat] + v_lat)
    all_lon = np.concatenate([lon] + v_lon)
    node_ids = np.arange(1, len(all_lat) + 1, dtype=np.int64)
    lat_raw = np.round(all_lat * 1e7).astype(np.int64)  # granularity 100
    lon_raw = np.round(all_lon * 1e7).astype(np.int64)
    has_tag = rng.random(len(node_ids)) < 0.3
    tag_k = rng.integers(0, len(TAG_KEYS), len(node_ids))
    tag_v = rng.integers(0, len(TAG_VALS), len(node_ids))

    blocks = []
    for s in range(0, len(node_ids), NODES_PER_BLOB):
        st = E.StringTable()
        nodes = [
            {"id": int(node_ids[i]), "lat_raw": int(lat_raw[i]), "lon_raw": int(lon_raw[i]),
             "tags": {TAG_KEYS[tag_k[i]]: TAG_VALS[tag_v[i]]} if has_tag[i] else {}}
            for i in range(s, min(s + NODES_PER_BLOB, len(node_ids)))
        ]
        blocks.append(E.encode_primitive_block([E.encode_dense_nodes(nodes, st)], st))
    for s in range(0, n_ways, WAYS_PER_BLOB):
        st = E.StringTable()
        body = b"".join(
            E.encode_way({"id": wid, "refs": refs,
                          "tags": {"building": "yes"} if is_closed else {"highway": "path"}}, st)
            for wid, refs, is_closed in ways[s : s + WAYS_PER_BLOB]
        )
        blocks.append(E.encode_primitive_block([body], st))
    E.write_pbf(path, blocks)
    return PbfCorpus(path, n_points, node_ids, lat_raw, lon_raw, ways, hot)


def check_pbf_corpus(corpus: PbfCorpus) -> dict:
    """Decode the file with the scalar reference decoder, compare entity
    counts and id sums with what was written; -> the decoded entities."""
    from tests.oracle_pbf import decode_file

    got = decode_file(corpus.path)
    want_way_ids = sum(w[0] for w in corpus.ways)
    want_refs = sum(sum(w[1]) for w in corpus.ways)
    checks = {
        "nodes": (len(got["nodes"]), corpus.n_nodes),
        "node_id_sum": (sum(n["id"] for n in got["nodes"]), int(corpus.node_ids.sum())),
        "ways": (len(got["ways"]), len(corpus.ways)),
        "way_id_sum": (sum(w["id"] for w in got["ways"]), want_way_ids),
        "ref_sum": (sum(sum(w["refs"]) for w in got["ways"]), want_refs),
        "relations": (len(got["relations"]), 0),
    }
    bad = {k: v for k, v in checks.items() if v[0] != v[1]}
    if bad:
        raise ValueError(f"generated PBF does not decode to what was written: {bad}")
    return got


def make_text_docs(seed: int, n_docs: int, n_exact: int, n_near: int):
    """-> (doc_ids, texts, exact_pairs, near_pairs).

    Copies get ids above every original; each planted pair is
    (original_id, copy_id)."""
    rng = np.random.default_rng([seed, 2])
    lens = rng.integers(10, 101, n_docs)
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), n)]) for n in lens]
    ids = list(range(n_docs))
    # near-copies edit long docs, so the planted Jaccard stays well above
    # the 0.5 threshold; exact copies come from any doc
    long_docs = np.nonzero(lens >= 60)[0]
    near_src = rng.choice(long_docs, n_near, replace=False)
    exact_src = rng.choice(np.setdiff1d(np.arange(n_docs), near_src), n_exact, replace=False)
    exact_pairs, near_pairs = [], []
    for src in exact_src:
        exact_pairs.append((int(src), len(ids)))
        ids.append(len(ids))
        texts.append(texts[src])
    for src in near_src:
        toks = texts[src].split()
        for pos in rng.choice(len(toks), int(rng.integers(1, 3)), replace=False):
            toks[pos] = "edit" + str(int(rng.integers(0, 1000)))
        near_pairs.append((int(src), len(ids)))
        ids.append(len(ids))
        texts.append(" ".join(toks))
    return ids, texts, exact_pairs, near_pairs
