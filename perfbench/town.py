"""Seeded town generator and independent goldens for the town workload.

The town is the k x k lattice with OSM tag noise from
``tests/geo_fixtures.py`` (seeded with the benchmark seed), plus
standalone tagged POI nodes spread over every ``poi.TAG_MAP`` pair at
about one per ``POI_EVERY`` network nodes.  The engine receives only
files: an OSM .pbf of the whole town and the walking-network tables as
parquet.  Goldens are plain numpy / heapq code over the generator's own
pandas frames; they never read anything the engine wrote.
"""

from __future__ import annotations

import heapq
import math
from dataclasses import dataclass

import numpy as np
import pandas as pd

from fifteenmc_spark.plans.poi import TAG_MAP
from tests import geo_fixtures as gf
from tests.pbf_fixture import _blob, _ld, _primitive_block

POI_EVERY = 50
BLOB_ENTITIES = 8000  # OSM convention: at most 8,000 entities per OSMData blob
POI_ID_BASE = 2_000_000_000
LIMIT_M = 1000.0
MAX_SNAP_M = 300.0
R_QUERY_M = 6371000.0
TAG_COLS = ("highway", "foot", "sidewalk", "motorroad", "oneway")
TAG_PAIRS = [(cat, k, v) for cat, pairs in TAG_MAP.items() for k, v in pairs]


@dataclass
class Town:
    nodes: pd.DataFrame  # osm_node_id, lon, lat (network nodes only)
    edges_raw: pd.DataFrame  # way_id, u, v, tag columns
    pois: pd.DataFrame  # poi_id, category, tag_key, tag_value, lon, lat, name
    bbox: tuple[float, float, float, float]


def make_town(k: int, seed: int) -> Town:
    saved = gf.SEED
    gf.SEED = seed  # the fixtures read their module seed at call time
    try:
        nodes = gf.lattice_nodes(k)
        edges = gf.lattice_edges_raw(nodes, k)
    finally:
        gf.SEED = saved
    edges.insert(0, "way_id", np.arange(1, len(edges) + 1, dtype=np.int64))
    edges = edges.astype({"u": np.int64, "v": np.int64})

    rng = np.random.default_rng(seed + 7)
    n_poi = len(nodes) // POI_EVERY
    at = rng.choice(len(nodes), size=n_poi, replace=False)
    pair = rng.permutation(np.arange(n_poi) % len(TAG_PAIRS))
    # offsets up to ~20 m, rounded to the PBF's 1e-7 degree granularity so
    # the goldens see exactly the coordinates the engine decodes
    lon = np.round(nodes["lon"].to_numpy(np.float64)[at] + rng.uniform(-3e-4, 3e-4, n_poi), 7)
    lat = np.round(nodes["lat"].to_numpy(np.float64)[at] + rng.uniform(-1.8e-4, 1.8e-4, n_poi), 7)
    pois = pd.DataFrame(
        {
            "poi_id": POI_ID_BASE + np.arange(n_poi, dtype=np.int64),
            "category": [TAG_PAIRS[i][0] for i in pair],
            "tag_key": [TAG_PAIRS[i][1] for i in pair],
            "tag_value": [TAG_PAIRS[i][2] for i in pair],
            "lon": lon,
            "lat": lat,
            "name": [f"poi_{i}" for i in range(n_poi)],
        }
    )
    lo = nodes[["lon", "lat"]].min()
    hi = nodes[["lon", "lat"]].max()
    bbox = (float(lo["lon"]) - 1e-3, float(lo["lat"]) - 1e-3, float(hi["lon"]) + 1e-3, float(hi["lat"]) + 1e-3)
    return Town(nodes, edges, pois, bbox)


def _chunks(seq: list, n: int):
    for i in range(0, len(seq), n):
        yield seq[i : i + n]


def write_pbf(town: Town, path: str) -> None:
    """Whole-town .pbf: network nodes, POI nodes, then ways, in OSMData
    blobs of at most BLOB_ENTITIES entities."""
    nodes = [
        (int(i), float(x), float(y), {})
        for i, x, y in zip(town.nodes["osm_node_id"], town.nodes["lon"], town.nodes["lat"])
    ]
    nodes += [
        (int(r.poi_id), float(r.lon), float(r.lat), {r.tag_key: r.tag_value, "name": r.name})
        for r in town.pois.itertuples()
    ]
    tag_rows = town.edges_raw[list(TAG_COLS)].to_numpy(object)
    ways = [
        (int(w), [int(u), int(v)], {c: t for c, t in zip(TAG_COLS, tags) if isinstance(t, str)})
        for w, u, v, tags in zip(town.edges_raw["way_id"], town.edges_raw["u"], town.edges_raw["v"], tag_rows)
    ]
    parts = [_blob("OSMHeader", _ld(4, b"OsmSchema-V0.6") + _ld(4, b"DenseNodes"))]
    parts += [_blob("OSMData", _primitive_block(nodes=c)) for c in _chunks(nodes, BLOB_ENTITIES)]
    parts += [_blob("OSMData", _primitive_block(ways=c)) for c in _chunks(ways, BLOB_ENTITIES)]
    with open(path, "wb") as f:
        f.write(b"".join(parts))


def write_network(town: Town, out_dir: str) -> None:
    """The walking-network extract the graph is built from."""
    town.nodes.to_parquet(f"{out_dir}/nodes_raw.parquet", index=False)
    town.edges_raw.to_parquet(f"{out_dir}/edges_raw.parquet", index=False)


# ---------------------------------------------------------------------------
# goldens
# ---------------------------------------------------------------------------
class Golden:
    """Canonical graph, POI snap and bounded per-category reach, computed
    independently of the engine from the generator's frames."""

    def __init__(self, town: Town):
        self.gnodes, self.gedges = gf.golden_canonical_graph(town.nodes, town.edges_raw)
        n = len(self.gnodes)
        self.lon = self.gnodes["lon"].to_numpy(np.float64)
        self.lat = self.gnodes["lat"].to_numpy(np.float64)
        self.adj: list[list[tuple[int, float]]] = [[] for _ in range(n)]
        for s, d, w in zip(self.gedges["src"], self.gedges["dst"], self.gedges["w"]):
            self.adj[int(s)].append((int(d), float(w)))
        self.edge_set = set(zip(self.gedges["src"].tolist(), self.gedges["dst"].tolist()))
        self.pois = self._snap_pois(town.pois)
        self._reach: dict[str, dict[int, float]] = {}

    def _snap_pois(self, pois: pd.DataFrame) -> pd.DataFrame:
        nx, ny = gf.mercator_xy(self.lon, self.lat)
        px, py = gf.mercator_xy(pois["lon"], pois["lat"])
        best = np.empty(len(pois), dtype=np.int64)
        dist = np.empty(len(pois))
        for i in range(0, len(pois), 64):
            d = np.hypot(px[i : i + 64, None] - nx[None, :], py[i : i + 64, None] - ny[None, :])
            best[i : i + 64] = d.argmin(axis=1)  # first minimum = smaller node_idx
            dist[i : i + 64] = d[np.arange(d.shape[0]), best[i : i + 64]]
        out = pois.copy()
        out["node_idx"] = np.where(dist <= MAX_SNAP_M, best, -1)
        return out

    def reach(self, category: str) -> dict[int, float]:
        """node_idx -> distance to the nearest POI of ``category`` within
        LIMIT_M: one bounded multi-source heap Dijkstra."""
        if category not in self._reach:
            src = self.pois[(self.pois["category"] == category) & (self.pois["node_idx"] >= 0)]
            dist: dict[int, float] = {int(s): 0.0 for s in src["node_idx"]}
            pq = [(0.0, s) for s in dist]
            heapq.heapify(pq)
            while pq:
                d, u = heapq.heappop(pq)
                if d > dist[u]:
                    continue
                for v, w in self.adj[u]:
                    nd = d + w
                    if nd <= LIMIT_M and nd < dist.get(v, math.inf):
                        dist[v] = nd
                        heapq.heappush(pq, (nd, v))
            self._reach[category] = dist
        return self._reach[category]

    def snap_point(self, lon: float, lat: float) -> int | None:
        """Nearest node by haversine (R=6371000), ties to the smaller
        node_idx, None beyond MAX_SNAP_M."""
        d = gf.haversine_np(self.lon, self.lat, lon, lat, r=R_QUERY_M)
        i = int(d.argmin())
        return i if d[i] <= MAX_SNAP_M else None
