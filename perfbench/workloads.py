"""The two workloads.  Each has a set-up (untimed, untraced), a timed
*unit* of work that the runner repeats for the run's seconds, an answer
check that runs after the timed region, and the per-layer figures its
traced units produce.  See README.md for why each workload exists.
"""

from __future__ import annotations

import math
import os
import time
import traceback

import numpy as np

from . import town as town_mod
from .spans import Tracer, median

K_TOWN = 64  # 4,096 network nodes, ~12.6k directed edges: one-task reach
STREAM_BLOCKS = 20
BLOCK_POINTS = 10
REACH_SAMPLE = 300
SUITE_SF = 0.002
DIST_TOL_M = 1e-2

# The declared queries timed by query_suite: one per family group, each
# among the slower of its group at this scale and with a DuckDB oracle
# cheap enough to check every run.  x10 carries an eager edge-count probe
# inside q.build, an open ROADMAP question.
SUITE = {
    "d": ("d8_median",),
    "v": ("v13_ivfpq_topk",),
    "x": ("x10_link_pagerank",),
    "tp": ("t12_winnowing_fingerprint",),
    "mg": ("g3_bounded_reach",),
}


def family_of(name: str) -> str:
    return {"t": "tp", "p": "tp", "m": "mg", "g": "mg"}.get(name[0], name[0])


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, files) of the parquet data files under ``path``."""
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                size += os.path.getsize(os.path.join(root, n))
                files += 1
    return size, files


class Workload:
    """Shared plumbing.  ``unit`` returns its operations as (op_id,
    seconds, error, is_request); only requests count for the latency
    percentile.  ``results`` keeps what each operation returned for the
    answer check."""

    def __init__(self, spark, tracer: Tracer, work: str, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.setup_parts: dict[str, float] = {}
        self.results: dict[str, object] = {}

    def timed_op(self, op_id: str, fn) -> tuple[float, str | None]:
        t0 = time.perf_counter()
        try:
            self.results[op_id] = fn()
            err = None
        except Exception:  # noqa: BLE001 - a failed operation is counted, the run goes on
            err = traceback.format_exc(limit=3)
            self.results[op_id] = None
        return time.perf_counter() - t0, err


# ---------------------------------------------------------------------------
# town: the batch job, then the query endpoint on what it wrote
# ---------------------------------------------------------------------------
class Town(Workload):
    """One unit = the batch job as a user runs it (ingest the .pbf, then
    build_all, write_gold and the three z-ordered layouts), followed by
    one block of queries served from those layouts by one client in a
    closed loop: BLOCK_POINTS G7 point queries and two path-to-nearest-POI
    queries.  The job's two steps count as operations; only the queries
    count as requests for the latency percentile."""

    def setup(self) -> None:
        t0 = time.perf_counter()
        self.town = town_mod.make_town(K_TOWN, self.seed)
        self.pbf_path = f"{self.work}/town.pbf"
        town_mod.write_pbf(self.town, self.pbf_path)
        town_mod.write_network(self.town, self.work)
        self.stream = self._make_stream()
        self.setup_parts["inputs_s"] = time.perf_counter() - t0

    def _make_stream(self) -> list[list[tuple]]:
        """STREAM_BLOCKS blocks of (kind, lon, lat, category) in a fixed
        seeded order: BLOCK_POINTS // 2 point queries, a path query whose
        category has a POI within 500 m great-circle of the start, the
        other point queries, then a path query whose category has none
        within 1,400 m (beyond any 1,000 m walk plus snap).  A fixed
        composition keeps a block's cost from hanging on a random draw
        of found and not-found paths."""
        town, rng = self.town, np.random.default_rng(self.seed + 3)
        lon, lat = town.nodes["lon"].to_numpy(np.float64), town.nodes["lat"].to_numpy(np.float64)
        lo = (lon.min() + 0.002, lat.min() + 0.0012)
        hi = (lon.max() - 0.002, lat.max() - 0.0012)
        pl, pa = town.pois["lon"].to_numpy(), town.pois["lat"].to_numpy()
        cats = town.pois["category"].to_numpy()

        def point():
            return float(rng.uniform(lo[0], hi[0])), float(rng.uniform(lo[1], hi[1]))

        def path(found: bool) -> tuple:
            while True:
                x, y = point()
                d = town_mod.gf.haversine_np(pl, pa, x, y, r=town_mod.R_QUERY_M)
                near = {c: float(d[cats == c].min()) for c in np.unique(cats)}
                pool = sorted(c for c, v in near.items() if (v <= 500.0 if found else v > 1400.0))
                if pool:
                    return ("path", x, y, str(rng.choice(pool)))

        half = BLOCK_POINTS // 2
        return [
            [("point", *point(), None) for _ in range(half)]
            + [path(True)]
            + [("point", *point(), None) for _ in range(BLOCK_POINTS - half)]
            + [path(False)]
            for _ in range(STREAM_BLOCKS)
        ]

    def instrument(self) -> None:
        from fifteenmc_spark.plans import graph_build, grid, layout, poi, query, reach, snap
        from fifteenmc_spark.sources import pbf

        t = self.tracer
        t.instrument(pbf, "index_blobs", "pbf", on_result=lambda out, rec: rec.update(blobs=len(out)))
        t.instrument(grid, "generate_tiles", "grid", materialize=True)
        t.instrument(graph_build, "build_graph", "graph", materialize=True)
        t.instrument(poi, "classify_pois", "poi", materialize=True)
        t.instrument(snap, "snap_points_to_nodes", "snap", materialize=True)
        t.instrument(reach, "shortest_paths_bounded", "reach", materialize=True)
        t.instrument(reach, "compute_reach", "reach", materialize=True)
        t.instrument(reach, "reach_summary", "reach", materialize=True)
        t.instrument(layout, "write_zorder_layout", "layout")
        t.instrument(snap, "snap_single_point_zordered", "snap")
        t.instrument(snap, "snap_single_point", "snap")
        t.instrument(snap, "read_zordered_disc", "snap")
        t.instrument(layout, "zprefixes_for_bbox", "layout", on_result=lambda out, rec: rec.update(cells=len(out)))
        t.instrument(query, "_backtrack_chain", "query")

    def unit(self, k: int):
        from fifteenmc_spark.plans import layout, pipeline, poi, query, reach
        from fifteenmc_spark.sources import pbf

        spark, t, w, bbox = self.spark, self.tracer, self.work, self.town.bbox
        graph: dict = {}

        def ingest():
            with t.span("pbf.ingest_pbf", "pbf"):
                pbf.ingest_pbf(spark, self.pbf_path, f"{w}/elements")

        def build():
            with t.span("pipeline.build_all", "pipeline"):
                g = pipeline.build_all(
                    spark,
                    spark.read.parquet(f"{w}/nodes_raw.parquet"),
                    spark.read.parquet(f"{w}/edges_raw.parquet"),
                    elements=spark.read.parquet(f"{w}/elements"),
                )
            with t.span("pipeline.write_gold", "pipeline"):
                pipeline.write_gold(g, f"{w}/gold")
            spark.catalog.clearCache()
            gn = spark.read.parquet(f"{w}/gold/graph_nodes")
            with t.span("layout.write_nodes", "layout"):
                layout.write_zorder_layout(gn, f"{w}/layout_nodes", bbox)
            with t.span("reach.write_reach_zordered", "reach"):
                reach.write_reach_zordered(spark.read.parquet(f"{w}/gold/reach"), gn, f"{w}/layout_reach", bbox)
            with t.span("poi.write_pois_zordered", "poi"):
                pz = spark.read.parquet(f"{w}/gold/pois").where("node_idx IS NOT NULL")
                poi.write_pois_zordered(pz, f"{w}/layout_pois", bbox)
            # the endpoint keeps the graph it serves paths on cached
            graph["nodes"] = gn.cache()
            graph["edges"] = spark.read.parquet(f"{w}/gold/graph_edges").cache()
            graph["nodes"].count()
            graph["edges"].count()

        t.request = f"build-{k}"
        ops = [(f"ingest#{k}", *self.timed_op(f"ingest#{k}", ingest), False)]
        ops.append((f"build#{k}", *self.timed_op(f"build#{k}", build), False))
        if "edges" not in graph:
            t.request = None
            return ops  # the build failed: nothing to serve
        b = k % STREAM_BLOCKS
        for i, (kind, lon, lat, cat) in enumerate(self.stream[b]):
            op_id = f"{kind}-{b}-{i}#{k}"
            t.request = op_id
            if kind == "point":

                def fn(lon=lon, lat=lat):
                    with t.span("query.point_reachability_zordered", "query"):
                        return query.point_reachability_zordered(
                            spark, None, f"{w}/layout_nodes", bbox, lon, lat,
                            reach_layout_path=f"{w}/layout_reach",
                        ).collect()
            else:

                def fn(lon=lon, lat=lat, cat=cat):
                    with t.span("query.path_to_nearest_poi_zordered", "query"):
                        return query.path_to_nearest_poi_zordered(
                            spark, graph["nodes"], graph["edges"], f"{w}/layout_pois", bbox, lon, lat, cat
                        ).collect()

            ops.append((op_id, *self.timed_op(op_id, fn), True))
        t.request = None
        spark.catalog.clearCache()
        return ops

    def detail(self, units) -> dict[str, float]:
        def times(prefix):
            return [s for u in units for op, s, _, _ in u["ops"] if op.startswith(prefix)]

        def pct(prefix, q):
            xs = times(prefix)
            return 1e3 * float(np.percentile(xs, q)) if xs else 0.0

        paths = [op for u in units for op, _, _, _ in u["ops"] if op.startswith("path")]
        return {
            "ingest_s": median(times("ingest")),
            "build_s": median(times("build")),
            "point_p50_ms": pct("point", 50),
            "point_p90_ms": pct("point", 90),
            "path_p50_ms": pct("path", 50),
            "paths": len(paths),
            "paths_found": sum(bool(self.results.get(op)) for op in paths),
        }

    # -- answer checks, after the timed region --------------------------------
    def check(self) -> dict[str, str]:
        golden = town_mod.Golden(self.town)
        job = self._check_job(golden)
        # a failed job check fails that step in every unit (the job is deterministic)
        bad = {op: job[op.split("#")[0]] for op in self.results if op.split("#")[0] in job}
        bad.update(self._check_queries(golden))
        return bad

    def _check_job(self, golden) -> dict[str, str]:
        """Checks on the last unit's outputs: element counts, POI snap,
        a seeded sample of reach distances, and layout row counts."""
        from pyspark.sql import functions as F

        spark, w, town = self.spark, self.work, self.town
        bad: dict[str, str] = {}
        el = spark.read.parquet(f"{w}/elements").groupBy("elem_type").count().collect()
        got = {r["elem_type"]: r["count"] for r in el}
        tagged_ways = int(town.edges_raw[list(town_mod.TAG_COLS)].notna().any(axis=1).sum())
        want = {"node": len(town.pois), "way": tagged_ways}
        if got != want:
            bad["ingest"] = f"element counts {got} != {want}"
        problems = []
        pz = spark.read.parquet(f"{w}/gold/pois").select("poi_id", "node_idx").toPandas()
        if len(pz) != len(town.pois):
            problems.append(f"{len(pz)} POIs != {len(town.pois)}")
        snap_want = dict(zip(golden.pois["poi_id"], golden.pois["node_idx"]))
        wrong = sum(
            (-1 if math.isnan(n) else int(n)) != snap_want.get(p) for p, n in zip(pz["poi_id"], pz["node_idx"])
        )
        if wrong:
            problems.append(f"{wrong} POIs snapped to another node than the golden")
        rng = np.random.default_rng(self.seed + 11)
        cats = sorted(town.pois["category"].unique())
        sample = list(zip(rng.integers(0, len(golden.gnodes), REACH_SAMPLE).tolist(), rng.choice(cats, REACH_SAMPLE)))
        rows = (
            spark.read.parquet(f"{w}/gold/reach")
            .where(F.col("node_idx").isin(sorted({n for n, _ in sample})))
            .select("node_idx", "category", "dist_m")
            .collect()
        )
        eng = {(r["node_idx"], r["category"]): r["dist_m"] for r in rows}
        mism = 0
        for n, c in sample:
            g, e = golden.reach(c).get(n, math.inf), eng.get((n, c), math.inf)
            if not ((math.isinf(g) and math.isinf(e)) or abs(g - e) <= DIST_TOL_M):
                mism += 1
        if mism:
            problems.append(f"{mism}/{REACH_SAMPLE} sampled reach distances differ from the golden")
        n_gold = {t: spark.read.parquet(f"{w}/gold/{t}").count() for t in ("graph_nodes", "reach")}
        n_lay = {t: spark.read.parquet(f"{w}/layout_{d}").count() for t, d in (("graph_nodes", "nodes"), ("reach", "reach"))}
        if n_gold != n_lay:
            problems.append(f"layout rows {n_lay} != gold rows {n_gold}")
        if problems:
            bad["build"] = "; ".join(problems)
        return bad

    def _check_queries(self, golden) -> dict[str, str]:
        by_cat = golden.pois[golden.pois["node_idx"] >= 0].groupby("category")
        seeds = {c: set(g["node_idx"].tolist()) for c, g in by_cat}
        poi_cat = dict(zip(golden.pois["poi_id"], golden.pois["category"]))
        bad: dict[str, str] = {}
        for op_id, rows in self.results.items():
            kind = op_id.split("-")[0]
            if rows is None or kind not in ("point", "path"):
                continue
            _, b, i = op_id.split("#")[0].split("-")
            _, lon, lat, cat = self.stream[int(b)][int(i)]
            node = golden.snap_point(lon, lat)
            if kind == "point":
                want = {}
                if node is not None:
                    for c in seeds:
                        d = golden.reach(c).get(node)
                        if d is not None and d <= town_mod.LIMIT_M:
                            want[c] = d
                got = {r["category"]: r["dist_m"] for r in rows}
                if got.keys() != want.keys() or any(abs(got[c] - want[c]) > DIST_TOL_M for c in want):
                    bad[op_id] = f"point answer {sorted(got.items())} != golden {sorted(want.items())}"
                continue
            want_d = golden.reach(cat).get(node) if node is not None else None
            if want_d is None:
                if rows:
                    bad[op_id] = f"path of {len(rows)} nodes where the golden has no {cat} within reach"
                continue
            chain = [r["node_idx"] for r in rows]
            errs = []
            if not rows:
                errs.append("no path")
            else:
                if chain[0] != node:
                    errs.append(f"starts at {chain[0]}, golden snap {node}")
                if any((a, b) not in golden.edge_set for a, b in zip(chain, chain[1:])):
                    errs.append("steps that are not edges")
                if chain[-1] not in seeds[cat] or poi_cat.get(rows[-1]["poi_id"]) != cat:
                    errs.append("does not end at a POI of the category")
                if abs(rows[-1]["cum_m"] - want_d) > DIST_TOL_M:
                    errs.append(f"cum_m {rows[-1]['cum_m']} != golden {want_d}")
            if errs:
                bad[op_id] = "; ".join(errs)
        return bad

    # -- per-layer figures of the traced unit -------------------------------
    def layer_metrics(self, units) -> dict[str, float]:
        m = self._job_layers(units)
        m.update(self._query_layers())
        m.update(self._extras())
        return m

    def _job_layers(self, units) -> dict[str, float]:
        from fifteenmc_spark.plans import reach as reach_mod

        spark, t, w = self.spark, self.tracer, self.work
        req = f"build-{[u for u in units if u['traced']][-1]['k']}"

        def spans(name):
            return t.find(name, req)

        def dur(name):
            return sum(r["end"] - r["start"] for r in spans(name))

        def rows(name, i=None):
            rs = [r.get("rows") for r in spans(name)]
            return (rs[-1][i] if i is not None else rs[-1]) if rs else 0

        m: dict[str, float] = {}
        idx = spans("pbf.index_blobs")
        m["pbf.index_s"] = dur("pbf.index_blobs")
        m["pbf.blobs"] = idx[-1]["blobs"] if idx else 0
        m["pbf.ingest_s"] = dur("pbf.ingest_pbf")
        m["pbf.bytes_in"] = os.path.getsize(self.pbf_path)
        m["pbf.bytes_out"], m["pbf.files_out"] = dir_stats(f"{w}/elements")
        m["pbf.elements"] = spark.read.parquet(f"{w}/elements").count()
        m["grid.tiles_s"] = dur("grid.generate_tiles")
        m["grid.tiles"] = rows("grid.generate_tiles")
        m["graph.build_s"] = dur("graph_build.build_graph")
        m["graph.nodes"] = rows("graph_build.build_graph", 0)
        m["graph.edges"] = rows("graph_build.build_graph", 1)
        m["poi.classify_s"] = dur("poi.classify_pois")
        m["poi.pois"] = rows("poi.classify_pois")
        m["snap.bulk_s"] = dur("snap.snap_points_to_nodes")
        sn = spark.read.parquet(f"{w}/gold/pois")
        m["snap.snapped_frac"] = sn.where("node_idx IS NOT NULL").count() / max(sn.count(), 1)
        reach_spans = spans("reach.compute_reach")
        m["reach.s"] = dur("reach.compute_reach")
        m["reach.rows"] = rows("reach.compute_reach")
        m["reach.strategy_frontier"] = float(m["graph.edges"] > reach_mod.LOCAL_EDGE_THRESHOLD)
        m["reach.jobs"] = sum(t.total(r, "jobs") for r in reach_spans)
        m["reach.tasks"] = sum(t.total(r, "tasks") for r in reach_spans)
        m["gold.write_s"] = dur("pipeline.write_gold")
        gold = [dir_stats(f"{w}/gold/{d}") for d in sorted(os.listdir(f"{w}/gold"))]
        m["gold.bytes"], m["gold.files"] = sum(g[0] for g in gold), sum(g[1] for g in gold)
        m["layout.write_s"] = dur("layout.write_zorder_layout")
        lay = [dir_stats(f"{w}/layout_{d}") for d in ("nodes", "reach", "pois")]
        m["layout.bytes"], m["layout.files"] = sum(x[0] for x in lay), sum(x[1] for x in lay)
        return m

    def _query_layers(self) -> dict[str, float]:
        from fifteenmc_spark.plans import layout

        t = self.tracer
        points = t.find("query.point_reachability_zordered")
        paths = t.find("query.path_to_nearest_poi_zordered")

        def ms(spans):
            return 1e3 * sum(r["end"] - r["start"] for r in spans)

        def within(req_span, name):
            return [r for r in t.subtree(req_span) if r["name"] == name]

        def mean(xs):
            return float(np.mean(xs)) if xs else 0.0

        m: dict[str, float] = {}
        p_snap = [ms(within(p, "snap.snap_single_point_zordered")) for p in points]
        m["point.snap_ms"] = median(p_snap)
        m["point.lookup_ms"] = median([ms([p]) - s for p, s in zip(points, p_snap)])
        cells = [c["cells"] for p in points for c in within(p, "layout.zprefixes_for_bbox")]
        m["point.cells_frac"] = mean(cells) / 4**layout.ZORDER_LEVELS
        p_rows = [len(self.results[p["request"]] or []) for p in points]
        m["point.rows"] = mean(p_rows)
        m["point.nonempty_frac"] = mean([n > 0 for n in p_rows])
        m["point.jobs"] = mean([t.total(p, "jobs") for p in points])
        q_snap = [ms(within(p, "snap.snap_single_point")) for p in paths]
        q_sssp = [ms(within(p, "reach.shortest_paths_bounded")) for p in paths]
        m["path.snap_ms"] = median(q_snap)
        m["path.sssp_ms"] = median(q_sssp)
        m["path.backtrack_ms"] = median([ms([p]) - a - b for p, a, b in zip(paths, q_snap, q_sssp)])
        q_rows = [len(self.results[p["request"]] or []) for p in paths]
        m["path.found_frac"] = mean([n > 0 for n in q_rows])
        m["path.nodes"] = mean([n for n in q_rows if n])
        m["path.jobs"] = mean([t.total(p, "jobs") for p in paths])
        return m

    def _extras(self) -> dict[str, float]:
        """Untimed, untraced extras: the decode alone, the frontier loop
        on the same graph, and the known defect of building the graph
        straight from the .pbf (POIs snap onto their own edge-less nodes)."""
        from fifteenmc_spark.plans import graph_build, poi, reach, snap
        from fifteenmc_spark.sources import pbf
        from pyspark.sql import functions as F

        spark, w = self.spark, self.work
        m: dict[str, float] = {}
        t0 = time.perf_counter()
        pbf.read_pbf_raw(spark, self.pbf_path).write.format("noop").mode("overwrite").save()
        m["pbf.decode_s"] = time.perf_counter() - t0
        er = spark.read.parquet(f"{w}/edges_raw.parquet")
        m["graph.walkable_frac"] = graph_build.clean_walkable_edges(er).count() / er.count()
        gn, ge = spark.read.parquet(f"{w}/gold/graph_nodes"), spark.read.parquet(f"{w}/gold/graph_edges")
        pz = spark.read.parquet(f"{w}/gold/pois")
        t0 = time.perf_counter()
        m["reach.frontier_rows"] = reach.compute_reach(gn, ge, pz, strategy="frontier").count()
        m["reach.frontier_s"] = time.perf_counter() - t0
        nodes_raw, edges_raw = pbf.pbf_graph_inputs(spark, self.pbf_path)
        pgn, pge = graph_build.build_graph(nodes_raw, graph_build.clean_walkable_edges(edges_raw))
        snapped = snap.snap_points_to_nodes(
            poi.classify_pois(spark.read.parquet(f"{w}/elements")), pgn, max_snap_m=town_mod.MAX_SNAP_M
        )
        m["pbf_graph.poi_self_snaps"] = (
            snapped.where("node_idx IS NOT NULL")
            .join(pge.select(F.col("src").alias("node_idx")).distinct(), "node_idx", "left_anti")
            .count()
        )
        return m


# ---------------------------------------------------------------------------
# query_suite
# ---------------------------------------------------------------------------
class QuerySuite(Workload):
    """The declared-query contract in a warm session: one unit = one pass
    over the SUITE queries, each built and run to a noop sink.  The
    session-index feeds the queries share are built by the warm-up pass,
    on first touch, as in a serving session."""

    def setup(self) -> None:
        from fifteenmc_spark.operators.relational import QUERIES

        from . import tables

        spark = self.spark
        self.sf_dir = f"{self.work}/sf"
        t0 = time.perf_counter()
        tables.write_tables(tables.make_tables(SUITE_SF, self.seed), self.sf_dir)
        self.setup_parts["inputs_s"] = time.perf_counter() - t0
        self.queries = {n: QUERIES[n] for fam in SUITE.values() for n in fam}
        # untimed warm-up pass; its answers are the ones checked against
        # the DuckDB oracle (the queries are deterministic)
        t0 = time.perf_counter()
        self.answers = {n: q.build(spark, self.sf_dir).toPandas() for n, q in self.queries.items()}
        self.setup_parts["warmup_s"] = time.perf_counter() - t0

    def instrument(self) -> None:
        """The spans are the benchmark's own, around q.build and the action."""

    def _run_query(self, name: str, q, tag: str):
        t = self.tracer
        t.request = f"{name}#{tag}"

        def fn():
            with t.span("operators.build", "operators"):
                df = q.build(self.spark, self.sf_dir)
            with t.span("operators.exec", "operators"):
                df.write.format("noop").mode("overwrite").save()

        out = (t.request, *self.timed_op(t.request, fn), True)
        t.request = None
        return out

    def unit(self, k: int):
        return [self._run_query(n, q, str(k)) for n, q in self.queries.items()]

    def detail(self, units) -> dict[str, float]:
        fam = {f: [] for f in SUITE}
        for u in units:
            sums = dict.fromkeys(SUITE, 0.0)
            for op, s, _, _ in u["ops"]:
                sums[family_of(op)] += s
            for f in SUITE:
                fam[f].append(sums[f])
        out = {f"suite_{f}_s": median(v) for f, v in fam.items()}
        out["suite_s"] = median([sum(s for _, s, _, _ in u["ops"]) for u in units])
        return out

    def check(self) -> dict[str, str]:
        from tests.oracle_util import canonical_rows, duckdb_conn

        con = duckdb_conn(self.sf_dir)
        bad: dict[str, str] = {}
        for name, q in self.queries.items():
            got = self.answers[name]
            try:
                want = con.execute(q.oracle).fetchdf()
            except Exception as e:  # noqa: BLE001 - recorded as a failed check
                bad[name] = f"oracle failed: {type(e).__name__}: {e}"[:300]
                continue
            if sorted(got.columns) != sorted(want.columns) or canonical_rows(got) != canonical_rows(want):
                bad[name] = f"answer differs from the DuckDB oracle ({len(got)} vs {len(want)} rows)"
        con.close()
        # every execution of a query whose answer is wrong counts as failed
        return {op: bad[op.split("#")[0]] for op in self.results if op.split("#")[0] in bad}

    def per_query(self, tag: str | None = None) -> dict[str, dict]:
        """Per-query medians of build/exec seconds and Spark counts over the
        traced executions (only those whose request ends in ``#tag`` when
        given, else all but the full-contract pass)."""
        reqs: dict[str, dict] = {}
        for r in self.tracer.spans:
            if r["name"] not in ("operators.build", "operators.exec"):
                continue
            d = reqs.setdefault(r["request"], dict.fromkeys(("build_s", "exec_s", "jobs", "tasks", "failed_tasks"), 0))
            d["build_s" if r["name"] == "operators.build" else "exec_s"] += r["end"] - r["start"]
            for c in ("jobs", "tasks", "failed_tasks"):
                d[c] += r.get(c, 0)
        by_q: dict[str, list[dict]] = {}
        for req, d in reqs.items():
            name, _, rtag = req.partition("#")
            if (rtag == tag) if tag else (rtag != "all"):
                by_q.setdefault(name, []).append(d)
        return {n: {k: median([d[k] for d in ds]) for k in ds[0]} for n, ds in by_q.items()}

    def record_all(self, deadline: float) -> list[str]:
        """Traced pass over every declared query for the per-query record
        in the trace file (not part of any metric).  Starts no query after
        ``deadline`` (perf_counter); returns the names it had to skip."""
        from fifteenmc_spark.operators.relational import QUERIES

        names = list(QUERIES)
        r = self.seed % len(names)  # rotate, so runs that stop early skip different queries
        skipped = []
        for name in names[r:] + names[:r]:
            if time.perf_counter() > deadline:
                skipped.append(name)
            else:
                self._run_query(name, QUERIES[name], "all")
        return skipped

    def setup_layers(self) -> dict[str, float]:
        """Untimed extras of the traced run: the table scan (read_table and
        a count of every table) and serving.warm_session_index on a fresh
        index cache, the two set-up steps a serving session would run."""
        from fifteenmc_spark import serving
        from fifteenmc_spark.io import TABLES, read_table
        from fifteenmc_spark.operators import session_index

        t0 = time.perf_counter()
        for t in TABLES:
            read_table(self.spark, self.sf_dir, t).count()
        scan_s = time.perf_counter() - t0
        session_index.invalidate(self.sf_dir)
        t0 = time.perf_counter()
        artifacts = serving.warm_session_index(self.spark, self.sf_dir)
        return {"io.scan_s": scan_s, "serving.warm_s": time.perf_counter() - t0, "serving.artifacts": len(artifacts)}

    def layer_metrics(self, units) -> dict[str, float]:
        m: dict[str, float] = {}
        pq = self.per_query()
        for fam in SUITE:
            recs = [v for n, v in pq.items() if family_of(n) == fam]
            for c in ("build_s", "exec_s", "jobs", "tasks", "failed_tasks"):
                m[f"{fam}.{c}"] = sum(r[c] for r in recs)
        return m


WORKLOADS = {"town": Town, "query_suite": QuerySuite}
