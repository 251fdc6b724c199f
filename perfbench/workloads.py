"""The benchmark's workloads: seeded inputs, timed layer calls, output checks.

Every workload offers the same four steps, which ``run.py`` drives:

- ``build()``: fixtures and covers (timed, repeated, part of ``setup_s``);
- ``prepare_checks()``: the independent answers the checks compare against
  (not timed: a user of the engine never pays for them);
- ``warm()``: warm-up passes through every timed call (part of ``setup_s``);
- ``ops(round)``: the timed calls of one round, as ``(span name, call)``
  pairs, called for at least ``min_rounds`` rounds. A call runs
  one layer function and the action that consumes its output, and returns
  a check that says whether the output was right. ``rec`` is the trace
  span (None when untraced) that a call may attach plan counts to.

Two workloads are timed: ``assign_tiles`` and ``pipeline``. The nearest-
neighbour layers (``NNHotspot``) join the traced ``assign_tiles`` runs
only: their calls are a dozen small jobs each, and their walls swing with
the host's load too much to gate a run (README.md).
"""

from __future__ import annotations

import os
import shutil
from contextlib import contextmanager

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from prclz_spark import contract, pipeline
from prclz_spark.operators import assign, knn, rangejoin, tiles
from prclz_spark.sources import synth
from prclz_spark.sources.tablestore import TableStore

from tracing import MB, plan_nodes

# full and smoke sizes; BENCHMARK.json and README.md state the full ones
SIZES = {
    "assign_tiles": {
        "full": {"points": 3_000_000, "partitions": 8},
        "smoke": {"points": 20_000, "partitions": 4},
    },
    "nn": {
        "full": {"events": 10_000, "anchors": 2_000, "road_points": 60_000,
                 "road_grid": 16, "partitions": 8},
        "smoke": {"events": 3_000, "anchors": 600, "road_points": 6_000,
                  "road_grid": 4, "partitions": 4},
    },
    "pipeline": {
        "full": {"images": 1_000, "warm_images": 200, "grid": 2, "resumes": 6},
        "smoke": {"images": 200, "warm_images": 100, "grid": 1, "resumes": 2},
    },
}

HOT_SHARE = 0.3  # synth's hotspot: 30% of points in 1.5% of the AOI
FRAC = 1 << 52
ROAD_JITTER = 0.25  # road vertices move by up to ±1/8 of a block step
SAMPLE = 1_200  # points re-checked by numpy brute force per NN call
PARCEL_RES = [17, contract.KNN_RES]


# -- seeded inputs -------------------------------------------------------------

def points(spark, n: int, seed: int, stream: int, partitions: int, id_col: str):
    """``n`` points (id, lon, lat) as Column arithmetic on ``spark.range``
    ids, with synth's hotspot shape. Each coordinate is a hash of
    (seed, stream, id), so positions never repeat within a run and
    ``stream`` decorrelates point sets drawn with the same seed."""

    def unit(k: int):
        h = F.xxhash64(F.lit(seed), F.lit(stream), F.lit(k), F.col("id"))
        return (F.pmod(h, F.lit(FRAC)).cast("double") + 0.5) / float(FRAC)

    u, v, hot = unit(0), unit(1), unit(2) < HOT_SHARE
    lon = F.when(hot, synth.HOT_LON0 + u * synth.HOT_SPAN).otherwise(
        synth.AOI_LON0 + u * synth.AOI_SPAN
    )
    lat = F.when(hot, synth.HOT_LAT0 + v * synth.HOT_SPAN).otherwise(
        synth.AOI_LAT0 + v * synth.AOI_SPAN
    )
    return spark.range(0, n, numPartitions=partitions).select(
        F.col("id").alias(id_col), lon.alias("lon"), lat.alias("lat")
    )


def road_lines(g: int, seed: int):
    """synth's g x g road grid with every vertex strictly inside the AOI
    moved by a seeded offset (the waterway stays straight)."""
    lines = synth.road_grid_lines(g)
    rng = np.random.default_rng(seed)
    step = synth.AOI_SPAN / g
    x0, y0 = synth.AOI_LON0, synth.AOI_LAT0
    x1, y1 = x0 + synth.AOI_SPAN, y0 + synth.AOI_SPAN
    moved = []
    for row in lines.itertuples(index=False):
        if row.waterway is not None:
            moved.append(row.geometry)
            continue
        geom = []
        for x, y in row.geometry:
            if x0 < x < x1 and y0 < y < y1:
                dx, dy = rng.uniform(-0.5, 0.5, 2) * ROAD_JITTER * step
                x, y = x + dx, y + dy
            geom.append([float(x), float(y)])
        moved.append(geom)
    return lines.assign(geometry=moved)


def _grid_block_id():
    """block_id of the grid block holding (lon, lat): the closed-form floor
    of contract._grid_block_sql, spelled for Spark (that one is DuckDB SQL,
    whose ``cast(... as varchar)`` Spark does not parse)."""
    gx = F.floor((F.col("lon") - synth.AOI_LON0) / contract.STEP)
    gy = F.floor((F.col("lat") - synth.AOI_LAT0) / contract.STEP)
    return F.concat(F.lit("city_"), (gy * contract.GRID_G + gx).cast("string"))


def _metric(nodes, name: str, key: str) -> float:
    return sum(n["metrics"].get(key, 0) for n in nodes if n["name"] == name)


def _ancestors(nodes, i: int):
    j = nodes[i]["parent"]
    while j is not None:
        yield j
        j = nodes[j]["parent"]


def _assign_plan_counts(nodes) -> dict:
    """Row counts of the two-stage assign from its executed plan: the
    broadcast join below the Arrow PIP eval yields the boundary
    candidates, the other one the interior rows, and the Filter just above
    the eval keeps the accepted candidates."""

    def rows(i):
        return nodes[i]["metrics"]["numOutputRows"]

    def refined(i):
        return any(nodes[j]["name"] == "ArrowEvalPython" for j in _ancestors(nodes, i))

    bhj = [i for i, nd in enumerate(nodes) if nd["name"] == "BroadcastHashJoin"]
    cand = sum(rows(i) for i in bhj if refined(i))
    accepted = sum(
        next(rows(j) for j in _ancestors(nodes, i) if nodes[j]["name"] == "Filter")
        for i, nd in enumerate(nodes) if nd["name"] == "ArrowEvalPython"
    )
    return {
        "assign.broadcast_mb": _metric(nodes, "BroadcastExchange", "dataSize") / MB,
        "assign.interior_rows": sum(rows(i) for i in bhj if not refined(i)),
        "assign.boundary_candidates": cand,
        "assign.boundary_accepted": accepted,
        "assign.refine_accept_ratio": accepted / cand if cand else 0.0,
    }


# -- assign_tiles ----------------------------------------------------------------

class AssignTiles:
    """Two-stage assign onto the contract's 7x7 grid cover at PIP_RES,
    then rect tile membership, over the same seeded points."""

    min_rounds = 3  # the first timed assign is still a fifth slower than later ones
    trace_first = False

    def __init__(self, spark, seed: int, size: dict):
        self.spark, self.seed, self.size = spark, seed, size
        self.n = size["points"]
        self.points = {"assign.join": self.n, "tiles.membership": self.n}

    def _points(self, n: int):
        return points(self.spark, n, self.seed, 0, self.size["partitions"], "image_id")

    def build(self) -> None:
        self.cover = contract._grid_cover(self.spark)
        self.bounds = contract._grid_bounds(self.spark)

    def prepare_checks(self) -> None:
        """Tile rows and weight sum, computed in closed form: a tile of
        the t x t footprint grid overlaps the grid columns between the
        floors of its edges, and since the blocks tile the AOI exactly,
        its weights over blocks sum to its overlap with the AOI."""
        t, f, g = contract.TILE_T, contract.TILE_FOOT, contract.GRID_G
        half, tile = f / 2.0, f / t
        x0, y0, span, step = synth.AOI_LON0, synth.AOI_LAT0, synth.AOI_SPAN, contract.STEP

        def span_count(a, b, o):  # grid columns (rows) that [a, b] overlaps
            lo = F.greatest(F.lit(0), F.floor((a - o) / step))
            hi = F.least(F.lit(g - 1), F.floor((b - o) / step))
            return F.greatest(F.lit(0), hi - lo + 1)

        def overlap(a, b, o):  # length of [a, b] inside the AOI
            return F.greatest(F.lit(0.0), F.least(b, F.lit(o + span)) - F.greatest(a, F.lit(o)))

        rows, weight = F.lit(0), F.lit(0.0)
        for r in range(t):
            for c in range(t):
                tx0 = F.col("lon") - half + c * tile
                ty0 = F.col("lat") - half + r * tile
                tx1, ty1 = tx0 + tile, ty0 + tile
                rows = rows + span_count(tx0, tx1, x0) * span_count(ty0, ty1, y0)
                weight = weight + overlap(tx0, tx1, x0) * overlap(ty0, ty1, y0) / (tile * tile)
        got = self._points(self.n).agg(
            F.sum(rows).alias("rows"), F.sum(weight).alias("w")
        ).collect()[0]
        self.tile_rows, self.tile_weight = int(got["rows"]), float(got["w"])

    def warm(self) -> None:
        """One pass through both calls at full size: it pays Python worker
        start and the bulk of JIT."""
        self._assign(self._points(self.n))
        self._tiles(self._points(self.n))

    def _assign(self, pts):
        out = assign.assign_points_to_blocks(pts, self.cover, contract.PIP_RES)
        wrong = ~F.col("block_id").eqNullSafe(_grid_block_id())
        agg = out.agg(F.count("*").alias("rows"), F.sum(wrong.cast("long")).alias("bad"))
        return agg, agg.collect()[0]

    def _tiles(self, pts):
        out = tiles.tile_membership_rect(
            pts, self.bounds, t=contract.TILE_T, footprint=contract.TILE_FOOT
        )
        agg = out.agg(F.count("*").alias("rows"), F.sum("weight").alias("w"))
        return agg, agg.collect()[0]

    def ops(self, rnd: int = 0):
        return [("assign.join", self.assign_call), ("tiles.membership", self.tiles_call)]

    def assign_call(self, rec):
        agg, got = self._assign(self._points(self.n))
        if rec is not None:
            rec.update(_assign_plan_counts(plan_nodes(agg)))
            rec["assign.cover_rows"] = len(self.cover)
        return lambda: got["rows"] == self.n and got["bad"] == 0

    def tiles_call(self, rec):
        agg, got = self._tiles(self._points(self.n))
        if rec is not None:
            nodes = plan_nodes(agg)
            rec.update({
                "tiles.tiles_in": _metric(nodes, "Generate", "numOutputRows"),
                "tiles.rows_out": _metric(nodes, "BroadcastNestedLoopJoin", "numOutputRows"),
            })
        return lambda: (
            got["rows"] == self.tile_rows
            and abs(got["w"] - self.tile_weight) <= 1e-9 * self.tile_weight
        )

    def e2e(self, walls: dict) -> dict:
        return {
            "assign_pts_per_s": self.n / walls["assign.join"],
            "tile_pts_per_s": self.n / walls["tiles.membership"],
        }


# -- nearest neighbour (traced assign_tiles runs) --------------------------------

class NNHotspot:
    """Hotspot-skewed events to image anchors through knn.parcel_assign,
    and a larger set of hotspot-skewed points to jittered road segments
    through nearest_segment_join_distributed. Events and anchors get their
    block during set-up."""

    min_rounds = 2
    trace_first = False

    def __init__(self, spark, seed: int, size: dict):
        self.spark, self.seed, self.size = spark, seed, size
        self.points = {
            "knn.parcel_assign": size["events"],
            "rangejoin.seg_nn": size["road_points"],
        }
        # every ``every[op]``-th point id is re-checked by brute force
        self.every = {op: max(1, n // SAMPLE) for op, n in self.points.items()}

    def build(self) -> None:
        spark, seed, parts, size = self.spark, self.seed, self.size["partitions"], self.size
        self.event_pts = points(spark, size["events"], seed, 1, parts, "pid")
        self.anchor_pts = points(spark, size["anchors"], seed, 2, parts, "anchor_id")
        self.road_pts = points(spark, size["road_points"], seed, 3, parts, "pid")
        lines = spark.createDataFrame(road_lines(size["road_grid"], seed))
        self.segments = rangejoin.segments_from_lines_df(lines).select(
            "seg_id", "ax", "ay", "bx", "by"
        )

    def warm(self) -> None:
        """Cache the point sets, events and anchors with their block (the
        closed-form grid block, so set-up runs no Python), then one pass
        through both timed calls."""
        block = _grid_block_id()
        self.events = self.event_pts.withColumn("block_id", block).cache()
        self.anchors = self.anchor_pts.select(
            "anchor_id", block.alias("block_id"), F.col("lon").alias("ax"), F.col("lat").alias("ay")
        ).cache()
        self.road_pts = self.road_pts.cache()
        self.segments = self.segments.cache()
        for df in (self.events, self.anchors, self.road_pts, self.segments):
            df.count()
        self.parcel_call(None)
        self.road_call(None)

    def _sample(self, df, op: str):
        return df.filter(F.col("pid") % self.every[op] == 0).toPandas()

    def prepare_checks(self) -> None:
        """numpy brute force over a fixed sample of each point set (every
        ``self.every[op]``-th id): nearest in-block anchor and nearest
        segment, ties to the lower id, with the engine's distance formulas."""
        an = self.anchors.toPandas()
        per_block = self.events.groupBy("block_id").count().toPandas()
        self.parcel_rows = int(per_block[per_block.block_id.isin(set(an.block_id))]["count"].sum())
        self.parcel_expect = {}
        for e in self._sample(self.events, "knn.parcel_assign").itertuples(index=False):
            cand = an[an.block_id == e.block_id]
            if cand.empty:
                continue
            dx, dy = e.lon - cand.ax.to_numpy(), e.lat - cand.ay.to_numpy()
            d2 = dx * dx + dy * dy
            best = np.flatnonzero(d2 == d2.min())
            aid = cand.anchor_id.to_numpy()[best].min()
            self.parcel_expect[e.pid] = (int(aid), float(np.sqrt(d2.min())))
        sg = self.segments.toPandas()
        ax, ay, bx, by = (sg[c].to_numpy() for c in ("ax", "ay", "bx", "by"))
        dx, dy = bx - ax, by - ay
        len2 = dx * dx + dy * dy
        ids = sg.seg_id.to_numpy()
        self.road_expect = {}
        for e in self._sample(self.road_pts, "rangejoin.seg_nn").itertuples(index=False):
            with np.errstate(divide="ignore", invalid="ignore"):
                t_raw = ((e.lon - ax) * dx + (e.lat - ay) * dy) / len2
            t = np.where(len2 > 0, np.maximum(0.0, np.minimum(1.0, t_raw)), 0.0)
            cx, cy = ax + t * dx, ay + t * dy
            d = np.sqrt((e.lon - cx) * (e.lon - cx) + (e.lat - cy) * (e.lat - cy))
            best = np.flatnonzero(d == d.min())
            self.road_expect[e.pid] = (min(ids[best]), float(d.min()))

    def ops(self, rnd: int = 0):
        return [("knn.parcel_assign", self.parcel_call), ("rangejoin.seg_nn", self.road_call)]

    def _sampled(self, out, op: str, id_col: str, dist_col: str):
        keep = F.col("pid") % self.every[op] == 0
        return out.agg(
            F.count("*").alias("rows"),
            F.collect_list(F.when(keep, F.struct("pid", id_col, dist_col))).alias("sample"),
        ).collect()[0]

    @staticmethod
    def _matches(sample, expect: dict) -> bool:
        got = {r[0]: (r[1], r[2]) for r in sample}
        return set(got) == set(expect) and all(
            got[k][0] == v[0] and abs(got[k][1] - v[1]) <= 1e-9 for k, v in expect.items()
        )

    def _parcel(self):
        return knn.parcel_assign(self.events, self.anchors, PARCEL_RES, point_id="pid")

    def _road(self):
        return rangejoin.nearest_segment_join_distributed(
            self.road_pts, self.segments, contract.SEG_RES, point_id="pid",
        )

    def parcel_call(self, rec):
        got = self._sampled(self._parcel(), "knn.parcel_assign", "anchor_id", "nn_dist")
        return lambda: got["rows"] == self.parcel_rows and self._matches(
            got["sample"], self.parcel_expect
        )

    def road_call(self, rec):
        got = self._sampled(self._road(), "rangejoin.seg_nn", "seg_id", "road_dist")
        return lambda: got["rows"] == self.points["rangejoin.seg_nn"] and self._matches(
            got["sample"], self.road_expect
        )

    def e2e(self, walls: dict) -> dict:
        return {
            "parcel_nn_pts_per_s": self.points["knn.parcel_assign"] / walls["knn.parcel_assign"],
            "road_nn_pts_per_s": self.points["rangejoin.seg_nn"] / walls["rangejoin.seg_nn"],
        }


# -- pipeline --------------------------------------------------------------------

TABLES = (
    pipeline.ASSIGN_TABLE, pipeline.COMPLEXITY_TABLE, pipeline.PARCELS_TABLE,
    pipeline.REBLOCK_ALL_TABLE, pipeline.REBLOCK_TABLE, pipeline.REBLOCK_EDGES_TABLE,
    pipeline.REBLOCK_TERMINALS_TABLE, pipeline.MANIFEST_TABLE,
)
# tables whose run_pipeline count is a row count; the rest count blocks
ROW_TABLES = (
    pipeline.ASSIGN_TABLE, pipeline.REBLOCK_TABLE, pipeline.REBLOCK_EDGES_TABLE,
    pipeline.REBLOCK_TERMINALS_TABLE, pipeline.MANIFEST_TABLE,
)


class Pipeline:
    """A fresh five-stage run_pipeline on an empty store, then the same
    call on the committed store (resume), once a round for at least
    ``size["resumes"]`` rounds. run_pipeline synthesizes its own points, so
    the seed varies only the road jitter passed in.

    Set-up runs one fresh pipeline and one resume on a smaller store of
    their own, so the timed calls are warm: on a 4-core host the first
    pipeline of a session takes about 27 s whatever its size, later ones
    16-19 s at the timed size. A timed fresh run costs that much, so a run
    makes one."""

    trace_first = True

    def __init__(self, spark, seed: int, size: dict, work: str, tracer):
        self.spark, self.seed, self.size = spark, seed, size
        self.work, self.tracer = work, tracer
        self.min_rounds = size["resumes"]
        self.n = size["images"]
        self.points = {"pipeline.run": self.n, "pipeline.resume": self.n}

    def build(self) -> None:
        self.lines = road_lines(self.size["grid"], self.seed)

    def prepare_checks(self) -> None:
        pass

    def warm(self) -> None:
        self.root = os.path.join(self.work, "warm-store")
        self._run(self.size["warm_images"])
        self._run(self.size["warm_images"])
        shutil.rmtree(self.root)

    def _run(self, n_images: int | None = None) -> dict:
        return pipeline.run_pipeline(
            self.spark, self.root, n_images=n_images or self.n, grid_g=self.size["grid"],
            lines_pdf=self.lines,
        )

    def ops(self, rnd: int = 0):
        resume = [("pipeline.resume", self.resume_call)]
        return [("pipeline.run", self.fresh_call)] + resume if rnd == 0 else resume

    @contextmanager
    def _stage_spans(self, rec):
        """Trace each stage through the commit that ends it."""
        if rec is None:
            yield
            return
        commit = TableStore.commit

        def traced(store, df, table, *args, **kwargs):
            with self.tracer.span(f"pipeline.{kwargs.get('stage') or table}"):
                return commit(store, df, table, *args, **kwargs)

        TableStore.commit = traced
        try:
            yield
        finally:
            TableStore.commit = commit

    def fresh_call(self, rec):
        self.root = os.path.join(self.work, "store")
        shutil.rmtree(self.root, ignore_errors=True)
        with self._stage_spans(rec):
            counts = self._run()
        return lambda: counts == self._read_back(self.root, counts)

    def resume_call(self, rec):
        counts = self._run()
        return lambda: set(counts) == set(TABLES) and not any(counts.values())

    @staticmethod
    def _read_back(root: str, counts: dict) -> dict:
        """Per table, the row count (or the number of non-empty block
        partitions) read from the committed parquet footers."""
        store = TableStore(root)
        got = {}
        for table in counts:
            m = store.manifest(table) or {"files": []}
            rows = {}
            for entry in m["files"]:
                for f in entry["files"]:
                    path = os.path.join(root, table, "data", f)
                    n = pq.ParquetFile(path).metadata.num_rows
                    rows[entry["partition"]] = rows.get(entry["partition"], 0) + n
            if table in ROW_TABLES:
                got[table] = sum(rows.values())
            else:
                got[table] = sum(1 for v in rows.values() if v > 0)
        return got

    def e2e(self, walls: dict) -> dict:
        return {"pipeline_s": walls["pipeline.run"], "resume_s": walls["pipeline.resume"]}


class Chain:
    """Several workloads in one session: each set-up step runs for all of
    them in turn, and each round calls the ops of all of them. The first
    workload's ops come first, so they stay op1 and op2."""

    def __init__(self, *parts):
        self.parts = parts
        self.min_rounds = max(p.min_rounds for p in parts)
        self.trace_first = parts[0].trace_first
        self.points = {k: v for p in parts for k, v in p.points.items()}

    def build(self) -> None:
        for p in self.parts:
            p.build()

    def warm(self) -> None:
        for p in self.parts:
            p.warm()

    def prepare_checks(self) -> None:
        for p in self.parts:
            p.prepare_checks()

    def ops(self, rnd: int = 0):
        return [op for p in self.parts for op in p.ops(rnd)]


def make(name: str, spark, seed: int, smoke: bool, work: str, tracer, tracing: bool):
    scale = "smoke" if smoke else "full"
    size = SIZES[name][scale]
    if name == "pipeline":
        return Pipeline(spark, seed, size, work, tracer)
    wl = AssignTiles(spark, seed, size)
    if tracing:
        wl = Chain(wl, NNHotspot(spark, seed, SIZES["nn"][scale]))
    return wl
