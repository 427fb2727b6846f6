"""osm-jigsaw-spark benchmark: one local[4] Spark process per run.

    python3 perfbench/run.py --workload rect_forest --seed 1 --seconds 3 --trace 0

Run from the repository root. Workloads (see BENCHMARK.json and
perfbench/LAYERS.md for why each was chosen):

- ``rect_forest``: the scaled rectangle world, relation-free.
- ``polygon_relations``: nested regular n-gons, half of them multipolygon
  relations split across several ways.

``--trace 0`` measures the end-to-end metrics with tracing off:

- ``setup_s``: process start to session ready, plus the median of three
  generations of the inputs (documents and points, each materialized);
- ``build_s``: the faster of WARM_PASSES warm build passes. A pass runs
  documents -> areas -> area_cell_index -> contains_pairs / graph_edges ->
  tile_assignments(res=2), each stage behind a snapshot barrier as bench.py
  does;
- ``geocode_batch_s``: median ``geocode`` over the point set. Batches run
  for ``--seconds`` in all, split evenly after each warm pass (at least
  MIN_GEOCODES each), so the median spans the whole measured part of the
  run. The run's first batch also compiles the geocode plans and is often
  the slowest; in the slower half, its value does not move the median;
- ``held_storage_mb``: block-manager storage of the areas, index and edges
  barriers after a pass, which a serving process keeps resident.

The first build pass in the fresh JVM is printed (``info`` line) as
``cold_build_s`` but is not a result metric: it is one sample per process,
and on a shared host it moves by more than any usable bound (the traced run
reports it per layer as ``build.cold_s``).

Every operation's output is checked against the world's closed-form
expectation (perfbench/worlds.py); ``failed`` counts operations that raised
or failed their check. Each pass's barriers are released before the next.

``--trace 1`` recomposes the build from each module's public functions, runs
every layer under its own Spark job group, materializes it through
``plans.snapshots.snapshot`` and folds the event log into per-layer metrics
after ``spark.stop()`` (perfbench/eventlog.py). It also checks that the
recomposed areas equal ``build_areas``' output, reports the tracing
overhead against an untraced warm pass in the same process, and times
single-point requests sent by one client in a closed loop (the reference's
``GET /reverse``) as the ``request`` layer.

The last stdout line is the JSON result; the lines before it list every
metric by name and unit. Spark writes its logs to stderr.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import worlds  # noqa: E402
from eventlog import MB, fold, read_events  # noqa: E402
from osm_jigsaw_spark.operators import areas as A  # noqa: E402
from osm_jigsaw_spark.operators import relations as R  # noqa: E402
from osm_jigsaw_spark.operators.containment import (  # noqa: E402
    area_cell_index,
    contains_pairs,
    graph_edges,
)
from osm_jigsaw_spark.operators.geocode import (  # noqa: E402
    areas_containing_points,
    geocode,
    geocode_paths_grouped,
)
from osm_jigsaw_spark.operators.rings import stitch_rings  # noqa: E402
from osm_jigsaw_spark.operators.tiling import tile_assignments  # noqa: E402
from osm_jigsaw_spark.plans.pipeline import run_pipeline  # noqa: E402
from osm_jigsaw_spark.plans.snapshots import snapshot  # noqa: E402
from osm_jigsaw_spark.session import get_spark  # noqa: E402
from osm_jigsaw_spark.sources import documents as D  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

CORES = 4
SETUP_REPS = 3
WARM_PASSES = 2
MIN_GEOCODES = 2  # after each warm pass
WARMUP_REQUESTS = 1  # the first request after the warm-up batch is slow
REQUESTS_PER_ROUND = 3
GEOCODE_CHECK_SAMPLE = 200
TILE_RES = 2

WORKLOADS = {
    # (world factory, has_relations hint passed to the build as bench.py does)
    "rect_forest": (lambda seed: worlds.rect_forest(5_464, 2_000, seed), False),
    "polygon_relations": (
        lambda seed: worlds.polygon_relations(2, 1, 1_000, seed), None),
}

END_TO_END = [
    ("setup_s", "s"), ("build_s", "s"), ("geocode_batch_s", "s"),
    ("held_storage_mb", "MB"),
]


# ---------------------------------------------------------------------------
# session and process lifetime
# ---------------------------------------------------------------------------

def start_session(work: str, trace: bool):
    """local[4] session whose temporary files stay inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
        })
    t0 = time.perf_counter()
    spark = get_spark(app_name="osm-jigsaw-perfbench", cores=CORES,
                      shuffle_partitions=CORES, extra_conf=conf)
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM it runs in, and wait for both."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


# ---------------------------------------------------------------------------
# build passes and their barriers
# ---------------------------------------------------------------------------

class Barriers:
    """The localCheckpoint barriers of one build pass, tracked by RDD id so
    the pass can report what it holds and release everything it persisted
    (engine-internal checkpoints included) before the next pass."""

    def __init__(self, spark):
        self.jsc = spark.sparkContext._jsc
        self.before = self._ids()
        self.named: dict[str, set[int]] = {}

    def _ids(self) -> set[int]:
        return {int(k) for k in self.jsc.getPersistentRDDs().keys()}

    def snap(self, df, name: str):
        ids0 = self._ids()
        out = snapshot(df, name)
        self.named[name] = self._ids() - ids0
        return out

    def storage_mb(self, names) -> float:
        ids = set().union(*(self.named[n] for n in names))
        infos = self.jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos
                   if i.id() in ids) / MB

    def release(self) -> None:
        rdds = self.jsc.getPersistentRDDs()
        for k in list(rdds.keys()):
            if int(k) not in self.before:
                rdds[k].unpersist(True)


HELD = ("areas", "idx", "edges")


@dataclass
class Pass:
    areas: object
    idx: object
    edges: object
    n_tiles: int
    barriers: Barriers
    seconds: float
    held_mb: float = 0.0


def build_pass(spark, docs, has_relations) -> Pass:
    b = Barriers(spark)
    t0 = time.perf_counter()
    pipe = run_pipeline(docs, cache=False, has_relations=has_relations)
    areas = b.snap(pipe.areas, "areas")
    idx = b.snap(area_cell_index(areas), "idx")
    pairs = b.snap(contains_pairs(areas, idx=idx), "pairs")
    edges = b.snap(graph_edges(areas, pairs), "edges")
    n_tiles = tile_assignments(spark, areas, res=TILE_RES).count()
    p = Pass(areas, idx, edges, n_tiles, b, time.perf_counter() - t0)
    p.held_mb = b.storage_mb(HELD)
    return p


# ---------------------------------------------------------------------------
# output checks (closed-form expectations from worlds.py)
# ---------------------------------------------------------------------------

def check_areas(world, areas) -> list[str]:
    rows = areas.select("canonical_osm_id", "osm_ids", "n_points", "area",
                        "bbox").collect()
    errs = []
    if len(rows) != len(world.areas):
        errs.append(f"areas: {len(rows)} rows, expected {len(world.areas)}")
    for r in rows:
        e = world.areas.get(r.canonical_osm_id)
        got_box = (r.bbox.min_lat, r.bbox.min_lon, r.bbox.max_lat, r.bbox.max_lon)
        if e is None or list(r.osm_ids) != [e.osm_id]:
            errs.append(f"areas: unexpected {r.canonical_osm_id} {r.osm_ids}")
        elif (r.n_points != e.n_points
              or any(abs(g - x) > 1e-9 for g, x in zip(got_box, e.bbox))
              or abs(r.area - e.area) > 1e-9 * max(1.0, e.area)):
            errs.append(f"areas: {e.osm_id} n={r.n_points} box={got_box} "
                        f"area={r.area}, expected {e}")
    return errs[:5]


def check_pass(world, p: Pass) -> list[str]:
    errs = check_areas(world, p.areas)
    got = {(r.parent_osm_id, r.child_osm_id)
           for r in p.edges.select("parent_osm_id", "child_osm_id").collect()}
    want = world.edges()
    if got != want:
        errs.append(f"edges: {len(got)} vs {len(want)} expected; "
                    f"missing {sorted(want - got)[:3]} extra {sorted(got - want)[:3]}")
    lo, hi = world.tile_bounds(TILE_RES)
    if not lo <= p.n_tiles <= hi:
        errs.append(f"tiles: {p.n_tiles} outside [{lo}, {hi}]")
    return errs


def collect_paths(df, point_ids=None) -> dict[str, list[tuple]]:
    if point_ids is not None:
        df = df.filter(df.point_id.isin(list(point_ids)))
    out: dict[str, list[tuple]] = {}
    for r in df.select("point_id", "path").collect():
        out.setdefault(r.point_id, []).append(tuple(r.path))
    return {k: sorted(v) for k, v in out.items()}


def check_paths(world, got: dict, point_ids) -> list[str]:
    want = world.paths(point_ids)
    bad = [pid for pid in point_ids if got.get(pid, []) != want[pid]]
    return [f"paths: {pid} got {got.get(pid, [])} expected {want[pid]}"
            for pid in bad[:3]]


# ---------------------------------------------------------------------------
# the measured run
# ---------------------------------------------------------------------------

class Ops:
    """Counts operations and failures; a failure is an exception or a
    failed output check."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def run(self, what: str, fn):
        self.attempted += 1
        try:
            return fn()
        except Exception:
            self.failed += 1
            print(f"FAILED {what}:\n{traceback.format_exc()}", file=sys.stderr)
            return None

    def check(self, what: str, errs: list[str]) -> None:
        if errs:
            self.failed += 1
            print(f"CHECK FAILED {what}: " + "; ".join(errs), file=sys.stderr)


def make_inputs(spark, world):
    """Materialized (documents, points) barriers, their Barriers and the
    seconds it took."""
    b = Barriers(spark)
    t0 = time.perf_counter()
    docs = b.snap(world.documents(spark), "docs")
    pts = b.snap(world.points_df(spark), "pts")
    return docs, pts, b, time.perf_counter() - t0


def setup(spark, world, ops: Ops, t_session: float):
    """Generate and materialize the inputs SETUP_REPS times, releasing each
    generation before the next; setup_s is the session start plus the
    median generation."""
    gens, keep = [], None
    for _ in range(SETUP_REPS):
        if keep is not None:
            keep[2].release()
        keep = ops.run("setup", lambda: make_inputs(spark, world))
        if keep is None:
            raise RuntimeError("input generation failed")
        gens.append(keep[3])
    return keep[0], keep[1], t_session + statistics.median(gens)


def request_points(world):
    """The world's points in a seeded order: requests are sent in this
    order, and its head is the geocode batch's check sample."""
    pts = list(world.points)
    random.Random(f"requests:{len(pts)}").shuffle(pts)
    return pts


def request(spark, p: Pass, point):
    """One closed-loop request: send one point, wait for its paths."""
    t0 = time.perf_counter()
    one = spark.createDataFrame([point], worlds.POINTS_SCHEMA)
    rows = geocode(p.areas, p.edges, one, idx=p.idx).collect()
    dt = time.perf_counter() - t0
    paths: dict[str, list[tuple]] = {}
    for r in rows:
        paths.setdefault(r.point_id, []).append(tuple(r.path))
    return dt, {k: sorted(v) for k, v in paths.items()}


def geocode_batch(p: Pass, pts):
    t0 = time.perf_counter()
    out = snapshot(geocode(p.areas, p.edges, pts, idx=p.idx), "geocode")
    return out, time.perf_counter() - t0


class Expected:
    """What a world's geocode outputs must be: the total path count and the
    exact paths of a seeded sample of points."""

    def __init__(self, world):
        self.world = world
        self.total_paths = sum(len(v) for v in world.paths(
            [p[0] for p in world.points]).values())
        self.sample = [p[0] for p in request_points(world)[:GEOCODE_CHECK_SAMPLE]]

    def geocode_errors(self, paths_df) -> list[str]:
        n = paths_df.count()
        errs = [] if n == self.total_paths else [
            f"geocode: {n} path rows, expected {self.total_paths}"]
        return errs + check_paths(self.world, collect_paths(paths_df, self.sample),
                                  self.sample)


def checked_geocode(ops: Ops, exp: Expected, p: Pass, pts):
    """A checked geocode batch; its seconds, or None if it raised."""
    res = ops.run("geocode", lambda: geocode_batch(p, pts))
    if res is None:
        return None
    ops.check("geocode", exp.geocode_errors(res[0]))
    return res[1]


def checked_request(ops: Ops, world, spark, p: Pass, point):
    """A checked single-point request; its seconds, or None if it raised."""
    res = ops.run("request", lambda: request(spark, p, point))
    if res is None:
        return None
    ops.check("request", check_paths(world, res[1], [point[0]]))
    return res[0]


def measure(spark, world, has_relations, seconds: float, t_session: float):
    """Cold pass, then WARM_PASSES warm passes, each followed by timed
    geocode batches on it for an equal share of ``seconds``. Each pass's
    barriers are released before the next pass."""
    ops = Ops()
    docs, pts, setup_s = setup(spark, world, ops, t_session)
    exp = Expected(world)
    cold_s, warm, geocodes = None, [], []

    def build() -> Pass | None:
        p = ops.run("build", lambda: build_pass(spark, docs, has_relations))
        if p is not None:
            ops.check("build", check_pass(world, p))
        return p

    def geocode_for(p: Pass, budget: float) -> None:
        deadline = time.perf_counter() + budget
        n = 0
        while n < MIN_GEOCODES or time.perf_counter() < deadline:
            dt = checked_geocode(ops, exp, p, pts)
            if dt is None:
                return
            geocodes.append(dt)
            n += 1

    p = build()
    if p is not None:
        cold_s = p.seconds
    for _ in range(WARM_PASSES):
        if p is not None:
            p.barriers.release()
        p = build()
        if p is not None:
            warm.append(p)
            geocode_for(p, seconds / WARM_PASSES)
    if p is not None:
        p.barriers.release()

    metrics = {
        "setup_s": setup_s,
        "build_s": min((w.seconds for w in warm), default=0.0),
        "geocode_batch_s": statistics.median(geocodes) if geocodes else 0.0,
        "held_storage_mb": warm[-1].held_mb if warm else 0.0,
    }
    info = {"cold_build_s": cold_s,
            "warm_passes_s": [w.seconds for w in warm],
            "geocodes_s": geocodes, "points": len(world.points),
            "areas": len(world.areas), **world.stats}
    return ops, metrics, info


# ---------------------------------------------------------------------------
# the traced run
# ---------------------------------------------------------------------------

COMMON = ("wall_s", "task_s", "task_skew", "tasks", "jobs",
          "shuffle_write_mb", "spill_mb", "gc_s", "rows_out")


class Tracer:
    """Runs each layer call under its own job group, times it, materializes
    its output through snapshot and counts the rows (under a separate
    group, so the count is not charged to the layer)."""

    def __init__(self, spark, barriers: Barriers, rnd: int):
        self.sc = spark.sparkContext
        self.barriers = barriers
        self.rnd = rnd
        self.wall: dict[str, float] = {}
        self.rows: dict[str, int] = {}
        self.extra: dict[str, float] = {}

    def group(self, layer: str) -> str:
        return f"{layer}|{self.rnd}"

    def layer(self, layer: str, fn, name: str):
        self.sc.setJobGroup(self.group(layer), layer)
        t0 = time.perf_counter()
        out = self.barriers.snap(fn(), name)
        self.wall[layer] = self.wall.get(layer, 0.0) + time.perf_counter() - t0
        self.sc.setJobGroup("count", "row counts")
        self.rows[layer] = self.rows.get(layer, 0) + out.count()
        return out


def traced_build(spark, tr: Tracer, docs, has_relations):
    """build_areas and the rest of a build pass, recomposed from each
    module's public functions so every layer is timed on its own."""
    L = tr.layer
    nodes = L("sources.documents", lambda: D.decode_nodes(docs), "nodes")
    ways = L("sources.documents", lambda: D.decode_ways(docs), "ways")
    rels = L("sources.documents", lambda: D.decode_relations(docs), "relations")
    outlines = A.way_outlines(ways)
    if has_relations is not False:
        def relation_ways():
            # operators.areas.relation_rings up to the stitch
            named = rels.filter(D.has_name(F.col("tags")))
            ok = R.expansion_status(named).filter("is_expandable").select("rel_id")
            outer = R.outer_way_ids(named.join(ok, "rel_id", "left_semi"))
            return outer.join(ways.select("way_id", "node_ids"), "way_id",
                              "inner").select("rel_id", "way_id", "pos", "node_ids")

        with_nodes = L("operators.relations", relation_ways, "relation_ways")
        rings = L("operators.rings", lambda: stitch_rings(with_nodes), "rings")
        tr.extra["operators.rings.ways_per_ring"] = (
            tr.rows["operators.relations"] / max(1, tr.rows["operators.rings"]))
        outlines = outlines.unionByName(rings.select(
            F.concat(F.col("rel_id").cast("string"), F.lit("R")).alias("osm_id"),
            "ring_index", "node_ids"))
    resolved = L("operators.areas.resolve", lambda: A.with_area_and_bbox(
        A.resolve_outline_points(outlines, nodes).filter(F.col("n_points") >= 3)),
        "resolved")
    tr.sc.setJobGroup("count", "row counts")
    tr.extra["operators.areas.resolve.vertices_out"] = resolved.agg(
        F.sum("n_points")).first()[0]
    areas = L("operators.areas.dedup", lambda: A.dedup_areas(resolved), "areas")
    idx = L("operators.containment.index", lambda: area_cell_index(areas), "idx")
    pairs = L("operators.containment.pairs",
              lambda: contains_pairs(areas, idx=idx), "pairs")
    edges = L("operators.containment.edges",
              lambda: graph_edges(areas, pairs), "edges")
    L("operators.tiling", lambda: tile_assignments(spark, areas, res=TILE_RES),
      "tiles")
    n_areas = max(1, tr.rows["operators.areas.dedup"])
    tr.extra.update({
        "operators.containment.index.cells_per_area":
            tr.rows["operators.containment.index"] / n_areas,
        "operators.containment.pairs.pairs_per_area":
            tr.rows["operators.containment.pairs"] / n_areas,
        "operators.containment.edges.edges_per_pair":
            tr.rows["operators.containment.edges"]
            / max(1, tr.rows["operators.containment.pairs"]),
    })
    for name in ("areas", "idx", "pairs", "edges"):
        tr.extra[f"plans.snapshots.storage_mb.{name}"] = \
            tr.barriers.storage_mb([name])
    tr.extra["plans.snapshots.storage_mb"] = tr.barriers.storage_mb(HELD)
    return Pass(areas, idx, edges, tr.rows["operators.tiling"], tr.barriers,
                sum(tr.wall.values()))


def traced_geocode(tr: Tracer, p: Pass, pts, n_points: int):
    containing = tr.layer("operators.geocode.containing",
                          lambda: areas_containing_points(p.areas, pts, idx=p.idx),
                          "containing")
    paths = tr.layer("operators.geocode.paths",
                     lambda: geocode_paths_grouped(p.edges, containing), "paths")
    tr.extra["operators.geocode.containing.hits_per_point"] = \
        tr.rows["operators.geocode.containing"] / n_points
    tr.extra["operators.geocode.paths.paths_per_point"] = \
        tr.rows["operators.geocode.paths"] / n_points
    return paths


def trace(spark, world, has_relations, seconds, t_session, start_s, work):
    ops = Ops()
    sc = spark.sparkContext
    sc.setJobGroup("setup", "setup")
    docs, pts, setup_s = setup(spark, world, ops, t_session)
    exp = Expected(world)
    req_points = request_points(world)

    # untraced passes: the cold one warms the JIT, the warm one is the
    # reference for the tracing overhead and for the recomposition check
    sc.setJobGroup("untraced", "untraced passes")
    untraced = []
    for _ in range(2):
        p = ops.run("build", lambda: build_pass(spark, docs, has_relations))
        if p is None:
            raise RuntimeError("untraced build failed")
        ops.check("build", check_pass(world, p))
        untraced.append(p.seconds)
        if len(untraced) == 2:
            ref = [r.ring_hash for r in p.areas.select("ring_hash").collect()]
            checked_geocode(ops, exp, p, pts)
            for point in req_points[:WARMUP_REQUESTS]:
                checked_request(ops, world, spark, p, point)
        p.barriers.release()

    rounds = []
    deadline = time.perf_counter() + seconds
    k = WARMUP_REQUESTS
    while not rounds or time.perf_counter() < deadline:
        tr = Tracer(spark, Barriers(spark), len(rounds))
        p = ops.run("build", lambda: traced_build(spark, tr, docs, has_relations))
        if p is None:
            break
        errs = check_pass(world, p)
        got = [r.ring_hash for r in p.areas.select("ring_hash").collect()]
        if len(got) != len(ref) or set(got) != set(ref):
            errs.append(f"recomposed areas: {len(got)} rows, ring hashes "
                        f"differ from build_areas' {len(ref)} rows")
        ops.check("build", errs)
        paths = ops.run("geocode", lambda: traced_geocode(tr, p, pts, len(world.points)))
        if paths is not None:
            sc.setJobGroup("count", "row counts")
            ops.check("geocode", exp.geocode_errors(paths))
        req = []
        for i in range(REQUESTS_PER_ROUND):
            point = req_points[k % len(req_points)]
            k += 1
            g = f"request|{tr.rnd}|{i}"
            sc.setJobGroup(g, "request")
            dt = checked_request(ops, world, spark, p, point)
            if dt is not None:
                req.append((g, dt))
        p.barriers.release()
        rounds.append((tr, req))

    stop_session(spark)
    groups = fold(read_events(os.path.join(work, "eventlog")))
    return ops, per_layer(groups, rounds, setup_s, start_s, untraced)


def per_layer(groups, rounds, setup_s, start_s, untraced):
    """Median across traced rounds of every per-layer metric."""
    per_round = []
    for tr, req in rounds:
        m = {"session.start_s": start_s}
        for layer, wall in tr.wall.items():
            rec = groups.get(tr.group(layer))
            g = rec.metrics() if rec else {}
            m[f"{layer}.wall_s"] = wall
            m[f"{layer}.rows_out"] = tr.rows[layer]
            for key in COMMON[1:-1] + ("python_in_mb",):
                m[f"{layer}.{key}"] = g.get(key, 0.0)
        m.update(tr.extra)
        m["build.traced_wall_s"] = sum(
            w for layer, w in tr.wall.items() if not layer.startswith("operators.geocode"))
        if req:
            recs = [(groups.get(g), wall) for g, wall in req]
            m["request.wall_ms"] = statistics.median(w * 1000 for _, w in recs)
            m["request.driver_ms"] = statistics.median(
                (w - (r.job_span_s if r else 0.0)) * 1000 for r, w in recs)
            m["request.jobs"] = statistics.median(r.jobs if r else 0 for r, _ in recs)
            m["request.task_ms"] = statistics.median(
                sum(r.task_ms) if r else 0 for r, _ in recs)
        per_round.append(m)
    keys = sorted(set().union(*per_round)) if per_round else []
    out = {k: statistics.median(m.get(k, 0.0) for m in per_round) for k in keys}
    out["build.cold_s"] = untraced[0]
    out["build.untraced_s"] = untraced[-1]
    if per_round:
        out["trace.overhead_s"] = out["build.traced_wall_s"] - untraced[-1]
    out["setup_s"] = setup_s
    return out


# ---------------------------------------------------------------------------

def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(a) -> int:
    make_world, has_relations = WORKLOADS[a.workload]
    world = make_world(a.seed)
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    spark = None
    try:
        spark, start_s = start_session(work, bool(a.trace))
        t_session = time.time() - T_PROCESS
        if a.trace:
            ops, metrics = trace(spark, world, has_relations, a.seconds,
                                 t_session, start_s, work)
            spark = None  # trace() stopped it to read the complete event log
            with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
                units = {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}
            for name in sorted(metrics):
                print(f"{name} {metrics[name]} {units.get(name, 's')}")
            # a layer the workload skips did no work: it reports 0
            result_metrics = {n: {"value": metrics.get(n, 0.0), "unit": u}
                              for n, u in units.items()}
        else:
            ops, metrics, info = measure(spark, world, has_relations,
                                         a.seconds, t_session)
            for name, unit in END_TO_END:
                print(f"{name} {metrics[name]} {unit}")
            print(f"failed_ops_frac {ops.failed / max(1, ops.attempted)} "
                  f"({ops.failed}/{ops.attempted})")
            print("info " + json.dumps(info))
            result_metrics = {n: {"value": metrics[n], "unit": u}
                              for n, u in END_TO_END}
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it
    print(json.dumps({
        "correct": ops.failed == 0 and ops.attempted > 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": result_metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(parse_args()))
