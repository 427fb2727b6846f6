"""Benchmark inputs and their closed-form expected outputs.

Two worlds, each a function of its size and the benchmark's ``--seed``:

- ``rect_forest``: the engine's scaled rectangle world (3 overlapping mega
  rectangles over 4-ary nested-rectangle trees, way + node documents only,
  see ``osm_jigsaw_spark.fixtures.scaled_docs``). The rectangles are
  computed here in closed form and handed to ``scaled_documents_df`` as its
  ``rects`` argument, which yields the same documents as the fixture's own
  Spark-side generator without re-planning its deep expression tree in
  every run. The seed only moves the query points.
- ``polygon_relations``: nested regular n-gon trees (log-spaced vertex
  counts from 16 to 512, dealt out in seeded order) under two overlapping
  512-gon mega polygons. Half the areas are multipolygon relations
  whose outer ring is split across 2-8 ways with alternating direction and
  permuted member order, so relation expansion, ring stitching, long-ring
  resolve and cleanup, the Arrow contains kernel and the point-in-polygon
  edge-walk all run.

Expected areas, graph edges and per-point paths come from the world
description alone: rectangle arithmetic for the rect world, tree parenthood
and a sector test for a point in a regular n-gon for the polygon world.
Nothing here calls the engine's geometry kernels, so a check cannot share a
defect with the code it checks.
"""

from __future__ import annotations

import math
import random
from dataclasses import dataclass, field
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

ROOT = "-1"  # the engine's synthetic root id (operators.containment.ROOT_ID)

DOCS_SCHEMA = (
    "doc_id string, spans array<struct<kind:string,text:string,"
    "media_ref:string,offset:int>>"
)
POINTS_SCHEMA = "point_id string, lat double, lon double"
RECTS_SCHEMA = ("area_idx long, min_lat double, min_lon double, "
                "max_lat double, max_lon double")


@dataclass
class Area:
    """Expected post-dedup area: its id and what the engine must derive."""
    osm_id: str
    n_points: int
    bbox: tuple[float, float, float, float]  # min_lat, min_lon, max_lat, max_lon
    area: float


@dataclass
class World:
    name: str
    areas: dict[str, Area]
    parents: dict[str, list[str]]  # child osm_id -> direct parents (ROOT if none)
    points: list[tuple[str, float, float]]
    containing: dict[str, list[str]]  # point_id -> osm_ids of areas holding it
    rects: list[tuple] | None = None  # rect_forest: scaled_documents_df rects
    doc_rows: list[tuple] | None = None  # polygon_relations: DOCS_SCHEMA rows
    stats: dict[str, float] = field(default_factory=dict)

    def documents(self, spark):
        """The world's DOCS_SCHEMA documents table (lazy)."""
        if self.rects is not None:
            from osm_jigsaw_spark.fixtures.scaled_docs import (
                scaled_documents_df,
            )
            rects = spark.createDataFrame(self.rects, RECTS_SCHEMA)
            return scaled_documents_df(spark, len(self.rects), rects=rects)
        return spark.createDataFrame(self.doc_rows, DOCS_SCHEMA)

    def points_df(self, spark):
        return spark.createDataFrame(self.points, POINTS_SCHEMA)

    def edges(self) -> set[tuple[str, str]]:
        """Expected (parent_osm_id, child_osm_id) graph edges, root edges
        included."""
        return {(p, c) for c, ps in self.parents.items() for p in ps}

    def children(self) -> dict[str, list[str]]:
        kids: dict[str, list[str]] = {}
        for c, ps in self.parents.items():
            for p in ps:
                kids.setdefault(p, []).append(c)
        return kids

    def tile_bounds(self, res: int) -> tuple[int, int]:
        """Bounds on the tile-assignment count at geohash resolution res.

        A tile is assigned when the area's interior meets it. For an axis
        rectangle that is exactly "the bbox overlaps the tile by more than a
        boundary touch", so the rect world's count is exact. A polygon meets
        at least the tile holding its centre and at most the tiles its bbox
        overlaps."""
        axes = [(-90.0, 180.0, (5 * res) // 2), (-180.0, 360.0, (5 * res + 1) // 2)]
        eps = 1e-9
        hi = 0
        for a in self.areas.values():
            n = 1
            for k, (lo_c, span, bits) in enumerate(axes):
                lo_v, hi_v, cells = a.bbox[k], a.bbox[k + 2], 1 << bits
                size = span / cells

                def idx(v):
                    return min(cells - 1, max(0, math.floor((v - lo_c) / span * cells)))

                n *= sum(1 for i in range(idx(lo_v), idx(hi_v) + 1)
                         if hi_v >= lo_c + i * size + eps
                         and lo_v <= lo_c + (i + 1) * size - eps)
            hi += n
        return (hi if self.rects is not None else len(self.areas)), hi

    def paths(self, point_ids) -> dict[str, list[tuple[str, ...]]]:
        """Expected root-first osm_id paths per point: every chain from the
        root down to a containing area none of whose children contains the
        point (the reference's pathsDownTo descent)."""
        kids = self.children()
        out = {}
        for pid in point_ids:
            inside = set(self.containing[pid])
            found = []
            stack = [(c, (c,)) for c in kids.get(ROOT, []) if c in inside]
            while stack:
                node, path = stack.pop()
                nxt = [c for c in kids.get(node, []) if c in inside]
                if not nxt:
                    found.append(path)
                stack.extend((c, path + (c,)) for c in nxt)
            out[pid] = sorted(found)
        return out


# ---------------------------------------------------------------------------
# rect_forest
# ---------------------------------------------------------------------------

TREE_DEPTH = 6
BRANCH = 4
TREE_NODES = (BRANCH ** (TREE_DEPTH + 1) - 1) // (BRANCH - 1)
MEGA_RECTS = [
    (-85.0, -175.0, 80.0, 170.0),
    (-80.0, -170.0, 85.0, 175.0),
    (-60.0, -120.0, 60.0, 120.0),
]
RECT_WAY_BASE = 2_000_000  # scaled_documents_df: way_id = 2,000,000 + area_idx


def _round6(x: float) -> float:
    """Spark's round(x, 6): HALF_UP on the decimal rendering."""
    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))


def scaled_rects(n_areas: int) -> list[tuple]:
    """(area_idx, min_lat, min_lon, max_lat, max_lon) of the scaled world:
    the closed form of fixtures.scaled_docs._area_rects. Tree t sits in a
    10-degree base cell; each node splits its parent into 2x2 quadrants at
    45% scale with a 5% margin."""
    rows = [(i, *r) for i, r in enumerate(MEGA_RECTS)]
    for jg in range(n_areas - len(MEGA_RECTS)):
        tree, j = divmod(jg, TREE_NODES)
        y = -60.0 + ((tree // 24) % 12) * 10.0
        x = -120.0 + (tree % 24) * 10.0
        lvl = next(l for l in range(TREE_DEPTH + 1)
                   if j < (BRANCH ** (l + 1) - 1) // (BRANCH - 1))
        m = j - (BRANCH ** lvl - 1) // (BRANCH - 1)
        h = w = 8.0
        for k in range(lvl):
            digit = (m // BRANCH ** (lvl - 1 - k)) % BRANCH
            y += h * (0.05 + (digit // 2) * 0.45)
            x += w * (0.05 + (digit % 2) * 0.45)
            h *= 0.45
            w *= 0.45
        rows.append((jg + len(MEGA_RECTS), _round6(y), _round6(x),
                     _round6(y + h), _round6(x + w)))
    return rows


def rect_forest(n_areas: int, n_points: int, seed: int) -> World:
    """The scaled rectangle world plus ``n_points`` seeded points, each
    drawn uniformly inside a uniformly chosen area (so most land in deep
    leaves and carry two paths, one per outer mega rectangle)."""
    rects = scaled_rects(n_areas)
    ids = [f"{RECT_WAY_BASE + r[0]}W" for r in rects]
    box = np.array([r[1:] for r in rects])  # min_lat, min_lon, max_lat, max_lon
    areas = {
        oid: Area(oid, 4, tuple(b),
                  float((b[2] - b[0]) * (b[3] - b[1])))
        for oid, b in zip(ids, box.tolist())
    }
    # boundary-inclusive rectangle containment; rects are pairwise distinct
    parents = {}
    for c in range(len(rects)):
        anc = np.nonzero((box[:, 0] <= box[c, 0]) & (box[:, 1] <= box[c, 1])
                         & (box[:, 2] >= box[c, 2]) & (box[:, 3] >= box[c, 3]))[0]
        anc = [a for a in anc if a != c]
        direct = [a for a in anc
                  if not any(z != a and _rect_holds(box[a], box[z]) for z in anc)]
        parents[ids[c]] = [ids[a] for a in direct] or [ROOT]

    rng = random.Random(f"rect_forest:{seed}")
    points = []
    for i in range(n_points):
        b = rects[rng.randrange(len(rects))][1:]
        points.append((f"p{i}", rng.uniform(b[0], b[2]), rng.uniform(b[1], b[3])))
    lat = np.array([p[1] for p in points])
    lon = np.array([p[2] for p in points])
    containing: dict[str, list[str]] = {p[0]: [] for p in points}
    for oid, b in zip(ids, box):
        hit = (lat >= b[0]) & (lat <= b[2]) & (lon >= b[1]) & (lon <= b[3])
        for k in np.nonzero(hit)[0]:
            containing[points[k][0]].append(oid)
    return World("rect_forest", areas, parents, points, containing, rects=rects)


def _rect_holds(a, b) -> bool:
    return a[0] <= b[0] and a[1] <= b[1] and a[2] >= b[2] and a[3] >= b[3]


# ---------------------------------------------------------------------------
# polygon_relations
# ---------------------------------------------------------------------------

MIN_VERTICES, MAX_VERTICES = 16, 512
NODE_BASE, WAY_BASE, REL_BASE = 1, 50_000_000, 90_000_000
#: two overlapping mega polygons; neither contains the other, both contain
#: every tree, so a point inside a tree node has two paths
MEGA_POLYS = [((0.0, -10.0), 80.0), ((0.0, 10.0), 80.0)]
TREE_SPACING = 24.0  # degrees between tree-root centres
CHILD_OFFSET, CHILD_RADIUS = 0.5, 0.3  # x parent apothem; children disjoint


@dataclass
class Polygon:
    osm_id: str
    cy: float
    cx: float
    radius: float  # circumradius
    n: int
    phase: float
    lats: list[float]
    lons: list[float]

    @property
    def apothem(self) -> float:
        return self.radius * math.cos(math.pi / self.n)

    def signed_depth(self, lat: np.ndarray, lon: np.ndarray) -> np.ndarray:
        """Distance inside the polygon's boundary (negative outside), by the
        sector test: the edge facing a point is the one whose angular sector
        holds it, and the point is inside iff its projection on that edge's
        normal is at most the apothem."""
        dy, dx = lat - self.cy, lon - self.cx
        r = np.hypot(dy, dx)
        step = 2 * math.pi / self.n
        theta = np.mod(np.arctan2(dy, dx) - self.phase, 2 * math.pi)
        mid = (np.floor(theta / step) + 0.5) * step
        return self.apothem - r * np.cos(theta - mid)


def _polygon(osm_id, cy, cx, radius, n, phase) -> Polygon:
    angles = [phase + 2 * math.pi * j / n for j in range(n)]
    return Polygon(osm_id, cy, cx, radius, n, phase,
                   [cy + radius * math.sin(a) for a in angles],
                   [cx + radius * math.cos(a) for a in angles])


def polygon_relations(n_trees: int, depth: int, n_points: int,
                      seed: int) -> World:
    """Nested regular n-gon trees (4 children per node, ``depth`` levels
    below each root) under two mega polygons, with seeded rotations,
    relation choice, relation splits and query points."""
    # The layout (positions, radii, vertex counts) is the same for every
    # seed, so every seed measures the same amount of work; the seed moves
    # rotations, which areas are relations, their splits, member order and
    # the points.
    layout = random.Random("polygon_relations:layout")
    rng = random.Random(f"polygon_relations:{seed}")
    # tree polygons get log-spaced vertex counts from 16 to 512
    n_tree = n_trees * (BRANCH ** (depth + 1) - 1) // (BRANCH - 1)
    counts = [round(MIN_VERTICES * (MAX_VERTICES / MIN_VERTICES)
                    ** (i / max(1, n_tree - 1))) for i in range(n_tree)]
    layout.shuffle(counts)
    counts = iter(counts)
    # (cy, cx, radius, n, parent): parent None for a mega polygon, -1 for a
    # tree root (child of both megas), else the parent's index
    specs = []
    for (cy, cx), radius in MEGA_POLYS:
        specs.append((cy, cx, radius, MAX_VERTICES, None))
    side = math.ceil(math.sqrt(n_trees))
    for t in range(n_trees):
        cy = (t // side - (side - 1) / 2) * TREE_SPACING
        cx = (t % side - (side - 1) / 2) * TREE_SPACING
        frontier = [(len(specs), 0)]
        specs.append((cy, cx, 0.42 * TREE_SPACING, next(counts), -1))
        while frontier:
            idx, lvl = frontier.pop(0)
            if lvl == depth:
                continue
            pcy, pcx, pr, pn, _ = specs[idx]
            a = pr * math.cos(math.pi / pn)
            turn = layout.uniform(0, 2 * math.pi)
            for k in range(BRANCH):
                ang = turn + 2 * math.pi * k / BRANCH
                r = CHILD_RADIUS * a * layout.uniform(0.85, 1.0)
                frontier.append((len(specs), lvl + 1))
                specs.append((pcy + CHILD_OFFSET * a * math.sin(ang),
                              pcx + CHILD_OFFSET * a * math.cos(ang),
                              r, next(counts), idx))

    # half the areas (seeded) are multipolygon relations, the rest closed ways
    is_rel = [False] * len(specs)
    for i in rng.sample(range(len(specs)), len(specs) // 2):
        is_rel[i] = True
    splits = [2 + k % 7 for k in range(sum(is_rel))]  # 2..8 ways each
    rng.shuffle(splits)
    splits = iter(splits)

    polys: list[Polygon] = []
    doc_rows: list[tuple] = []
    next_node, next_way = NODE_BASE, WAY_BASE
    n_ways_split = 0
    for i, (cy, cx, radius, n, _) in enumerate(specs):
        osm_num = REL_BASE + i if is_rel[i] else WAY_BASE - 1 - i
        poly = _polygon(f"{osm_num}{'R' if is_rel[i] else 'W'}", cy, cx,
                        radius, n, rng.uniform(0, 2 * math.pi))
        polys.append(poly)
        node_ids = list(range(next_node, next_node + n))
        next_node += n
        for nid, la, lo in zip(node_ids, poly.lats, poly.lons):
            doc_rows.append((f"{nid}N",
                             [("media", "", f"geo:{la!r},{lo!r}", 0)]))
        name = ("text", f"name=Poly {i}", "", 0)
        if not is_rel[i]:
            refs = [("media", "", f"node:{nid}", k + 1)
                    for k, nid in enumerate(node_ids + node_ids[:1])]
            doc_rows.append((poly.osm_id, _rotated([name] + refs, rng)))
            continue
        # outer ring split at m seeded cut vertices into m open ways, every
        # other way stored reversed, members listed in a seeded order
        m = next(splits)
        cuts = sorted(rng.sample(range(n), m))
        members = []
        for k in range(m):
            lo_i, hi_i = cuts[k], cuts[(k + 1) % m]
            seg = (node_ids[lo_i:hi_i + 1] if hi_i > lo_i
                   else node_ids[lo_i:] + node_ids[:hi_i + 1])
            if k % 2:
                seg = seg[::-1]
            refs = [("media", "", f"node:{nid}", j) for j, nid in enumerate(seg)]
            doc_rows.append((f"{next_way}W", _rotated(refs, rng)))
            members.append(next_way)
            next_way += 1
        n_ways_split += m
        rng.shuffle(members)
        spans = [("text", "type=multipolygon", "", 0), ("text", name[1], "", 1)]
        spans += [("media", "", f"way:{w}#outer", j + 2)
                  for j, w in enumerate(members)]
        doc_rows.append((poly.osm_id, _rotated(spans, rng)))

    ids = [p.osm_id for p in polys]
    parents = {}
    for i, (*_, parent) in enumerate(specs):
        if parent is None:
            parents[ids[i]] = [ROOT]
        elif parent == -1:
            parents[ids[i]] = [ids[0], ids[1]]
        else:
            parents[ids[i]] = [ids[parent]]
    areas = {
        p.osm_id: Area(p.osm_id, p.n,
                       (min(p.lats), min(p.lons), max(p.lats), max(p.lons)),
                       0.5 * p.n * p.radius ** 2 * math.sin(2 * math.pi / p.n))
        for p in polys
    }

    points, containing, edge_walk = _polygon_points(polys, n_points, rng)
    world = World("polygon_relations", areas, parents, points, containing,
                  doc_rows=doc_rows)
    world.stats = {
        "areas": len(polys),
        "relations": sum(is_rel),
        "ways_per_relation": n_ways_split / max(1, sum(is_rel)),
        "node_docs": next_node - NODE_BASE,
        "mean_vertices": sum(p.n for p in polys) / len(polys),
        "edge_walk_share": edge_walk,
    }
    return world


def _rotated(spans: list[tuple], rng: random.Random) -> list[tuple]:
    """Rotate a span array: decoders must order spans by offset."""
    k = rng.randrange(len(spans))
    return spans[k:] + spans[:k]


#: a point closer than this (degrees) to any boundary is redrawn, so float
#: rounding in the vertex coordinates cannot flip the expected answer
BOUNDARY_MARGIN = 1e-7


def _polygon_points(polys: list[Polygon], n_points: int, rng: random.Random):
    """Seeded points around uniformly chosen polygons: 60% well inside,
    25% in a band straddling the boundary, 15% in a bbox corner outside the
    polygon. Returns the points, the areas holding each, and the share of
    points that some polygon's bbox holds but the polygon does not — the
    points whose answer only the point-in-polygon edge-walk decides."""
    points = []
    for i in range(n_points):
        while True:
            p = polys[rng.randrange(len(polys))]
            u, ang = rng.random(), rng.uniform(0, 2 * math.pi)
            if u < 0.60:
                r = 0.95 * p.apothem * math.sqrt(rng.random())
            elif u < 0.85:
                r = rng.uniform(p.apothem - 0.01 * p.radius, 1.01 * p.radius)
            else:
                ang = math.pi / 4 + rng.randrange(4) * math.pi / 2 \
                    + rng.uniform(-0.15, 0.15)
                r = p.radius * rng.uniform(1.03, 1.25)
            lat, lon = p.cy + r * math.sin(ang), p.cx + r * math.cos(ang)
            depth = [q.signed_depth(np.array([lat]), np.array([lon]))[0]
                     for q in polys if abs(lat - q.cy) <= 1.5 * q.radius
                     and abs(lon - q.cx) <= 1.5 * q.radius]
            if all(abs(d) > BOUNDARY_MARGIN for d in depth):
                break
        points.append((f"q{i}", lat, lon))
    lat = np.array([p[1] for p in points])
    lon = np.array([p[2] for p in points])
    containing: dict[str, list[str]] = {p[0]: [] for p in points}
    bbox_only = np.zeros(len(points), dtype=bool)
    for q in polys:
        inside = q.signed_depth(lat, lon) >= 0
        in_box = ((lat >= min(q.lats)) & (lat <= max(q.lats))
                  & (lon >= min(q.lons)) & (lon <= max(q.lons)))
        bbox_only |= in_box & ~inside
        for k in np.nonzero(inside)[0]:
            containing[points[k][0]].append(q.osm_id)
    return points, containing, float(bbox_only.mean()) if points else 0.0
