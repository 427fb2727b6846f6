"""Open-ring cleanup (operators/areas._clean_ring_pts) on a long ring.

A 2,048-vertex ring split into member ways that share their joint nodes,
every other way stored reversed, closed by repeating the first node — the
shape a stitched relation outline has. Both resolve paths must return the
exact open ring, and the plan must look up each predecessor from a bound
array rather than rebuild the array per element."""

from __future__ import annotations

import math
import re

import pytest
from pyspark.sql import functions as F

from osm_jigsaw_spark.operators import areas as A

N = 2048
WAY_LEN = 200  # nodes per member way, joints included


def _coord(i):
    t = 2 * math.pi * i / N
    return round(10 * math.sin(t), 9), round(10 * math.cos(t), 9)


def _ways():
    """(way_id, node_ids as stored, signed ref): the ring 0..N-1, 0 cut
    into ways that repeat each joint node; even-numbered ways stored
    reversed and referenced with a negative id."""
    ring = list(range(N)) + [0]
    out, start, w = [], 0, 1
    while start < N:
        seg = ring[start:start + WAY_LEN]
        start += WAY_LEN - 1
        if w % 2:
            out.append((w, seg, w))
        else:
            out.append((w, seg[::-1], -w))
        w += 1
    return out


def _node_sequence(ways):
    """The stitched node sequence with its joint duplicates, plus two
    repeated nodes inside a way."""
    seq = []
    for _, ids, signed in ways:
        seq += ids if signed > 0 else ids[::-1]
    return seq[:10] + [seq[9], seq[9]] + seq[10:]


@pytest.fixture(scope="module")
def ring_inputs(spark):
    nodes = spark.createDataFrame(
        [(i, *_coord(i)) for i in range(N)],
        "node_id long, lat double, lon double")
    ways = _ways()
    outlines = spark.createDataFrame(
        [("1R", 0, _node_sequence(ways))],
        "osm_id string, ring_index int, node_ids array<long>")
    refs = spark.createDataFrame(
        [("1R", 0, [s for _, _, s in ways])],
        "osm_id string, ring_index int, way_ids array<long>")
    wpoints = spark.createDataFrame(
        [(w, [_coord(i)[0] for i in ids], [_coord(i)[1] for i in ids])
         for w, ids, _ in ways],
        "way_id long, lats array<double>, lons array<double>")
    return nodes, outlines, refs, wpoints


def _expected():
    pts = [_coord(i) for i in range(N)]
    return [("1R", 0, [p[0] for p in pts], [p[1] for p in pts], N)]


def _rows(df):
    return [(r.osm_id, r.ring_index, list(r.lats), list(r.lons), r.n_points)
            for r in df.collect()]


def test_inputs_have_the_dirty_shape():
    ways = _ways()
    seq = _node_sequence(ways)
    assert any(s < 0 for _, _, s in ways)
    assert seq[0] == seq[-1] == 0
    assert len(seq) - N == len(ways) + 2  # joints + closing + 2 repeats


def test_resolve_outline_points_opens_ring(ring_inputs):
    nodes, outlines, _, _ = ring_inputs
    assert _rows(A.resolve_outline_points(outlines, nodes)) == _expected()


def test_reassemble_outline_points_opens_ring(ring_inputs):
    _, _, refs, wpoints = ring_inputs
    assert _rows(A.reassemble_outline_points(refs, wpoints)) == _expected()


def _spans(text: str, head: str):
    """Balanced-parenthesis bodies of every `head(` call in text."""
    for m in re.finditer(re.escape(head) + r"\(", text):
        depth, i = 1, m.end()
        while depth:
            depth += {"(": 1, ")": -1}.get(text[i], 0)
            i += 1
        yield text[m.end():i - 1]


def _plans(ring_inputs):
    nodes, outlines, refs, wpoints = ring_inputs
    for df in (A.resolve_outline_points(outlines, nodes),
               A.reassemble_outline_points(refs, wpoints)):
        # build_areas' filter on n_points must not re-run the cleanup
        df = df.filter(F.col("n_points") >= 3)
        yield df._jdf.queryExecution().optimizedPlan().toString()


def test_predecessor_lookup_reads_a_bound_array(ring_inputs):
    for plan in _plans(ring_inputs):
        filters = list(_spans(plan, "filter"))
        assert filters
        for body in filters:
            for arg in _spans(body, "element_at"):
                assert re.match(r"lambda \w+#\d+|\w+#\d+\b", arg), arg[:120]


def test_cleanup_evaluated_once(ring_inputs):
    for plan in _plans(ring_inputs):
        assert plan.count("filter(") == 1
