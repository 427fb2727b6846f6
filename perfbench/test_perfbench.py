"""Tests of the benchmark's own parts: the closed-form expectations against
the engine on tiny worlds, and the event-log fold on a toy job.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import numpy as np
import pytest

import run as bench
import worlds
from eventlog import fold, read_events


@pytest.fixture(scope="module")
def session(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("perfbench"))
    spark, _ = bench.start_session(work, trace=True)
    yield spark, work
    from pyspark import SparkContext
    if SparkContext._active_spark_context is not None:
        bench.stop_session(spark)


def test_scaled_rects_match_fixture(session):
    from osm_jigsaw_spark.fixtures.scaled_docs import _area_rects
    spark, _ = session
    want = sorted(tuple(r) for r in _area_rects(spark, 400).collect())
    got = worlds.scaled_rects(400)
    assert [r[0] for r in got] == [r[0] for r in want]
    assert np.allclose([r[1:] for r in got], [r[1:] for r in want],
                       rtol=0, atol=1e-9)


def test_sector_test_matches_crossing_number():
    poly = worlds._polygon("1W", 3.0, -2.0, 5.0, 17, 0.3)
    rng = np.random.default_rng(7)
    lat = 3.0 + rng.uniform(-6, 6, 500)
    lon = -2.0 + rng.uniform(-6, 6, 500)
    ys, xs = np.array(poly.lats), np.array(poly.lons)
    ys2, xs2 = np.roll(ys, -1), np.roll(xs, -1)
    for la, lo, depth in zip(lat, lon, poly.signed_depth(lat, lon)):
        crosses = ((ys > la) != (ys2 > la)) & (
            lo < xs + (la - ys) * (xs2 - xs) / (ys2 - ys))
        assert bool(crosses.sum() % 2) == (depth > 0)


@pytest.mark.parametrize("make", [
    lambda: worlds.rect_forest(24, 60, seed=3),
    lambda: worlds.polygon_relations(1, 1, 60, seed=3),
], ids=["rect_forest", "polygon_relations"])
def test_expectation_matches_engine(session, make):
    spark, _ = session
    world = make()
    docs, pts, _, _ = bench.make_inputs(spark, world)
    has_relations = False if world.rects is not None else None
    p = bench.build_pass(spark, docs, has_relations)
    assert bench.check_pass(world, p) == []
    out, _ = bench.geocode_batch(p, pts)
    ids = [q[0] for q in world.points]
    got = bench.collect_paths(out)
    assert bench.check_paths(world, got, ids) == []
    assert sum(len(v) for v in got.values()) > len(ids)  # multi-parent
    _, one = bench.request(spark, p, world.points[0])
    assert bench.check_paths(world, one, ids[:1]) == []
    p.barriers.release()


def test_polygon_world_shape():
    w = worlds.polygon_relations(1, 2, 200, seed=11)
    ns = [a.n_points for a in w.areas.values()]
    assert min(ns) >= worlds.MIN_VERTICES and max(ns) == worlds.MAX_VERTICES
    assert w.stats["relations"] == len(w.areas) // 2
    assert 2 <= w.stats["ways_per_relation"] <= 8
    assert 0 < w.stats["edge_walk_share"] < 1


def test_fold_two_job_groups(session):
    # stops the shared session to complete the log, so it runs last
    spark, work = session
    sc = spark.sparkContext
    sc.setJobGroup("shuffle", "toy")
    spark.range(2_000).repartition(3).selectExpr("id % 7 AS k") \
        .groupBy("k").count().collect()
    sc.setJobGroup("narrow", "toy")
    spark.range(100).selectExpr("id * 2 AS x").collect()
    bench.stop_session(spark)
    groups = fold(read_events(f"{work}/eventlog"))
    shuffle, narrow = groups["shuffle"].metrics(), groups["narrow"].metrics()
    assert shuffle["jobs"] >= 1 and narrow["jobs"] >= 1
    assert shuffle["tasks"] > 0 and narrow["tasks"] > 0
    assert shuffle["shuffle_write_mb"] > 0
    assert narrow["shuffle_write_mb"] == 0
    assert groups["narrow"].job_span_s >= 0
