"""Depth-bounded graph loops raise instead of dropping deeper levels."""

from __future__ import annotations

import pytest

from osm_jigsaw_spark.operators.containment import ROOT_ID, node_depths
from osm_jigsaw_spark.operators.geocode import geocode_paths
from osm_jigsaw_spark.operators.paths import enumerate_all_paths

DEPTH = 5  # root -> a1 -> ... -> a5


@pytest.fixture(scope="module")
def chain(spark):
    keys = [ROOT_ID] + [f"a{i}" for i in range(1, DEPTH + 1)]
    edges = spark.createDataFrame(
        [(p, p, c, c) for p, c in zip(keys, keys[1:])],
        "parent_key string, parent_osm_id string, "
        "child_key string, child_osm_id string")
    containing = spark.createDataFrame(
        [("p0", 0.0, 0.0, k, k, 1.0) for k in keys[1:]],
        "point_id string, lat double, lon double, area_key string, "
        "canonical_osm_id string, area double")
    return edges, containing, keys[1:]


def test_enumerate_all_paths_depth_bound(chain):
    edges, _, keys = chain
    rows = enumerate_all_paths(edges, max_depth=DEPTH).collect()
    assert [list(r.path) for r in rows] == [keys]
    with pytest.raises(RuntimeError, match="max_depth=4"):
        enumerate_all_paths(edges, max_depth=DEPTH - 1)


def test_node_depths_depth_bound(chain):
    edges, _, keys = chain
    got = {r.area_key: r.depth
           for r in node_depths(edges, max_depth=DEPTH).collect()}
    assert got == {k: i for i, k in enumerate(keys, 1)}
    with pytest.raises(RuntimeError, match="max_depth=4"):
        node_depths(edges, max_depth=DEPTH - 1)


def test_geocode_paths_depth_bound(chain):
    edges, containing, keys = chain
    rows = geocode_paths(edges, containing, max_depth=DEPTH).collect()
    assert [(r.point_id, list(r.path)) for r in rows] == [("p0", keys)]
    with pytest.raises(RuntimeError, match="max_depth=4"):
        geocode_paths(edges, containing, max_depth=DEPTH - 1)
