"""Size guards of the scaled skew-stress worlds."""

from __future__ import annotations

import pytest

from osm_jigsaw_spark.fixtures.scaled_docs import hot_node_rects


def test_hot_node_rects_rejects_nesting_sizes(spark):
    assert hot_node_rects(spark, 720 * 320 + 1).count() == 720 * 320 + 1
    with pytest.raises(ValueError, match="at most 230401"):
        hot_node_rects(spark, 720 * 320 + 2)
