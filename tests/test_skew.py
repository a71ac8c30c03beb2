"""G4 measured salting: wiring tests for operators.skew via
pip_join_rings.

The skew case is BASELINE's dense-urban-extent: one cell holding a huge
share of the points. pip_join_rings shuffles points on cell, so that
cell is a hot key; measured salting must (a) leave results
bit-identical to the broadcast pip_join and (b) demonstrably spread the
hot key across salt values.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from osm_pbf_spark.operators.skew import heavy_hitters, replicate_for_salt, with_salt
from osm_pbf_spark.operators.spatial_join import Polygon, pip_join, pip_join_rings, with_cell
from tests.test_pip_rings import _rings_df

HOT_LAT, HOT_LON = 40.75, -73.99  # the "city"


@pytest.fixture(scope="module")
def skewed_points(spark):
    rng = np.random.default_rng(7)
    n_hot, n_cold = 5000, 2000
    lat = np.concatenate([
        HOT_LAT + rng.uniform(-0.005, 0.005, n_hot),
        rng.uniform(-60, 60, n_cold),
    ])
    lon = np.concatenate([
        HOT_LON + rng.uniform(-0.005, 0.005, n_hot),
        rng.uniform(-170, 170, n_cold),
    ])
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame({"doc_id": np.arange(len(lat)), "lat": lat, "lon": lon})
    ).repartition(4)


POLYS = [
    Polygon("city", [np.array([
        [HOT_LAT - 0.1, HOT_LON - 0.1], [HOT_LAT - 0.1, HOT_LON + 0.1],
        [HOT_LAT + 0.1, HOT_LON + 0.1], [HOT_LAT + 0.1, HOT_LON - 0.1],
    ])]),
    Polygon("band", [np.array([[-30.0, -150.0], [-30.0, 150.0], [-20.0, 150.0], [-20.0, -150.0]])]),
]


def test_salted_shuffle_matches_broadcast(spark, skewed_points):
    a = sorted(
        (r.doc_id, r.poly_id)
        for r in pip_join(spark, skewed_points, POLYS, level=8).collect()
    )
    b = sorted(
        (r.doc_id, r.poly_id)
        for r in pip_join_rings(
            spark, skewed_points, _rings_df(spark, POLYS), level=8, salt_threshold=500
        ).collect()
    )
    assert a == b
    assert len(a) >= 5000  # the whole hot blob is inside the city polygon


def test_heavy_hitters_finds_hot_cell_and_salt_spreads_it(spark, skewed_points):
    pts = with_cell(skewed_points, 8)
    heavy = heavy_hitters(pts, "cell", threshold=500)
    assert heavy, "the hot cell must be detected"
    (hot_cell, k), *_ = sorted(heavy.items(), key=lambda kv: -kv[1])
    assert k >= 2
    salted = with_salt(pts, "cell", heavy, ["lat", "lon"], "_salt")
    per_key = (
        salted.groupBy("cell", "_salt").count().filter(F.col("cell") == hot_cell).collect()
    )
    hot_total = sum(r["count"] for r in per_key)
    max_salted = max(r["count"] for r in per_key)
    assert len(per_key) == k  # the key space actually fans out
    # balanced within 2x of ideal: the tail task shrinks ~k-fold
    assert max_salted <= 2 * hot_total / k


def test_replicate_matches_salt_cardinality(spark):
    import pandas as pd

    heavy = {11: 4}
    small = spark.createDataFrame(pd.DataFrame({"cell": [11, 22], "poly_id": ["a", "b"]}))
    rep = replicate_for_salt(small, "cell", heavy, "_salt")
    rows = sorted((r.cell, r._salt) for r in rep.collect())
    assert rows == [(11, 0), (11, 1), (11, 2), (11, 3), (22, 0)]
