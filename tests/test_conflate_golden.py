"""End-to-end golden test (SURVEY.md §5.2): the distributed Spark
conflation must reproduce the NumPy executable spec EXACTLY (same row
set, exact distance_m/similarity values), and be invariant to physical
knobs (cell resolution, skew salting, broadcast)."""

import pandas as pd
import pytest

from overmatch_spark import fixtures
from overmatch_spark.operators.conflate import (
    DEFAULT_RES,
    conflate,
    detect_hot_cells,
)
from overmatch_spark.spec import conflate_spec

N_IMAGES = 1200


@pytest.fixture(scope="module")
def layers():
    images = fixtures.make_images(N_IMAGES, with_bytes=False)
    a = fixtures.derive_layer_a(images)
    b = fixtures.source_filter_b(fixtures.derive_layer_b(images))
    return a, b


@pytest.fixture(scope="module")
def golden(layers):
    a, b = layers
    return conflate_spec(a, b)


def _spark_layers(spark, layers):
    a, b = layers
    sa = spark.createDataFrame(a[["osm_id", "name", "housenumber", "lon", "lat"]])
    sb = spark.createDataFrame(b[["id", "name", "housenumber", "lon", "lat"]])
    return sa, sb


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    return (
        pdf.sort_values(["osm_id", "overture_id"])
        .reset_index(drop=True)[
            ["osm_id", "overture_id", "lon", "lat", "distance_m", "similarity"]
        ]
    )


def assert_equal_matches(got: pd.DataFrame, exp: pd.DataFrame):
    got, exp = _normalize(got), _normalize(exp)
    assert len(got) == len(exp), f"row count {len(got)} != {len(exp)}"
    pd.testing.assert_frame_equal(got, exp, check_exact=True)


def test_golden_exact(spark, layers, golden):
    sa, sb = _spark_layers(spark, layers)
    got = conflate(sa, sb).toPandas()
    assert len(golden) > 100  # fixture sanity: a real workload shape
    assert_equal_matches(got, golden)


def test_resolution_invariance(spark, layers, golden):
    sa, sb = _spark_layers(spark, layers)
    for res in (15, 20):
        got = conflate(sa, sb, res=res).toPandas()
        assert_equal_matches(got, golden)


def test_salt_invariance(spark, layers, golden):
    sa, sb = _spark_layers(spark, layers)
    from pyspark.sql import functions as F

    from overmatch_spark import expressions as X

    bxy = sb.withColumn("x", X.merc_x(F.col("lon"))).withColumn(
        "y", X.merc_y(F.col("lat"))
    )
    # hot cells at the join's own resolution, so the salt engages
    hot = detect_hot_cells(bxy, res=DEFAULT_RES, threshold=20)
    assert hot, "fixture must contain at least one hot cell (skew)"
    got = conflate(sa, sb, hot_cells=hot, salt_factor=4).toPandas()
    assert_equal_matches(got, golden)

    # DataFrame hot set: hot ids never transit the driver
    from overmatch_spark.operators.conflate import detect_hot_cells_df

    hot_df = detect_hot_cells_df(bxy, res=DEFAULT_RES, threshold=20)
    assert hot_df.count() > 0
    got2 = conflate(sa, sb, hot_cells=hot_df, salt_factor=4).toPandas()
    assert_equal_matches(got2, golden)


def test_broadcast_invariance(spark, layers, golden):
    sa, sb = _spark_layers(spark, layers)
    got = conflate(sa, sb, broadcast_b=True).toPandas()
    assert_equal_matches(got, golden)


def test_golden_invariants_match_reference_shape(golden):
    # invariants pinned by the reference's golden data
    # (/root/reference/data/matches.jsonl)
    assert (golden["similarity"] >= 0.6).all()
    assert (golden["similarity"] <= 1.0).all()
    assert (golden["distance_m"] >= 0.0).all()
    assert (golden["distance_m"] <= 100.0).all()
