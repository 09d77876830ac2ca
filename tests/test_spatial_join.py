"""Spatial-join correctness vs brute force (FIXTURES.md §3 pip_pairs:
'the bit-identical gate vs brute-force oracle')."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from s2geometry_spark.kernels import cellid as CI
from s2geometry_spark.operators import spatial_join as SJ
from s2geometry_spark.operators import tile as T
from s2geometry_spark.sources import points as P
from s2geometry_spark.sources import regions_src as R


@pytest.fixture(scope="module")
def pts_df(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    pts = P.with_xyz(orders.select(F.col("o_orderkey").alias("key")))
    return T.assign_cellids(pts)


@pytest.fixture(scope="module")
def pts_np(pts_df):
    pdf = pts_df.select("key", "x", "y", "z").toPandas()
    v = pdf[["x", "y", "z"]].to_numpy()
    n = np.sqrt((v * v).sum(axis=1))
    return pdf["key"].to_numpy(), v / n[:, None]


def brute_force_cap_pairs(keys, unit, caps):
    out = []
    for rid, cap in caps:
        c = np.array(cap.center)
        d = unit - c
        chord2 = np.minimum((d * d).sum(axis=1), 4.0)
        hit = chord2 <= cap.radius2
        out.extend((int(k), rid) for k in keys[hit])
    return sorted(out)


class TestCapJoin:
    def test_matches_brute_force(self, spark, pts_df, pts_np):
        caps = R.synthetic_caps(range(40))
        got = sorted(
            (r["key"], r["region_id"])
            for r in SJ.point_in_cap_join(spark, pts_df, caps).collect()
        )
        keys, unit = pts_np
        want = brute_force_cap_pairs(keys, unit, caps)
        assert got == want
        assert len(got) > 0

    def test_shuffle_path_same_result(self, spark, pts_df, no_auto_broadcast):
        caps = R.synthetic_caps(range(12))
        broadcast = sorted(
            (r["key"], r["region_id"])
            for r in SJ.point_in_cap_join(spark, pts_df, caps).collect()
        )
        shuffle_df = SJ.point_in_cap_join(spark, pts_df, caps, broadcast=False)
        plan = shuffle_df._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        shuffled = sorted(
            (r["key"], r["region_id"]) for r in shuffle_df.collect()
        )
        assert broadcast == shuffled

    def test_semi_and_anti(self, spark, pts_df):
        caps = R.synthetic_caps(range(12))
        n_total = pts_df.count()
        inside = SJ.point_in_cap_semi(spark, pts_df, caps).count()
        outside = SJ.point_in_cap_semi(spark, pts_df, caps, anti=True).count()
        assert inside + outside == n_total
        assert inside > 0


class TestRectContainment:
    def test_rect_region_covering_pip(self, spark, pts_np):
        """Rect containment via coverer + driver-side check against
        numpy brute force (rects aren't SQL-oracle'd; this is their
        gate)."""
        from s2geometry_spark.kernels import cellunion as CU
        from s2geometry_spark.kernels.coverer import CovererOptions, RegionCoverer

        keys, unit = pts_np
        lat = np.degrees(np.arctan2(unit[:, 2], np.hypot(unit[:, 0], unit[:, 1])))
        lon = np.degrees(np.arctan2(unit[:, 1], unit[:, 0]))
        leafs = CI.ll_to_cellid(lat, lon)
        for rid, rect in R.synthetic_rects(range(8)):
            rc = RegionCoverer(CovererOptions(max_cells=24))
            cov = CU.normalize(rc.get_covering(rect))
            inside_bf = np.array(
                [
                    rect.contains_ll(np.radians(la), np.radians(lo))
                    for la, lo in zip(lat, lon)
                ]
            )
            # covering must contain every inside point's leaf cell
            for leaf, ok in zip(leafs.tolist(), inside_bf.tolist()):
                if ok:
                    assert CU.contains_id(cov, int(leaf))


def test_empty_region_lists_yield_empty_results(spark, sf_dir):
    """caps=[]/loops=[]/polylines=[] must return a valid empty frame,
    not crash schema inference on an empty pandas frame."""
    from pyspark.sql import functions as F2

    from s2geometry_spark.operators import spatial_join as SJ
    from s2geometry_spark.operators import tile as T
    from s2geometry_spark.sources import points as P

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").limit(50)
    pts = T.assign_cellids(
        P.with_xyz(orders.select(F2.col("o_orderkey").alias("key")))
    )
    assert SJ.point_in_cap_join(spark, pts, []).count() == 0
    assert SJ.point_in_cap_range_join(spark, pts, []).count() == 0
    assert SJ.point_near_loop_join(spark, pts, [], 0.1).count() == 0
    assert SJ.point_near_polyline_join(spark, pts, [], 0.1).count() == 0
    assert SJ.label_range_join(spark, pts, []).count() == 0
