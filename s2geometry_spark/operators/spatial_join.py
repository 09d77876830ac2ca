"""Distributed point-in-region joins.

Pattern (SURVEY.md §2.4, after Index/S2RegionTermIndexer.cs): the
region side explodes to covering cells (small, broadcast); the point
side explodes each leaf cell to its ancestors at exactly the covering's
distinct levels; a hash equi-join on the cell id yields candidates
(a superset, at most one covering cell matches per region since
covering cells are disjoint); an exact vectorized refine predicate
keeps true containments.

Scale notes:
- Broadcast path: zero shuffle of the fact table; candidate explosion
  factor == number of distinct covering levels (typically 4-8).
- Shuffle path (region side too big to broadcast): hash join on the
  cell id; hot cells are left to AQE's skew join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import sparkfns as S
from ..kernels.coverer import CovererOptions
from ..kernels.geom import Cap
from . import coverings as COV


def normalized_cols(df: DataFrame, x="x", y="y", z="z") -> DataFrame:
    """Append unit-vector columns (ux,uy,uz) — plain JVM arithmetic."""
    r = F.sqrt(F.col(x) * F.col(x) + F.col(y) * F.col(y) + F.col(z) * F.col(z))
    return df.withColumns(
        {"ux": F.col(x) / r, "uy": F.col(y) / r, "uz": F.col(z) / r}
    )


def explode_ancestors(
    points: DataFrame, levels: list[int], cell_col: str = "cell_id"
) -> DataFrame:
    """One row per (point, level) with the ancestor cell at that level.

    Pure-JVM: array of bit-arithmetic parents + explode; stays in
    whole-stage codegen.  An empty ``levels`` (empty/degenerate region
    list) yields a valid zero-row frame rather than an un-typeable
    empty array expression."""
    if not levels:
        return points.withColumn(
            "anc_cell", F.lit(None).cast("long")
        ).where(F.lit(False))
    arr = F.array(*[S.cell_parent(F.col(cell_col), lv) for lv in levels])
    return points.withColumn("anc_cell", F.explode(arr))


def typed_cov_df(spark, pdf, id_col, ids, numeric):
    """createDataFrame with an EXPLICIT schema: an empty region list
    produces an all-object empty pandas frame that Spark cannot infer
    a schema from (the covering_df path solves this with _schema_of;
    this is the same guarantee for the ad-hoc covering/range frames).
    ``numeric`` maps every non-id column to its Spark type; the id
    column is typed from a sample id (LongType default)."""
    from pyspark.sql import types as T

    id_t = (
        T.StringType()
        if ids and isinstance(ids[0], str)
        else T.LongType()
    )
    fields = [
        T.StructField(c, id_t if c == id_col else numeric[c], True)
        for c in pdf.columns
    ]
    return spark.createDataFrame(pdf, schema=T.StructType(fields))


def cap_refine_predicate(
    ux: Column, uy: Column, uz: Column, cx: Column, cy: Column, cz: Column, r2: Column
) -> Column:
    """Exact cap containment: squared chord length <= radius2
    (S2Cap.cs:480-486).  min(4, |p-c|^2) like S1ChordAngle ctor."""
    dx, dy, dz = ux - cx, uy - cy, uz - cz
    chord2 = dx * dx + dy * dy + dz * dz
    return F.least(chord2, F.lit(4.0)) <= r2


BROADCAST_COVERING_LIMIT = 100_000  # rows; ~a few MB broadcast


def _candidate_join(
    probe: DataFrame, cov: DataFrame, n_cov: int, broadcast: bool | str
) -> DataFrame:
    """Probe ancestor cells equi-joined to the covering cells.  Size-
    based brute-vs-indexed switch (the S2ClosestEdgeQueryBase cost-model
    analogue for the covering join): ``broadcast="auto"`` broadcasts the
    ``n_cov``-row covering table while it is dim-sized and shuffles
    both sides otherwise."""
    if broadcast == "auto":
        broadcast = n_cov <= BROADCAST_COVERING_LIMIT
    right = F.broadcast(cov) if broadcast else cov
    return probe.join(right, probe["anc_cell"] == right["cov_cell"], "inner")


def point_in_cap_join(
    spark: SparkSession,
    points: DataFrame,
    caps: list[tuple[object, Cap]],
    options: CovererOptions | None = None,
    broadcast: bool | str = "auto",
    point_key: str = "key",
) -> DataFrame:
    """Join points (with x,y,z and cell_id columns) to containing caps.

    Returns (point_key, region_id) pairs, exactly the brute-force
    result set (refine predicate is bit-identical arithmetic).
    ``broadcast="auto"`` picks the broadcast plan for dim-sized
    coverings and the shuffle plan otherwise.
    """
    import pandas as pd

    extra = pd.DataFrame(
        [
            (rid, c.center[0], c.center[1], c.center[2], c.radius2)
            for rid, c in caps
        ],
        columns=["region_id", "cx", "cy", "cz", "r2"],
    )
    cov_rows = COV.build_covering_rows(caps, options)
    # reuse the rows already built for plan resolution — covering_df
    # would re-run the full RegionCoverer search per cap on the driver
    pdf = cov_rows.merge(extra, on="region_id", how="left")
    cov = spark.createDataFrame(pdf, schema=COV._schema_of(pdf, caps))
    levels = COV.covering_levels(cov_rows)
    probe = explode_ancestors(normalized_cols(points), levels)
    cov = cov.withColumnRenamed("cell_id", "cov_cell")
    joined = _candidate_join(probe, cov, len(cov_rows), broadcast)
    refined = joined.where(
        cap_refine_predicate(
            F.col("ux"), F.col("uy"), F.col("uz"),
            F.col("cx"), F.col("cy"), F.col("cz"), F.col("r2"),
        )
    )
    # covering cells are disjoint -> at most one candidate row per
    # (point, region); no dedup needed.
    return refined.select(F.col(point_key), F.col("region_id"))


def point_in_loop_join(
    spark: SparkSession,
    points: DataFrame,
    loops: list,
    options: CovererOptions | None = None,
    broadcast: bool | str = "auto",
    skip_interior: bool = False,
    point_key: str = "key",
) -> DataFrame:
    """Join points (x,y,z + cell_id columns) to containing loop regions.

    Pattern (SURVEY.md §2.4): region loops -> driver-side coverer ->
    broadcast covering table; probe explodes leaf ancestors at the
    covering's levels; hash equi-join; crossing-number parity refine
    (vectorized pUDF, S2Loop.cs Contains semantics).

    ``skip_interior=True`` skips the parity test for candidates whose
    covering cell is provably interior (MutableS2ShapeIndex
    contains_center analogue) — enable when the refine kernel dominates;
    the driver-contract query keeps it off so the output is arithmetic-
    identical to the brute-force SQL oracle.
    """
    from ..functions import udfs as U

    cov_pdf = COV.build_covering_rows(loops, options)
    levels = COV.covering_levels(cov_pdf)
    cov = spark.createDataFrame(
        cov_pdf, schema=COV._schema_of(cov_pdf, loops)
    ).withColumnRenamed("cell_id", "cov_cell")
    probe = explode_ancestors(points, levels)
    joined = _candidate_join(probe, cov, len(cov_pdf), broadcast)
    loops_by_id = {
        rid: (rg.edges, rg.origin_inside) for rid, rg in loops
    }
    contains = U.loop_parity_udf(loops_by_id)
    pred = contains(F.col("region_id"), F.col("x"), F.col("y"), F.col("z"))
    if skip_interior:
        pred = F.col("is_interior") | pred
    return joined.where(pred).select(F.col(point_key), F.col("region_id"))


def point_in_cap_range_join(
    spark: SparkSession,
    points: DataFrame,
    caps: list[tuple[object, Cap]],
    options: CovererOptions | None = None,
    point_key: str = "key",
) -> DataFrame:
    """Point-in-cap join via the S2CellIndex pattern (SURVEY.md §2.4
    cell-range join, Index/S2CellIndex.cs:56-71): coverings decomposed
    into disjoint leaf ranges on *biased* ids; candidates from a
    broadcast range predicate `bias(leaf) BETWEEN lo AND hi`; exact
    chord refine.  Result rows are identical to point_in_cap_join.

    Scale note: the range form suits few-large-regions workloads (ranges
    << covering cells); for many regions the equi-join form wins.
    """
    import numpy as np
    import pandas as pd

    from ..kernels import cellid as CI
    from ..kernels import cellunion as CU
    from ..kernels.coverer import RegionCoverer

    rc = RegionCoverer(options)
    rows = []
    for rid, cap in caps:
        cov = CU.normalize(rc.get_covering(cap))
        for lo, hi in CU.leaf_ranges(cov):
            rows.append(
                (
                    rid,
                    int(CI.bias(np.array([lo], np.uint64))[0]),
                    int(CI.bias(np.array([hi], np.uint64))[0]),
                    cap.center[0], cap.center[1], cap.center[2], cap.radius2,
                )
            )
    from pyspark.sql import types as T

    ranges = typed_cov_df(
        spark,
        pd.DataFrame(
            rows,
            columns=["region_id", "lo", "hi", "cx", "cy", "cz", "r2"],
        ),
        "region_id",
        [rid for rid, _ in caps],
        {
            "lo": T.LongType(), "hi": T.LongType(),
            "cx": T.DoubleType(), "cy": T.DoubleType(),
            "cz": T.DoubleType(), "r2": T.DoubleType(),
        },
    )
    probe = normalized_cols(points).withColumn(
        "leaf_biased", S.cell_bias(F.col("cell_id"))
    )
    cond = (F.col("leaf_biased") >= F.col("lo")) & (
        F.col("leaf_biased") <= F.col("hi")
    )
    joined = probe.join(F.broadcast(ranges), on=cond, how="inner")
    refined = joined.where(
        cap_refine_predicate(
            F.col("ux"), F.col("uy"), F.col("uz"),
            F.col("cx"), F.col("cy"), F.col("cz"), F.col("r2"),
        )
    )
    return refined.select(F.col(point_key), F.col("region_id"))


def point_near_loop_join(
    spark: SparkSession,
    points: DataFrame,
    loops: list,
    radius_rad: float,
    options: CovererOptions | None = None,
    point_key: str = "key",
) -> DataFrame:
    """Within-distance ("buffered") join: points within `radius_rad` of
    each loop region (inside counts).  Candidates come from the
    distance-callback buffered-region covering
    (kernels.buffered_region, the S2ShapeIndexBufferedRegion pattern —
    cell-to-edge distances drive the coverer, no buffer polygon is
    ever built and no whole-parent-cell over-covering as with
    S2CellUnion.Expand); the refine predicate is crossing parity OR
    min boundary edge distance (vectorized)."""
    import math

    import pandas as pd

    from ..functions import udfs as U
    from ..kernels import cellid as CI
    from ..kernels import cellunion as CU
    from ..kernels.buffered_region import buffered_loop_covering

    import numpy as np

    rows = []
    for rid, lp in loops:
        cov = CU.normalize(
            buffered_loop_covering(lp, radius_rad, options)
        )
        for cid in cov:
            rows.append(
                (rid, int(CI.as_i64(np.array([cid], np.uint64))[0]), CU._level(cid))
            )
    from pyspark.sql import types as T

    cov_pdf = pd.DataFrame(rows, columns=["region_id", "cov_cell", "level"])
    levels = sorted(int(v) for v in cov_pdf["level"].unique())
    cov = typed_cov_df(
        spark, cov_pdf, "region_id", [rid for rid, _ in loops],
        {"cov_cell": T.LongType(), "level": T.LongType()},
    )
    probe = explode_ancestors(normalized_cols(points), levels)
    # expanded coverings are normalized (disjoint), so each (point,
    # region) matches at most one covering cell — no dedup shuffle.
    joined = probe.join(
        F.broadcast(cov), probe["anc_cell"] == cov["cov_cell"], "inner"
    )
    radius_chord2 = near_chord2(radius_rad)  # the ONE shared definition
    loops_by_id = {rid: (lp.verts, lp.origin_inside) for rid, lp in loops}
    near = U.loop_near_udf(loops_by_id, radius_chord2)
    refined = joined.where(
        near(F.col("region_id"), F.col("ux"), F.col("uy"), F.col("uz"))
    )
    return refined.select(F.col(point_key), F.col("region_id"))


def polyline_covering_rows(
    polylines: list, radius_rad: float, options=None
):
    """(line_id, cov_cell, level) pandas frame of normalized buffered-
    polyline covering cells — the broadcast index side shared by the
    batch join below and the stream-static route matcher
    (streaming/route_stream.py)."""
    import numpy as np
    import pandas as pd

    from ..kernels import cellid as CI
    from ..kernels import cellunion as CU
    from ..kernels.buffered_region import buffered_polyline_covering

    rows = []
    for lid, verts in polylines:
        cov = CU.normalize(
            buffered_polyline_covering(verts, radius_rad, options)
        )
        for cid in cov:
            rows.append(
                (lid, int(CI.as_i64(np.array([cid], np.uint64))[0]),
                 CU._level(cid))
            )
    return pd.DataFrame(rows, columns=["line_id", "cov_cell", "level"])


def near_chord2(radius_rad: float) -> float:
    """radius (radians) -> the squared-chord bound used by the
    within-distance refines.  ONE definition shared by the Spark
    predicates and the DuckDB oracle literals — the exact IEEE
    expression must match on both sides or boundary-distance rows
    diverge."""
    import math

    s = math.sin(0.5 * min(radius_rad, math.pi))
    return min(4.0, 4 * s * s)


def near_polyline_refine(
    points: DataFrame,
    cov: DataFrame,
    levels: list[int],
    lines_by_id: dict,
    radius_chord2: float,
    point_key: str = "key",
) -> DataFrame:
    """The candidate-join + exact-refine core of the within-distance
    polyline join, shared VERBATIM by the batch operator below and the
    streaming twin (streaming/route_stream) so their plans cannot
    drift: leaf-encoded points -> ancestor terms at the covering
    levels -> broadcast covering equi-join -> vectorized
    min-edge-distance predicate.  Normalized coverings are disjoint
    per line, so each (point, line) candidate appears once — no dedup
    shuffle."""
    from ..functions import udfs as U

    probe = explode_ancestors(normalized_cols(points), levels)
    joined = probe.join(
        F.broadcast(cov), probe["anc_cell"] == cov["cov_cell"], "inner"
    )
    near = U.polyline_near_udf(lines_by_id, radius_chord2)
    return joined.where(
        near(F.col("line_id"), F.col("ux"), F.col("uy"), F.col("uz"))
    ).select(F.col(point_key), F.col("line_id"))


def point_near_polyline_join(
    spark: SparkSession,
    points: DataFrame,
    polylines: list,
    radius_rad: float,
    options: CovererOptions | None = None,
    point_key: str = "key",
) -> DataFrame:
    """Within-distance join against POLYLINE dim geometry ("points
    within d of a route"): candidates from the distance-callback
    buffered-polyline covering (kernels.buffered_region — cell-to-edge
    distances drive the coverer, no stadium polygon is built), refined
    by the exact vectorized min-edge-distance predicate.

    ``polylines``: [(line_id, verts (m,3))].  Output (key, line_id)."""
    import numpy as np

    from pyspark.sql import types as T

    cov_pdf = polyline_covering_rows(polylines, radius_rad, options)
    levels = sorted(int(v) for v in cov_pdf["level"].unique())
    cov = typed_cov_df(
        spark, cov_pdf, "line_id", [lid for lid, _ in polylines],
        {"cov_cell": T.LongType(), "level": T.LongType()},
    )
    lines_by_id = {lid: np.asarray(v, dtype=float) for lid, v in polylines}
    return near_polyline_refine(
        points, cov, levels, lines_by_id, near_chord2(radius_rad),
        point_key=point_key,
    )


def point_in_cap_semi(
    spark: SparkSession,
    points: DataFrame,
    caps: list[tuple[object, Cap]],
    options: CovererOptions | None = None,
    point_key: str = "key",
    anti: bool = False,
) -> DataFrame:
    """Semi/anti form: points that are inside (outside) any cap."""
    pairs = point_in_cap_join(spark, points, caps, options, point_key=point_key)
    how = "left_anti" if anti else "left_semi"
    return points.join(pairs.select(point_key).distinct(), on=point_key, how=how)


def label_range_join(
    spark: SparkSession,
    points: DataFrame,
    entries: list,
    point_key: str = "key",
) -> DataFrame:
    """General S2CellIndex lookup as a distributed range join: given
    (cell_id, label) index entries (cells may nest/overlap/repeat),
    return (point_key, label) for every point whose leaf cell is
    contained in some indexed cell (Index/S2CellIndex.cs
    GetIntersectingLabels semantics for point targets).

    The driver sweeps the entries into disjoint leaf ranges
    (kernels.cell_index), so each point matches exactly one range row
    per label — no dedup shuffle; the fact side never shuffles (the
    range table broadcasts)."""
    import pandas as pd

    from ..kernels import cellid as CI
    from ..kernels.cell_index import CellIndex

    import numpy as np

    idx = CellIndex(entries)
    rows = []
    for lo, hi, labels in idx.range_rows():
        lo_b = int(CI.bias(np.array([lo], dtype=np.uint64))[0])
        hi_b = int(CI.bias(np.array([hi], dtype=np.uint64))[0])
        for lab in labels:
            rows.append((lo_b, hi_b, lab))
    from pyspark.sql import types as T

    # cast only the range bounds: labels are an opaque caller type
    # (S2CellIndex allows arbitrary labels), and an empty entry list
    # still needs an explicit schema
    ranges = typed_cov_df(
        spark,
        pd.DataFrame(rows, columns=["lo", "hi", "label"]).astype(
            {"lo": "int64", "hi": "int64"}
        ),
        "label",
        [lab for _cid, lab in entries],
        {"lo": T.LongType(), "hi": T.LongType()},
    )
    probe = points.withColumn("leaf_biased", S.cell_bias(F.col("cell_id")))
    cond = (F.col("leaf_biased") >= F.col("lo")) & (
        F.col("leaf_biased") <= F.col("hi")
    )
    joined = probe.join(F.broadcast(ranges), on=cond, how="inner")
    return joined.select(F.col(point_key), F.col("label"))
