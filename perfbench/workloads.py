"""The benchmark workloads: seeded inputs, one iteration, oracle.

A workload builds its inputs once per session (untimed), then each
iteration calls the package's public functions inside tracer spans and
returns its outputs as ``Output`` rows.  The runner forces every
output with one fingerprint aggregate; ``oracle`` gives the expected
rows of each output (or of its slice) from an independent
implementation: the DuckDB oracles of the package, or numpy kernels
where no SQL oracle exists.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import gen

# Input sizes for 4 cores; every workload states its input row count.
SIZES = {
    "tile_join": {"points": 250_000},
    "knn_lsh_write": {"queries": 2_000, "index": 500,
                      "docs": 300, "mutants": 30, "hot_docs": 80},
}
TILE_LEVEL = 8
KNN_K = 3
DOC_SLICE = 8  # the near-dup oracle checks pairs with id_a mod DOC_SLICE == 0


@dataclass
class Output:
    name: str
    layer: str
    df: DataFrame
    slice_pred: Column | None = None  # rows the oracle checks; None = all


def fingerprint(df: DataFrame, slice_pred: Column | None = None) -> tuple:
    """(rows, sum lo32, sum hi32) of ``xxhash64`` over all columns —
    order-independent and bitwise on doubles — for all rows, then the
    same three for the rows matching ``slice_pred``."""
    h = F.xxhash64(*[F.col(c) for c in df.columns])
    lo, hi = h.bitwiseAND(F.lit(0xFFFFFFFF)), F.shiftright(h, 32)
    pred = F.lit(True) if slice_pred is None else slice_pred
    row = df.agg(
        F.count(F.lit(1)), F.sum(lo), F.sum(hi),
        F.count(F.when(pred, 1)), F.sum(F.when(pred, lo)), F.sum(F.when(pred, hi)),
    ).collect()[0]
    return tuple(int(v or 0) for v in row)


def oracle_fingerprint(spark, pdf: pd.DataFrame, like: DataFrame) -> tuple:
    """Fingerprint of oracle rows cast to the schema of output ``like``."""
    cols = like.columns
    sdf = spark.createDataFrame(pdf[cols], schema=like.schema)
    return fingerprint(sdf)[:3]


def _duck():
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 4")
    return con


class Workload:
    name = ""  # the workload's name in BENCHMARK.json
    # warm iterations every run makes, however short --seconds is: enough
    # for a steady median within the per-run time the benchmark can afford
    min_warm = 2

    def __init__(self, spark, seed: int, work_dir: str):
        self.spark, self.seed, self.work = spark, int(seed), work_dir
        self.size = SIZES[self.name]

    input_rows = 0
    layer_stats: dict = {}  # per-iteration figures a traced run reports

    def input_frames(self) -> list[DataFrame]:
        """The generated input tables, for the ``sources.input_s`` noop."""
        raise NotImplementedError

    def iteration(self, tr, it: int) -> list[Output]:
        raise NotImplementedError

    def oracle(self) -> dict:
        """Output name -> pandas rows of the output (its slice, if any)."""
        raise NotImplementedError

    def join_candidates(self) -> int:
        """Covering-join candidate rows (point leaf inside a covering
        cell of a cap) of the workload's cap join; 0 if it has none."""
        return 0


def covering_candidates(leaves: np.ndarray, caps) -> int:
    """Number of (leaf, covering cell) pairs with the leaf inside the
    cell, over the caps' coverings — what the covering join refines."""
    from s2geometry_spark.kernels import cellid as C
    from s2geometry_spark.operators import coverings as COV

    cov = C.as_u64(COV.build_covering_rows(caps)["cell_id"].to_numpy())
    leaves = np.sort(C.as_u64(leaves))
    lo = np.searchsorted(leaves, C.range_min(cov), side="left")
    hi = np.searchsorted(leaves, C.range_max(cov), side="right")
    return int((hi - lo).sum())


# ----------------------------------------------------------------------


class TileJoin(Workload):
    name = "tile_join"
    min_warm = 3  # iterations take about 4 s

    def __init__(self, spark, seed, work_dir):
        super().__init__(spark, seed, work_dir)
        from s2geometry_spark.sources import regions_src as R

        self.n = self.size["points"]
        self.input_rows = self.n
        self.points = gen.points(spark, self.seed, self.n, partitions=16)
        self.caps = R.synthetic_caps(gen.region_keys(self.seed))

    def input_frames(self):
        return [self.points]

    def iteration(self, tr, it):
        from s2geometry_spark.operators import spatial_join as SJ
        from s2geometry_spark.operators import tile as T

        with tr.span("tile.assign_cellids", "tile"):
            cells = T.assign_cellids(self.points)
        with tr.span("tile.tile_counts", "tile"):
            tiles = T.tile_counts(cells, TILE_LEVEL)
        with tr.span("spatial_join.point_in_cap_join", "spatial_join"):
            pairs = SJ.point_in_cap_join(self.spark, cells, self.caps)
        return [Output("tiles", "tile", tiles), Output("pairs", "spatial_join", pairs)]

    def join_candidates(self):
        from s2geometry_spark.kernels import cellid as C

        return covering_candidates(C.xyz_to_cellid(*gen.points_np(self.seed, self.n)), self.caps)

    def oracle(self):
        from s2geometry_spark.functions import duckdb_oracle as O
        from s2geometry_spark.sources import points as P
        from s2geometry_spark.sources import regions_src as R

        keys = gen.point_keys_sql(self.seed, self.n)
        rk = gen.region_keys(self.seed)
        regions = f"(SELECT range AS k FROM range({rk.start}, {rk.stop}))"
        pts = P.xyz_sql_cte(keys, "k")
        con = _duck()
        cells = con.execute(O.cellid_query(keys, "k", pts)).df()
        con.register("cells_t", cells)
        tiles = con.execute(
            f"SELECT {O.parent_sql('cell_id', TILE_LEVEL)} AS tile_id, "
            "count(*) AS n FROM cells_t GROUP BY 1"
        ).df()
        chord = ("least((p.ux-c.cx)*(p.ux-c.cx) + (p.uy-c.cy)*(p.uy-c.cy) + "
                 "(p.uz-c.cz)*(p.uz-c.cz), 4.0)")
        pairs = con.execute(
            f"WITH {pts}, upts AS (SELECT key, x/r AS ux, y/r AS uy, z/r AS uz "
            "FROM (SELECT key, x, y, z, sqrt(x*x + y*y + z*z) AS r FROM pts)), "
            + R.caps_sql_cte(regions, "k")
            + f" SELECT p.key AS key, c.region_id AS region_id "
            f"FROM upts p CROSS JOIN ucaps c WHERE {chord} <= c.r2"
        ).df()
        con.close()
        return {"tiles": tiles, "pairs": pairs}

# ----------------------------------------------------------------------


class KnnLshWrite(Workload):
    name = "knn_lsh_write"
    min_warm = 2  # iterations take about 10 s

    SNAP_FILES = 8

    def __init__(self, spark, seed, work_dir):
        super().__init__(spark, seed, work_dir)
        from s2geometry_spark.operators import tile as T

        s = self.size
        self.nq, self.ni = s["queries"], s["index"]
        # generated tables land as parquet files, read back as the inputs
        tables = {
            "queries": T.assign_cellids(gen.points(spark, self.seed, self.nq, 4)),
            "index": T.assign_cellids(
                gen.points(spark, self.seed, self.ni, 2, salt=gen.KEY_STRIDE // 2)),
        }
        for name, df in tables.items():
            df.write.parquet(os.path.join(work_dir, name))
        self.docs_pdf = gen.documents(self.seed, s["docs"], s["mutants"], s["hot_docs"])
        gen.write_parquet(self.docs_pdf, os.path.join(work_dir, "documents"), 4)
        self.q, self.idx, self.docs = (
            spark.read.parquet(os.path.join(work_dir, n))
            for n in ("queries", "index", "documents"))
        self.input_rows = self.nq + len(self.docs_pdf)
        self.input_bytes = _dir_bytes(work_dir)

    def input_frames(self):
        return [self.q, self.idx, self.docs]

    def _stages(self, tr, root: str):
        from s2geometry_spark.operators import knn as KNN
        from s2geometry_spark.operators import textops as TX
        from s2geometry_spark.plans.checkpoint import CheckpointedPipeline

        spark, ni = self.spark, self.ni

        def near(q, idx):
            with tr.span("knn.knn_join", "knn"):
                return KNN.knn_join(spark, q, idx, KNN_K, index_count=ni)

        def pairs(docs):
            with tr.span("textops.near_dup_pairs", "textops"):
                return TX.near_dup_pairs(docs)

        pipe = CheckpointedPipeline(spark, root)
        version = f"seed{self.seed}"
        q = pipe.source("queries", self.q, version)
        idx = pipe.source("index", self.idx, version)
        docs = pipe.source("documents", self.docs, version)
        out = {}
        for name, fn, inputs in (("near", near, (q, idx)), ("doc_pairs", pairs, (docs,))):
            with tr.span("checkpoint.stage", "checkpoint"):
                out[name] = pipe.stage(name, fn, inputs=inputs, params={"k": KNN_K})
        return out

    def iteration(self, tr, it):
        from s2geometry_spark.sources import snapshots as SNAP

        root = os.path.join(self.work, f"pipe-{it}")
        shutil.rmtree(root, ignore_errors=True)
        ckpt = os.path.join(root, "ckpt")
        with tr.span("pipeline.write", "checkpoint"):
            first = self._stages(tr, ckpt)
        with tr.span("pipeline.resume", "checkpoint"):
            again = self._stages(tr, ckpt)
        table = os.path.join(root, "snap")
        slim = first["near"].df.repartitionByRange(self.SNAP_FILES, "key")
        with tr.span("snapshots.write_snapshot", "snapshots"):
            SNAP.write_snapshot(slim, table, stats_col="key", sort_col="key")
        lo, hi = self.key_range()
        with tr.span("snapshots.scan_stats_range", "snapshots"):
            scan = SNAP.scan_stats_range(self.spark, table, lo, hi)
        kept, total = SNAP.pruned_file_count(table, lo, hi)
        written = _dir_bytes(ckpt)
        self.layer_stats = {
            "resumed": all(s.resumed for s in again.values()),
            "bytes_written": written,
            "write_amp": written / self.input_bytes,
            "pruned_ratio": (total - kept) / total,
        }
        if not self.layer_stats["resumed"]:
            raise RuntimeError("second pipeline pass did not resume every stage")
        doc_slice = F.pmod(F.col("id_a"), F.lit(DOC_SLICE)) == 0
        outs = [Output(n, "checkpoint", st.df, doc_slice if n == "doc_pairs" else None)
                for n, st in first.items()]
        outs += [Output(n + "_resumed", "checkpoint", st.df,
                        doc_slice if n == "doc_pairs" else None)
                 for n, st in again.items()]
        return outs + [Output("range_scan", "snapshots", scan)]

    def key_range(self) -> tuple[int, int]:
        """The first quarter of the query keys."""
        lo = gen.key_offset(self.seed)
        return lo, lo + self.nq // 4 - 1

    def oracle(self):
        from s2geometry_spark.operators import knn as KNN
        from s2geometry_spark.operators import textops as TX
        from s2geometry_spark.sources import points as P

        qk = gen.point_keys_sql(self.seed, self.nq)
        ik = gen.point_keys_sql(self.seed, self.ni, salt=gen.KEY_STRIDE // 2)
        ipts = P.xyz_sql_cte(ik, "k", name="ipts")
        con = _duck()
        near = con.execute(KNN.knn_oracle_sql(P.xyz_sql_cte(qk, "k", name="qpts"),
                                              ipts, KNN_K)).df()
        con.register("documents", self.docs_pdf)
        # the slice predicate pushes into the candidate self-join
        pairs = con.execute(
            f"SELECT * FROM ({TX.near_dup_pairs_sql()}) "
            f"WHERE ((id_a % {DOC_SLICE}) + {DOC_SLICE}) % {DOC_SLICE} = 0").df()
        con.close()
        lo, hi = self.key_range()
        scan = near[(near["key"] >= lo) & (near["key"] <= hi)]
        return {"near": near, "doc_pairs": pairs, "near_resumed": near,
                "doc_pairs_resumed": pairs, "range_scan": scan}


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _s, files in os.walk(path) for f in files
    )


WORKLOADS = {w.name: w for w in (TileJoin, KnnLshWrite)}
