"""Per-layer metrics of a traced run, and the layer -> end-to-end map.

Every per-layer metric names the package layer it measures and the
end-to-end metrics it should move, on which workloads.  Metrics of a
layer a workload never calls read 0 on that workload.
"""

from __future__ import annotations

import statistics
import time

from . import eventlog

ALL = ("tile_join", "knn_lsh_write")

# metric -> (unit, layer, {end-to-end metric: [workloads it should move]})
LAYER_MAP = {
    "session.build_s": ("s", "plans.session", {"setup_s": ALL}),
    "session.warm_s": ("s", "plans.session", {"setup_s": ALL}),
    "sources.input_s": ("s", "sources", {"rows_per_s": ["tile_join"]}),
    "udfs.python_s": ("s", "functions.udfs",
                      {"rows_per_s": ["tile_join"], "cpu_s": ["tile_join"]}),
    "udfs.bytes_to_python": ("bytes", "functions.udfs", {"rows_per_s": ["tile_join"]}),
    "udfs.bytes_from_python": ("bytes", "functions.udfs", {"rows_per_s": ["tile_join"]}),
    "kernels.cellid.rows_per_s_core": ("rows/s", "kernels.cellid",
                                       {"rows_per_s": ["tile_join"]}),
    "kernels.coverer.cover_s": ("s", "kernels.coverer", {"rows_per_s": ["tile_join"]}),
    "tile.agg_build_s": ("s", "operators.tile",
                         {"iter_s": ["tile_join"]}),
    "spatial_join.call_s": ("s", "operators.spatial_join",
                            {"iter_s": ["tile_join"]}),
    "spatial_join.refine_ratio": ("ratio", "operators.spatial_join",
                                  {"iter_s": ["tile_join"]}),
    "knn.call_s": ("s", "operators.knn", {"iter_s": ["knn_lsh_write"]}),
    "knn.jobs": ("count", "operators.knn", {"iter_s": ["knn_lsh_write"]}),
    "knn.shuffle_bytes": ("bytes", "operators.knn", {"iter_s": ["knn_lsh_write"]}),
    "knn.result_ratio": ("ratio", "operators.knn", {"iter_s": ["knn_lsh_write"]}),
    "lsh.call_s": ("s", "operators.textops",
                   {"iter_s": ["knn_lsh_write"], "cpu_s": ["knn_lsh_write"]}),
    "lsh.candidate_pairs": ("count", "operators.textops",
                            {"iter_s": ["knn_lsh_write"], "cpu_s": ["knn_lsh_write"]}),
    "lsh.verified_ratio": ("ratio", "operators.textops",
                           {"iter_s": ["knn_lsh_write"], "cpu_s": ["knn_lsh_write"]}),
    "lsh.task_skew": ("ratio", "operators.textops",
                      {"iter_s": ["knn_lsh_write"], "cpu_s": ["knn_lsh_write"]}),
    "checkpoint.write_s": ("s", "plans.checkpoint", {"iter_s": ["knn_lsh_write"]}),
    "checkpoint.bytes_written": ("bytes", "plans.checkpoint", {"iter_s": ["knn_lsh_write"]}),
    "checkpoint.write_amp": ("ratio", "plans.checkpoint", {"iter_s": ["knn_lsh_write"]}),
    "checkpoint.resume_s": ("s", "plans.checkpoint", {"iter_s": ["knn_lsh_write"]}),
    "snapshots.pruned_ratio": ("ratio", "sources.snapshots", {"iter_s": ["knn_lsh_write"]}),
    "exec.run_s": ("s", "engine", {"iter_s": ALL}),
    "exec.cpu_s": ("s", "engine", {"cpu_s": ALL}),
    "exec.gc_s": ("s", "engine", {"iter_s": ALL}),
    "shuffle.write_bytes": ("bytes", "engine", {"iter_s": ALL}),
    "shuffle.read_bytes": ("bytes", "engine", {"iter_s": ALL}),
    "shuffle.fetch_wait_s": ("s", "engine", {"iter_s": ALL}),
    "spill.bytes": ("bytes", "engine", {"iter_s": ALL}),
    "scan.time_s": ("s", "engine", {"iter_s": ["knn_lsh_write"]}),
    "driver_only_s": ("s", "engine", {"iter_s": ["knn_lsh_write"]}),
    "jobs": ("count", "engine", {"iter_s": ALL}),
    "stages": ("count", "engine", {"iter_s": ALL}),
    "tasks": ("count", "engine", {"iter_s": ALL}),
    "codegen.cold_minus_warm_s": ("s", "engine", {"first_iter_s": ALL}),
    "trace.overhead_s": ("s", "perfbench.trace", {}),
}


def _med(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _timed(fn, reps: int = 3) -> float:
    out = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        out.append(time.perf_counter() - t0)
    return statistics.median(out)


def input_noop_s(wl) -> float:
    """One ``noop`` pass over the generated inputs (median of 3)."""
    def scan():
        for df in wl.input_frames():
            df.write.format("noop").mode("overwrite").save()

    return _timed(scan)


def kernel_metrics(seed: int) -> dict:
    """Direct calls: the cell-id kernel on a seeded 1M batch (one core)
    and the covering of the seed's 25 caps."""
    from s2geometry_spark.kernels import cellid as C
    from s2geometry_spark.operators import coverings as COV
    from s2geometry_spark.sources import regions_src as R

    from . import gen

    n = 1_000_000
    xyz = gen.points_np(seed, n)
    caps = R.synthetic_caps(gen.region_keys(seed))
    cell_s = _timed(lambda: C.xyz_to_cellid(*xyz))
    return {
        "kernels.cellid.rows_per_s_core": n / cell_s,
        "kernels.coverer.cover_s": _timed(lambda: COV.build_covering_rows(caps)),
    }


def _parts(group: str):
    """(iteration, span id, layer) of a tracer job group."""
    _run, it, sid, layer = group.split("|")
    return int(it), int(sid), layer


def per_layer(wl, tracer, event_dir, traced, *, cores, setups, input_s,
              untraced, cold, stats) -> dict:
    """Every per-layer metric as {name: (value, unit)}, medians over the
    traced warm iterations of the event-log and span figures, and the
    wall-time accounting of the median traced iteration."""
    log = eventlog.parse(eventlog.event_files(event_dir))
    spans = tracer.with_self_times()
    cand = wl.join_candidates()
    per_iter = []
    for r in traced:
        if not r["ok"]:
            continue
        it = r["it"]

        def stages_of(*layers):
            return log.select(lambda g, L=layers: _parts(g)[0] == it
                              and (not L or _parts(g)[2] in L))

        def spans_of(name=None, layers=()):
            return [s for s in spans if s["iteration"] == it
                    and (name is None or s["name"] == name)
                    and (not layers or s["layer"] in layers)
                    and not s["name"].startswith("action:")]

        def jobs_of(*layers):
            return sum(1 for g in log.jobs.values() if g and _parts(g)[0] == it
                       and (not layers or _parts(g)[2] in layers))

        rows = {k: v[0] for k, v in r["fps"].items()}
        every = stages_of()
        eng = eventlog.engine_metrics(log, every, (r["t0"], r["t1"]))
        # operators run partly inside their call (eager decisions, rounds)
        # and partly when a later action forces their plan: join rows are
        # found by the join key the operator uses, wherever they ran
        ring_rows = log.join_rows(every, "jcell#")
        band_rows = log.join_rows(every, "bk#")
        m = {
            **eng,
            "jobs": jobs_of(),
            "tile.agg_build_s": log.sql_sum(stages_of("tile"),
                                            "time in aggregation build") / 1e3,
            "spatial_join.call_s": sum(s["dur_s"] for s in spans_of(layers=("spatial_join",))),
            "spatial_join.refine_ratio": rows.get("pairs", 0) / cand if cand else 0.0,
            "knn.call_s": sum(s["dur_s"] for s in spans_of(layers=("knn",))),
            "knn.jobs": jobs_of("knn"),
            "knn.shuffle_bytes": sum(
                s.metrics.get("shuffle_write_bytes", 0) for s in stages_of("knn")),
            "knn.result_ratio": rows.get("near", 0) / ring_rows if ring_rows else 0.0,
            "lsh.call_s": sum(s["dur_s"] for s in spans_of(layers=("textops", "similarity"))),
            "lsh.candidate_pairs": band_rows,
            "lsh.verified_ratio": rows.get("doc_pairs", 0) / band_rows if band_rows else 0.0,
            "lsh.task_skew": eventlog.task_skew(log.with_join(every, "bk#"), cores)
            if band_rows else 0.0,
            "checkpoint.write_s": sum(
                s["self_s"] for s in spans_of("checkpoint.stage")
                if spans[s["parent"]]["name"] == "pipeline.write"),
            "checkpoint.resume_s": sum(s["dur_s"] for s in spans_of("pipeline.resume")),
        }
        per_iter.append(m)

    units = {k: v[0] for k, v in LAYER_MAP.items()}
    out = {k: _med([m[k] for m in per_iter]) for k in per_iter[0]} if per_iter else {}
    base = _med([r["wall"] for r in untraced if r["ok"]])
    out.update({
        "session.build_s": _med([a for a, _ in setups]),
        "session.warm_s": _med([b for _, b in setups]),
        "sources.input_s": input_s,
        "codegen.cold_minus_warm_s": cold["wall"] - base,
        "trace.overhead_s": _med([r["wall"] for r in traced if r["ok"]]) - base,
        "checkpoint.bytes_written": stats.get("bytes_written", 0),
        "checkpoint.write_amp": stats.get("write_amp", 0.0),
        "snapshots.pruned_ratio": stats.get("pruned_ratio", 0.0),
    })
    out.update(kernel_metrics(wl.seed))
    metrics = {k: (float(out.get(k, 0.0)), units[k]) for k in LAYER_MAP}
    return metrics, accounting(log, tracer, traced)


def accounting(log, tracer, traced) -> dict:
    """Where the median traced iteration's wall time went.  Each
    top-level span (a call into the package or a forcing action) splits
    into the time Spark stages were running inside it and the driver-only
    rest; with the runner's own time outside the spans they add up to
    the iteration's wall time."""
    spans = tracer.with_self_times()
    ok = sorted((r for r in traced if r["ok"]), key=lambda r: r["wall"])
    if not ok:
        return {}
    mid = ok[len(ok) // 2]
    root = next(s for s in spans if s["parent"] is None and s["iteration"] == mid["it"])
    stages = log.select(lambda g: _parts(g)[0] == mid["it"])
    intervals = [(st.submit_ms / 1e3, st.complete_ms / 1e3) for st in stages]
    top = {}
    for s in spans:
        if s["parent"] != root["id"]:
            continue
        inside = [(max(a, s["start"]), min(b, s["end"])) for a, b in intervals]
        busy = eventlog.union_s([(a, b) for a, b in inside if b > a])
        d = top.setdefault(s["name"], {"dur_s": 0.0, "stages_s": 0.0, "driver_only_s": 0.0})
        d["dur_s"] += s["dur_s"]
        d["stages_s"] += busy
        d["driver_only_s"] += s["dur_s"] - busy
    runner = root["dur_s"] - sum(d["dur_s"] for d in top.values())
    return {
        "iteration": mid["it"], "wall_s": root["dur_s"], "top_level": top,
        "runner_s": runner,
        "driver_only_s": sum(d["driver_only_s"] for d in top.values()) + runner,
    }
