"""Benchmark runner: one workload, one seed, one process.

    python3 perfbench/run.py --workload tile_join --seed 1 --seconds 4 --trace 0

The workload runs in the first session of a fresh JVM: one cold
iteration, checked against the independent oracle, then warm
iterations for ``--seconds``, each checked against the expected
fingerprints.  Two more sessions are then built and stopped to time
set-up again (``setup_s`` is the median of the three).  Untraced
(``--trace 0``) prints the end-to-end metrics.  Traced (``--trace 1``)
turns on Spark's event log, runs every other warm iteration inside
spans that tag its Spark jobs, and prints the per-layer metrics.  The last
stdout line is the result JSON; the line before it gives sample counts
and the tail percentile.  ``--pin`` records the checked fingerprints
of the default seed in ``pins.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEFAULT_SEED = 1
SETUPS = 3
PINS = os.path.join(HERE, "pins.json")


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0  # no good sample: the run reports failures


def tail(xs) -> dict:
    """Highest percentile with at least 10 samples beyond it."""
    xs = sorted(xs)
    n = len(xs)
    if n < 11:
        return {"p": 100.0, "value": xs[-1] if xs else None, "n": n, "note": "n<11: max"}
    return {"p": round(100.0 * (n - 10) / n, 1), "value": xs[n - 11], "n": n}


def _env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # no hsperfdata files under /tmp, from the launcher JVM or the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tempfile.tempdir = tmp


class Bench:
    def __init__(self, args, work: str):
        from perfbench import procstat
        from perfbench.trace import Tracer

        self.args, self.work = args, work
        self.cores = len(os.sched_getaffinity(0))  # what nproc prints
        self.peak = procstat.PeakRss()
        self.tracer = Tracer()
        self.spark = None

    # -- session --------------------------------------------------------

    def build(self, event_dir: str | None = None) -> tuple[float, float]:
        """(build_session seconds, first-pUDF warm-up seconds)."""
        from s2geometry_spark.operators import tile as T
        from s2geometry_spark.plans.session import build_session

        from perfbench import gen

        if self.spark is not None:
            self.spark.stop()
        conf = {
            "spark.driver.extraJavaOptions":
                "-Djava.net.preferIPv4Stack=true -XX:-UsePerfData "
                f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        if event_dir:
            os.makedirs(event_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_dir,
                "spark.eventLog.compress": "false",
            })
        t0 = time.perf_counter()
        self.spark = build_session(app_name="perfbench", cores=self.cores, extra_conf=conf)
        t1 = time.perf_counter()
        warm = T.assign_cellids(gen.points(self.spark, 0, 4096, partitions=self.cores))
        warm.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        self.peak.sample()
        return t1 - t0, t2 - t1

    def shutdown(self) -> None:
        """Stop Spark, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)

    # -- iterations -----------------------------------------------------

    def iterate(self, wl, it: int, expect: dict | None) -> dict:
        """Run and force one iteration; returns wall, cpu and fingerprints.
        ``expect`` maps output name -> (full, slice) fingerprints."""
        from perfbench import procstat
        from perfbench.workloads import fingerprint

        tr = self.tracer
        tr.iteration = it
        c0 = procstat.tree_cpu_s()
        t0 = time.time()
        fps, outs, ok, err = {}, [], True, None
        try:
            with tr.span("iteration", "bench"):
                outs = wl.iteration(tr, it)
                for out in outs:
                    with tr.span(f"action:{out.name}", out.layer):
                        fps[out.name] = fingerprint(out.df, out.slice_pred)
        except Exception:  # a failed operation is counted, the run goes on
            ok, err = False, traceback.format_exc(limit=3)
        t1 = time.time()
        c1 = procstat.tree_cpu_s()
        self.peak.sample()
        if ok and expect is not None:
            for name, (full, sl) in expect.items():
                got = fps.get(name)
                if got is None or (full is not None and got[:3] != full) or got[3:] != sl:
                    ok, err = False, f"fingerprint mismatch on {name}: {got} vs {(full, sl)}"
        if err:
            print(f"[perfbench] iteration {it} failed: {err}", file=sys.stderr)
        return {"wall": t1 - t0, "cpu": c1 - c0, "fps": fps, "ok": ok,
                "t0": t0, "t1": t1, "it": it, "outs": outs}

    def expected(self, wl, cold: dict) -> tuple[dict, bool]:
        """Expected fingerprints from the oracle (slice part) and from
        the pins (default seed) or the checked cold iteration (full)."""
        from perfbench.workloads import oracle_fingerprint

        outs = {o.name: o for o in cold["outs"]}
        oracle = wl.oracle()
        pins = {}
        if os.path.exists(PINS):
            with open(PINS) as fh:
                pins = json.load(fh).get(wl.name, {})
        use_pins = self.args.seed == DEFAULT_SEED and pins and not self.args.pin
        expect, agree = {}, True
        for name, out in outs.items():
            sl = out.df if out.slice_pred is None else out.df.where(out.slice_pred)
            want_slice = oracle_fingerprint(self.spark, oracle[name], sl)
            full = tuple(pins[name]) if use_pins else None
            got = cold["fps"].get(name)
            if got is None or got[3:] != want_slice or (full and got[:3] != full):
                agree = False
                print(f"[perfbench] {wl.name}/{name}: output {got} does not match "
                      f"oracle slice {want_slice} / pin {full}", file=sys.stderr)
            expect[name] = (full if full else (got[:3] if got else None), want_slice)
        return expect, agree

    def warm_loop(self, wl, expect, seconds: float, first_it: int,
                  tracer=None) -> list[dict]:
        """Warm iterations for ``seconds``, at least ``wl.min_warm``.  With
        ``tracer``, odd iterations run traced and even ones untraced."""
        from perfbench.trace import Tracer

        runs, it = [], first_it
        off = Tracer()
        deadline = time.perf_counter() + seconds
        while time.perf_counter() < deadline or len(runs) < wl.min_warm:
            self.tracer = tracer if tracer is not None and it % 2 else off
            r = self.iterate(wl, it, expect)
            r.pop("outs")  # let Spark clean up this iteration's checkpoints
            r["traced"] = self.tracer is tracer
            runs.append(r)
            it += 1
        return runs

    def run(self, wl_cls) -> dict:
        """Session 1 (cold JVM) runs the workload; SETUPS-1 more sessions
        are then built and stopped only to time set-up again."""
        from perfbench import layers
        from perfbench.trace import Tracer

        traced = bool(self.args.trace)
        event_dir = os.path.join(self.work, "events") if traced else None
        phases = {}
        setups = [self.build(event_dir)]
        tracer = None
        if traced:
            tracer = Tracer(self.spark.sparkContext, f"pb-{os.getpid()}", enabled=True)
            self.tracer = tracer
        t = time.perf_counter()
        wl = wl_cls(self.spark, self.args.seed, os.path.join(self.work, "data"))
        phases["inputs_s"] = time.perf_counter() - t
        cold = self.iterate(wl, 0, None)
        t = time.perf_counter()
        expect, agree = self.expected(wl, cold)
        phases["oracle_s"] = time.perf_counter() - t
        cold.pop("outs")
        cold["ok"] = cold["ok"] and agree
        warm = self.warm_loop(wl, expect, self.args.seconds, 1, tracer)
        runs = [cold] + warm
        if self.args.pin and all(r["ok"] for r in runs):
            self.write_pins(wl.name, cold["fps"])
        input_s = layers.input_noop_s(wl) if traced else 0.0
        stats = dict(wl.layer_stats)
        self.spark.stop()
        self.spark = None
        t = time.perf_counter()
        setups += [self.build() for _ in range(SETUPS - 1)]
        phases["resetup_s"] = time.perf_counter() - t
        detail = {
            "workload": wl.name, "seed": self.args.seed, "cores": self.cores,
            "input_rows": wl.input_rows, "input_sizes": wl.size,
            "setups_s": [[round(a, 4), round(b, 4)] for a, b in setups],
            "rows_out": {k: v[0] for k, v in cold["fps"].items()},
            "phases_s": {k: round(v, 3) for k, v in phases.items()},
        }
        good = [r for r in warm if r["ok"] and not r["traced"]]
        walls = [r["wall"] for r in good]
        if traced:
            on = [r for r in warm if r["traced"]]
            metrics, acct = layers.per_layer(
                wl, tracer, event_dir, on, cores=self.cores,
                setups=setups, input_s=input_s, untraced=good, cold=cold, stats=stats,
            )
            spans_path = os.path.join(
                ROOT, ".perfbench_out", f"{wl.name}-seed{self.args.seed}-spans.json")
            os.makedirs(os.path.dirname(spans_path), exist_ok=True)
            tracer.write(spans_path)
            detail.update({
                "samples": {"untraced_iter": len(good), "traced_iter": len(on)},
                "accounting": acct,
                "spans": os.path.relpath(spans_path, ROOT),
            })
        else:
            metrics = {
                "setup_s": (_median([a + b for a, b in setups]), "s"),
                "iter_s": (_median(walls), "s"),
                "rows_per_s": (_median([wl.input_rows / w for w in walls]), "rows/s"),
                "cpu_s": (_median([r["cpu"] for r in good]), "CPU-s"),
            }
            detail.update({
                "samples": {"setup_s": len(setups), "iter_s": len(walls),
                            "rows_per_s": len(walls), "cpu_s": len(good)},
                "iter_s_tail": tail(walls),
                # reported, not gated: one sample per run, spread too wide
                "first_iter_s": cold["wall"],
                "peak_rss_mb": self.peak.session_mb,
                "peak_rss_mb_by_process": {k: round(v, 1) for k, v in self.peak.parts.items()},
            })
        return self.result(runs, agree, metrics, detail)

    def result(self, runs, agree, metrics, detail) -> dict:
        failed = sum(1 for r in runs if not r["ok"])
        return {
            "detail": detail,
            "final": {
                "correct": bool(agree and failed == 0),
                "attempted": len(runs),
                "failed": failed,
                "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
            },
        }

    def write_pins(self, name: str, fps: dict) -> None:
        pins = {}
        if os.path.exists(PINS):
            with open(PINS) as fh:
                pins = json.load(fh)
        pins[name] = {k: list(v[:3]) for k, v in sorted(fps.items())}
        with open(PINS, "w") as fh:
            json.dump(pins, fh, indent=1, sort_keys=True)
            fh.write("\n")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", action="store_true",
                    help="record the default seed's checked fingerprints")
    args = ap.parse_args(argv)

    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    try:
        import s2geometry_spark  # noqa: F401  the package under test
        from perfbench.workloads import WORKLOADS
    except ImportError as e:
        print(f"perfbench: cannot import the package under test: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    _env(work)
    bench = Bench(args, work)
    try:
        res = bench.run(WORKLOADS[args.workload])
    finally:
        bench.shutdown()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run is using it
        except OSError:
            pass
    print(json.dumps(res["detail"]))
    print(json.dumps(res["final"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
