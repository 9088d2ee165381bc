#!/usr/bin/env python3
"""Seeded benchmark of navgraph_osm_spark, one command per workload.

    python3 perfbench/run.py --workload image_tiles|osm_graph|spatial_joins \\
        --seed N --seconds S --trace 0|1

Run from the repository root (or anywhere: the package is found next to
this directory and handed to the Python workers through PYTHONPATH).  The
inputs are generated from ``--seed`` and written to disk before any timing.
The session is then started (JVM launch) and re-created three times,
full-size passes warm it up, and passes are measured for ``--seconds`` (at
least two).  Every pass checks its own output.  The last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics of traced passes with ``--trace 1``.
The line before it is a report with every end-to-end figure and the
host-speed control; the report, passes and spans also go to
``.perfbench_out/<workload>-seed<N>-trace<T>.json``.  See README.md.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
SESSION_RESTARTS = 3  # set-ups timed for setup_s, after the JVM launch
MIN_PASSES = 2
END_TO_END = {"setup_s": "s", "job_s": "s", "rows_per_s": "rows/s", "peak_rss_mb": "MB"}


def _prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside the checkout,
    and give the Python workers the package on their path."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # no hsperfdata files in the system temp dir, for the launcher JVM too
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData") if p
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def _session(work: str, cpus: int):
    from navgraph_osm_spark.session import get_spark

    return get_spark("perfbench", parallelism=cpus, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        # the heap keeps the session's default maximum; a fixed young
        # generation stops G1 from growing it by how the GCs happen to fall,
        # which made peak memory swing by a third between runs of one input
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -Xmn1g",
    })


def _shutdown_jvm() -> None:
    """Stop the gateway JVM and wait for it (and its Python workers) to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    proc.stdin.close()  # the gateway exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def _identity_batches(batches):
    yield from batches


def warm_up(spark, cpus: int) -> None:
    """What every session pays before its first job: the SparkContext is
    up, a Python worker runs on every core and a first codegen'd aggregate
    has run."""
    spark.range(0, 1000, 1, cpus).mapInPandas(_identity_batches, "id long").selectExpr(
        "sum(id)").collect()


def _candidates(pip) -> dict:
    """Cover rows and candidate pairs of a point-in-polygon join: the
    polygons' covering cells and their equi join with the points' cells."""
    from navgraph_osm_spark.operators.spatial_join import assign_cells, covering_cells

    pts, polys, res, poly_id, result_rows = pip
    rings = "ring_offsets" if "ring_offsets" in polys.columns else None
    cover = covering_cells(polys, res, rings=rings).select(poly_id, "cell").persist()
    try:
        cover_rows = cover.count()
        pairs = assign_cells(pts, res).select("cell").join(cover, "cell").count()
    finally:
        cover.unpersist()
    return {
        "operators.spatial_join.cover_rows": cover_rows,
        "operators.spatial_join.candidate_pairs": pairs,
        "operators.spatial_join.precision": result_rows / pairs if pairs else 0.0,
    }


def per_layer_units() -> dict[str, str]:
    from perfbench.trace import LAYERS, SPAN_METRICS

    units = {f"{layer}.{m}": u for layer in LAYERS for m, u in SPAN_METRICS}
    units.update({
        "sources.codec.phash_ok_ratio": "ratio",
        "sources.tables.scan_tasks": "count",
        "operators.spatial_join.cover_rows": "rows",
        "operators.spatial_join.candidate_pairs": "rows",
        "operators.spatial_join.precision": "ratio",
        "sources.pbf.staged_bytes": "B",
        "plans.checkpoint.bytes_written": "B",
        "plans.checkpoint.stages_skipped": "count",
        "plans.checkpoint.resume_s": "s",
        "plans.checkpoint.store_amplification": "B/B",
        "operators.export.csv_bytes": "B",
        "tracing.job_s": "s",
        "tracing.overhead_s": "s",
    })
    return units


class Bench:
    def __init__(self, workload: str, seed: int, seconds: int, trace: bool, work: str):
        from perfbench.wl_image_tiles import ImageTiles
        from perfbench.wl_osm_graph import OsmGraph
        from perfbench.wl_spatial_joins import SpatialJoins

        cls = {w.name: w for w in (ImageTiles, SpatialJoins, OsmGraph)}[workload]
        os.makedirs(os.path.join(work, "input"))
        self.wl = cls(seed, os.path.join(work, "input"))
        self.seed, self.seconds, self.trace, self.work = seed, seconds, trace, work
        self.cpus = len(os.sched_getaffinity(0))
        self.passes: list[dict] = []
        self.spans: list = []
        self.mem = None

    def _pass(self, spark, tr, kind: str) -> dict:
        """Time one pass, then collect its trace, re-run it for resume where
        the workload has one, and remove what it wrote."""
        from perfbench.trace import NullTracer, StatusStore, layer_metrics

        t0 = time.perf_counter()
        try:
            res = self.wl.run_pass(spark, tr)
        except Exception as e:  # a failed pass is counted, not fatal
            traceback.print_exc()
            res = {"errors": [f"raised {type(e).__name__}: {e}"], "fingerprint": None}
        res["seconds"] = time.perf_counter() - t0
        res["kind"] = kind
        res["traced"] = tr.enabled
        if tr.enabled:
            tr.collect_counters(StatusStore(spark))
            res["layers"] = layer_metrics(tr.spans)
            self.spans += tr.spans
            tr.release()
        if kind == "measured" and hasattr(self.wl, "resume") and res["fingerprint"] is not None:
            try:
                res["resume"] = self.wl.resume(spark, NullTracer())
                res["errors"] += res["resume"]["errors"]
            except Exception as e:
                traceback.print_exc()
                res["errors"].append(f"resume raised {type(e).__name__}: {e}")
        if hasattr(self.wl, "cleanup"):
            self.wl.cleanup()
        self.passes.append(res)
        return res

    def run(self) -> dict:
        from bench import _calibrate
        from perfbench.procmon import PeakMemory
        from perfbench.trace import NullTracer, StatusStore, Tracer, layer_metrics

        started = t0 = time.perf_counter()
        self.wl.generate(self.cpus)
        generate_s = time.perf_counter() - t0

        setup_s, session_layers, spark = [], [], None
        try:
            # set-up 0 launches the JVM: a one-off whose time is reported as
            # launch_s; setup_s is the median of the re-created sessions
            for i in range(1 + SESSION_RESTARTS):
                if spark is not None:
                    spark.stop()
                t0 = time.perf_counter()
                spark = _session(self.work, self.cpus)
                if self.mem is None:
                    from pyspark import SparkContext

                    self.mem = PeakMemory(SparkContext._gateway.proc.pid)
                    self.mem.start()
                traced = self.trace and i > 0
                tr = Tracer(spark, f"setup-{i}") if traced else NullTracer()
                with tr.span("session", start=t0):
                    warm_up(spark, self.cpus)
                setup_s.append(time.perf_counter() - t0)
                if traced:
                    tr.collect_counters(StatusStore(spark))
                    session_layers.append(layer_metrics(tr.spans))
                    self.spans += tr.spans
            for _ in range(self.wl.warmup_passes):
                self._pass(spark, NullTracer(), "warmup")
            calib_s = _calibrate(spark)
            deadline = time.perf_counter() + self.seconds
            measured = []
            # traced runs alternate traced and untraced passes
            while len(measured) < MIN_PASSES or time.perf_counter() < deadline:
                traced = self.trace and len(measured) % 2 == 0
                tr = Tracer(spark, f"pass-{len(measured)}") if traced else NullTracer()
                measured.append(self._pass(spark, tr, "measured"))
        finally:
            if self.mem is not None:
                self.mem.stop()
        extra = {}
        if self.trace and "pip" in measured[-1]:
            extra = _candidates(measured[-1]["pip"])
        spark.stop()
        return {
            "run_s": time.perf_counter() - started, "generate_s": generate_s, "setup_s": setup_s, "calib_s": calib_s,
            "peak_rss_mb": self.mem.peak_mb, "measured": measured,
            "session_layers": session_layers, "candidates": extra,
        }


def _median(values, default=0.0):
    values = [v for v in values if v is not None]
    return statistics.median(values) if values else default


def summarize_run(b: Bench, r: dict) -> tuple[dict, dict]:
    """(final result line, report) from a finished run."""
    good = Counter(p["fingerprint"] for p in b.passes if p["fingerprint"] is not None)
    majority = good.most_common(1)[0][0] if good else None
    failed = [p for p in b.passes if p["errors"] or p["fingerprint"] != majority]
    ok = [p for p in r["measured"] if p["fingerprint"] is not None]
    plain = [p for p in ok if not p["traced"]]
    job_s = _median(p["seconds"] for p in plain)
    resumes = [p["resume"] for p in ok if "resume" in p]
    report = {
        "workload": b.wl.name, "seed": b.seed, "trace": int(b.trace), "cpus": b.cpus,
        "input_rows": b.wl.input_rows, "run_s": r["run_s"], "generate_s": r["generate_s"],
        "calib_s": r["calib_s"], "launch_s": r["setup_s"][0],
        "setup_s_samples": r["setup_s"][1:],
        "job_s_samples": [p["seconds"] for p in plain],
        "e2e": {
            "setup_s": {"value": _median(r["setup_s"][1:]), "unit": "s"},
            "job_s": {"value": job_s, "unit": "s", "passes": len(plain)},
            "rows_per_s": {"value": b.wl.input_rows / job_s if job_s else 0.0, "unit": "rows/s"},
            "peak_rss_mb": {"value": r["peak_rss_mb"], "unit": "MB"},
            "failed_share": {"value": len(failed) / len(b.passes), "unit": "ratio"},
        },
        "fingerprint": majority,
        "errors": [e for p in failed for e in (p["errors"] or ["fingerprint differs"])][:10],
    }
    if resumes:  # untraced passes only: tracing changes the written file layout
        report["e2e"]["resume_s"] = {
            "value": _median(p["resume"]["resume_s"] for p in plain if "resume" in p), "unit": "s"}
        report["e2e"]["store_amplification"] = {
            "value": _median(p["store_amplification"] for p in plain), "unit": "B/B"}
    if not b.trace:
        metrics = {k: {"value": report["e2e"][k]["value"], "unit": u}
                   for k, u in END_TO_END.items()}
    else:
        traced = [p for p in ok if p["traced"]]
        layers = {k: _median(p["layers"].get(k) for p in traced) for k in per_layer_units()}
        for k in layers:
            if k.startswith("session."):
                layers[k] = _median(s[k] for s in r["session_layers"])
        layers.update(r["candidates"])

        def med(key):
            return _median(p.get(key, 0) for p in traced)

        traced_s = _median(p["seconds"] for p in traced)
        layers.update({
            "sources.codec.phash_ok_ratio": med("phash_ok_ratio"),
            "sources.tables.scan_tasks": med("scan_tasks"),
            "sources.pbf.staged_bytes": med("staged_bytes"),
            "plans.checkpoint.bytes_written": med("checkpoint_bytes"),
            "plans.checkpoint.store_amplification": med("store_amplification"),
            "operators.export.csv_bytes": med("csv_bytes"),
            "plans.checkpoint.stages_skipped": _median((x["stages_skipped"] for x in resumes), 0),
            "plans.checkpoint.resume_s": _median((x["resume_s"] for x in resumes), 0.0),
            "tracing.job_s": traced_s,
            "tracing.overhead_s": traced_s - job_s,
        })
        metrics = {k: {"value": layers[k], "unit": u} for k, u in per_layer_units().items()}
        report["tracing_overhead_s"] = traced_s - job_s
    final = {"correct": not failed, "attempted": len(b.passes), "failed": len(failed),
             "metrics": metrics}
    return final, report


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["image_tiles", "spatial_joins", "osm_graph"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    from perfbench.procmon import adopt_orphans, stop_children

    adopt_orphans()
    # a SIGTERM unwinds through the finally below, which stops the JVM and
    # every other process the run started
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    try:
        import navgraph_osm_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the package under test: {e}", file=sys.stderr)
        return 2
    work = os.path.join(OUT_DIR, f"work-{os.getpid()}")
    _prepare_env(work)
    try:
        b = Bench(args.workload, args.seed, args.seconds, bool(args.trace), work)
        r = b.run()
        final, report = summarize_run(b, r)
        name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
        with open(os.path.join(OUT_DIR, name), "w") as f:
            json.dump({"report": report, "spans": [dataclasses.asdict(s) for s in b.spans],
                       "passes": [{k: v for k, v in p.items() if k != "pip"} for p in b.passes]},
                      f, indent=1, default=str)
    finally:
        _shutdown_jvm()
        leftover = stop_children()
        if leftover:
            print(f"perfbench: stopped leftover processes {leftover}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"report": report}))
    print(json.dumps(final))
    return 0


if __name__ == "__main__":
    sys.exit(main())
