"""osm_graph: the reference job — ``.osm.pbf`` → turn-aware edge graph → CSV —
run the way the command-line entry point runs it, then re-run on the
unchanged input so every checkpointed stage is validated and skipped.

The input is a jittered road grid of short ways (some oneway, some filtered
out as footways) with ``restriction`` relations, written by
``sources.pbf.write_osm_pbf``.  The expected construction counts and turn
count are derived from the generated ways in plain Python, independently of
Spark.  This is the only workload that writes: the PBF stage, the
StageRunner tables and the CSV.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

from navgraph_osm_spark.cells import latlng_to_cell
from navgraph_osm_spark.operators.export import REFERENCE_CSV_COLUMNS
from navgraph_osm_spark.operators.relations import RESTRICTION_TYPE_CODES, pivot_restrictions
from navgraph_osm_spark.pipeline import build_pipeline
from navgraph_osm_spark.sources.pbf import load_osm_tables, write_osm_pbf
from navgraph_osm_spark.sources.synth import HIGHWAY_ALLOWED
from perfbench.checks import summarize

GRID = 50  # nodes per side
WAY_LEN = 4  # grid links per way
STEP, JITTER = 10_000, 2_000  # in 1e-7 degrees, the PBF granularity
ORIGIN = (488_000_000, 23_000_000)
RESTRICTION_SHARE = 0.05  # of grid nodes
RES = 12  # the command line's default
LAYER_OF_STAGE = {
    "edges": "operators.graph_build",
    "turns": "operators.turn_expand",
    "export": "operators.export",
    "counts": "operators.graph_build",
}
EXPORT_KEYS = [c for c in REFERENCE_CSV_COLUMNS if c != "weight"]


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _d, files in os.walk(path)
        for f in files
    )


def _csv_rows(path: str) -> int:
    rows = 0
    for f in os.listdir(path):
        if f.endswith(".csv"):
            with open(os.path.join(path, f), "rb") as fh:
                n = sum(1 for _ in fh)
            rows += max(n - 1, 0)  # one header line per part file
    return rows


def expected_graph(node_lat, node_lng, ways, restrictions) -> dict:
    """Construction counts and expanded-edge count the generated input implies
    (reference semantics: split at shared nodes, no U-turns, only_* keeps
    the single mandated to-way, no_* removes (from_way, to_way) pairs)."""
    kept = [(wid, tags.get("oneway") in ("yes", "1"), [int(n) for n in refs])
            for wid, tags, refs in ways if tags.get("highway") in HIGHWAY_ALLOWED]
    used: dict[int, int] = {}
    for _wid, _ow, refs in kept:
        for i, n in enumerate(refs):
            used[n] = used.get(n, 0) + (2 if i in (0, len(refs) - 1) else 1)
    edges = []  # (way, src, tgt)
    for wid, oneway, refs in kept:
        cut = [i for i, n in enumerate(refs) if used[n] > 1]
        for s, t in zip(cut[:-1], cut[1:]):
            edges.append((wid, refs[s], refs[t]))
            if not oneway:
                edges.append((wid, refs[t], refs[s]))
    emitted = {e[0] for e in edges}
    no_rest, only = set(), {}
    for _rid, rtype, frm, via, to in restrictions:
        code = RESTRICTION_TYPE_CODES[rtype]
        if code < 3:
            no_rest.add((frm, to))
        elif to in emitted:
            only.setdefault((frm, via), set()).add(to)
    out_of: dict[int, list] = {}
    for e in edges:
        out_of.setdefault(e[1], []).append(e)
    turns = 0
    for way, src, via in edges:
        mandated = only.get((way, via))
        for b_way, _b_src, b_tgt in out_of.get(via, ()):
            if b_tgt == src:
                continue  # U-turn: every node has its own coordinates
            if mandated is not None and (len(mandated) != 1 or b_way not in mandated):
                continue
            if (way, b_way) not in no_rest:
                turns += 1
    srcs = np.array(sorted({e[1] for e in edges})) - 1  # node ids start at 1
    return {
        "nodes_total": node_lat.size,
        "nodes_kept": len(used),
        "ways_used": len(kept),
        "ways_split": len(emitted),
        "edges_emitted": len(edges),
        "cells_used": int(np.unique(latlng_to_cell(node_lat[srcs], node_lng[srcs], RES)).size),
        "expanded_edges": turns,
    }


class OsmGraph:
    name = "osm_graph"
    warmup_passes = 1

    def __init__(self, seed: int, input_dir: str):
        self.seed = seed
        self.dir = input_dir
        self.pbf = os.path.join(input_dir, "grid.osm.pbf")
        self.input_rows = GRID * GRID
        self._passes = 0

    def generate(self, cpus: int) -> None:
        rng = np.random.default_rng(self.seed)
        r, c = np.divmod(np.arange(GRID * GRID), GRID)
        lat_raw = ORIGIN[0] + r * STEP + rng.integers(-JITTER, JITTER, r.size)
        lng_raw = ORIGIN[1] + c * STEP + rng.integers(-JITTER, JITTER, r.size)
        # the decoder's own arithmetic, so expected cells match bit for bit
        lat = 100 * lat_raw.astype(np.float64) / 1e9
        lng = 100 * lng_raw.astype(np.float64) / 1e9
        node_ids = np.arange(1, GRID * GRID + 1, dtype=np.int64)

        ways, at_node = [], {}
        for horizontal in (True, False):
            for line in range(GRID):
                for start in range(0, GRID - 1, WAY_LEN):
                    pos = np.arange(start, min(start + WAY_LEN, GRID - 1) + 1)
                    refs = (line * GRID + pos if horizontal else pos * GRID + line) + 1
                    highway = rng.choice(["residential", "primary", "tertiary", "footway"],
                                         p=[0.6, 0.15, 0.15, 0.1])
                    tags = {"highway": str(highway)}
                    oneway = rng.choice(["yes", "1", "no", ""], p=[0.15, 0.05, 0.3, 0.5])
                    if oneway:
                        tags["oneway"] = str(oneway)
                    wid = 1_000_000 + len(ways)
                    ways.append((wid, tags, refs))
                    for n in refs:
                        at_node.setdefault(int(n), ([], []))[0 if horizontal else 1].append(wid)
        types = sorted(RESTRICTION_TYPE_CODES)
        restrictions = []
        for via in rng.choice(node_ids, int(RESTRICTION_SHARE * node_ids.size), replace=False):
            h, v = at_node[int(via)]
            if rng.random() < 0.5:  # from a vertical onto a horizontal way
                h, v = v, h
            frm, to = rng.choice(h), rng.choice(v)
            restrictions.append((2_000_000 + len(restrictions), str(rng.choice(types)),
                                 int(frm), int(via), int(to)))
        write_osm_pbf(
            self.pbf,
            nodes=(node_ids, lat, lng),
            ways=ways,
            relations=[
                (rid, {"type": "restriction", "restriction": t},
                 [("way", frm, "from"), ("node", via, "via"), ("way", to, "to")])
                for rid, t, frm, via, to in restrictions
            ],
        )
        self.pbf_bytes = os.path.getsize(self.pbf)
        self.want = expected_graph(lat, lng, ways, restrictions)

    def _load(self, spark, tr, warehouse):
        """The command line's input path: one staged decode, then the
        restriction pivot."""
        with tr.span("sources.pbf"):
            t = load_osm_tables(spark, self.pbf, stage_dir=os.path.join(warehouse, "pbf_stage"))
            # uncached: the pipeline fingerprints its inputs by their files
            t = {k: tr.out(t[k], cache=False) for k in ("nodes", "ways", "way_nodes",
                                                        "relation_members", "relation_tags")}
        with tr.span("operators.relations"):
            restrictions = tr.out(
                pivot_restrictions(t["relation_members"], t["relation_tags"]), cache=False
            )
        return build_pipeline(
            spark, warehouse, t["nodes"], t["ways"], t["way_nodes"], restrictions, res=RES
        )

    def run_pass(self, spark, tr) -> dict:
        self._passes += 1
        self.warehouse = os.path.join(self.dir, f"warehouse-{self._passes}")
        self.csv = os.path.join(self.dir, f"csv-{self._passes}")
        runner = self._load(spark, tr, self.warehouse)
        for st in runner.stages:
            def traced(deps, _fn=st.fn, _layer=LAYER_OF_STAGE[st.name]):
                with tr.span(_layer):
                    return tr.out(_fn(deps))
            st.fn = traced
        with tr.span("plans.checkpoint"):
            out = runner.run(resume=True)
        with tr.span("operators.export"):
            out["export"].select(*REFERENCE_CSV_COLUMNS).write.mode("overwrite").option(
                "header", True
            ).csv(self.csv)

        with tr.span("verify"):
            got = out["counts"].first().asDict()
            got["expanded_edges"] = out["turns"].count()
            exp_s = summarize(out["export"], EXPORT_KEYS)
            csv_rows = _csv_rows(self.csv)
        errors = [f"{k}: {got.get(k)}, want {v}" for k, v in self.want.items() if got.get(k) != v]
        if exp_s["rows"] != got["expanded_edges"] or csv_rows != exp_s["rows"]:
            errors.append(f"export {exp_s['rows']} rows, csv {csv_rows}, "
                          f"expanded edges {got['expanded_edges']}")
        staged = _dir_bytes(os.path.join(self.warehouse, "pbf_stage"))
        return {
            "errors": errors,
            "fingerprint": f"{sorted(got.items())}|{exp_s['fingerprint']}",
            "staged_bytes": staged,
            "checkpoint_bytes": _dir_bytes(self.warehouse) - staged,
            "csv_bytes": _dir_bytes(self.csv),
            "store_amplification": _dir_bytes(self.warehouse) / self.pbf_bytes,
        }

    def resume(self, spark, tr) -> dict:
        """Re-run the last pass's job on its warehouse; every stage must be
        validated and skipped."""
        t0 = time.perf_counter()
        runner = self._load(spark, tr, self.warehouse)
        runner.run(resume=True)
        seconds = time.perf_counter() - t0
        ran = runner.last_run_report["stages_run"]
        return {
            "resume_s": seconds,
            "stages_skipped": len(runner.stages) - len(ran),
            "errors": [f"resume re-ran stages {ran}"] if ran else [],
        }

    def cleanup(self) -> None:
        shutil.rmtree(self.warehouse, ignore_errors=True)
        shutil.rmtree(self.csv, ignore_errors=True)
