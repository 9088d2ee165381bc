#!/usr/bin/env python3
"""Capture query plans of the headline queries for before/after comparison.

Usage::

    python scripts/capture_plans.py [--baseline DIR] [--out-dir DIR] [<suffix>] [query ...]
    python scripts/capture_plans.py [--baseline DIR] all

Writes ``<out-dir>/<query>_<suffix>.txt`` (default: a new temporary
directory, printed; pass ``--out-dir plans/r06`` to refresh the tracked
captures) for each named query (default: the bench headline set; ``all`` =
every registered query, also as the only argument).  The default mode
writes ``.explain("formatted")``.

``--baseline DIR`` checks that a refactor left the plans identical.  It
builds every query from the checkout at ``DIR`` (e.g. ``git archive`` of the
parent commit) and then from this checkout, in the SAME JVM, and writes the
output schema plus the tree string of ``optimizedPlan().canonicalized()``
for both (``<query>_baseline.txt`` next to ``<query>_<suffix>.txt``).
Canonicalization normalises expression ids, lambda variable and alias
names; the operand order of commutative operators follows expression hash
codes, which embed a per-JVM random id — hence one JVM for both sides.
Prints ``identical`` or ``DIFFERENT`` per query (exit status 1 on any
difference).

Plans only — no jobs are executed beyond what query construction itself
triggers (bounded probes, checkpoints, tiny fixture writes).  Parallelism is
``SPARK_GRAFT_CPUS`` (default: the machine's core count).
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "sp_pip_join", "sp_tile_assignment", "sp_knn_adaptive",
    "sp_cell_histogram", "gb_edges", "gb_turns", "dedup_minhash_lsh",
    "dedup_ngram_jaccard", "dedup_clusters", "sim_cosine_topk",
    "q1_pricing_summary", "ev_sessionize", "sp_distance_join",
    "sp_overlay_join",
]


def _import_queries(root: str):
    """``navgraph_osm_spark.queries`` imported from checkout ``root``
    (dropping any copy of the package imported from another checkout)."""
    for mod in [m for m in sys.modules if m.split(".")[0] == "navgraph_osm_spark"]:
        del sys.modules[mod]
    sys.path.insert(0, root)
    try:
        import navgraph_osm_spark.queries as Q
    finally:
        sys.path.remove(root)
    return Q


def canonical_plan(df) -> str:
    """Schema + canonicalized optimized plan of ``df``."""
    plan = df._jdf.queryExecution().optimizedPlan().canonicalized()
    return f"schema: {df.schema.simpleString()}\n{plan.toString()}"


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--baseline", metavar="DIR",
                    help="compare canonical plans against the checkout in DIR")
    ap.add_argument("--out-dir")
    ap.add_argument("suffix", nargs="?", default="before")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    if args.suffix == "all" and not args.names:
        args.suffix, args.names = ap.get_default("suffix"), ["all"]
    out_dir = args.out_dir or tempfile.mkdtemp(prefix="capture_plans_")
    print(f"plans in {out_dir}")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)

    Q = _import_queries(os.path.abspath(args.baseline) if args.baseline else REPO)
    from navgraph_osm_spark.session import get_spark

    # full expression strings: the default truncates wide nodes, which
    # would hide a difference from the canonical comparison
    spark = get_spark(
        "plans", parallelism=cpus,
        extra_conf={"spark.sql.debug.maxToStringFields": "1000000"},
    )
    qs = Q.queries()
    names = sorted(qs) if args.names == ["all"] else (args.names or HEADLINE)
    baseline = {}
    if args.baseline:
        baseline = {n: canonical_plan(qs[n](spark, sf_dir)) for n in names if n in qs}
        qs = _import_queries(REPO).queries()
    os.makedirs(out_dir, exist_ok=True)
    differ = []
    for name in names:
        df = qs[name](spark, sf_dir)
        if args.baseline:
            plan = canonical_plan(df)
        else:
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        path = os.path.join(out_dir, f"{name}_{args.suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        if not args.baseline:
            print(f"wrote {path} ({plan.count('Exchange')} Exchange)")
            continue
        with open(os.path.join(out_dir, f"{name}_baseline.txt"), "w") as f:
            f.write(baseline.get(name, "(query absent from the baseline)\n"))
        same = baseline.get(name) == plan
        print(f"{name}: {'identical' if same else 'DIFFERENT'}")
        if not same:
            differ.append(name)
    spark.stop()
    if differ:
        sys.exit(1)


if __name__ == "__main__":
    main()
