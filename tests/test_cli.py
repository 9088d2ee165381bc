"""CLI entry point (python -m navgraph_osm_spark) — the reference-binary shape."""

from __future__ import annotations

import os

from navgraph_osm_spark.__main__ import main


def test_cli_demo_grid(spark, tmp_path):
    out_csv = str(tmp_path / "graph_csv")
    counts = main(
        [
            "--demo-grid", "5x5",
            "--warehouse", str(tmp_path / "wh"),
            "ignored_placeholder",  # input_dir unused with --demo-grid
            out_csv,
        ],
        spark=spark,
    )
    assert counts["expanded_edges"] > 0
    assert counts["edges_emitted"] > 0
    files = [f for f in os.listdir(out_csv) if f.endswith(".csv")]
    assert files
    header = open(os.path.join(out_csv, files[0])).readline()
    assert header.startswith("weight,geom,was_one_way,osm_way_from")


def test_cli_input_dir_with_raw_relations(spark, tmp_path):
    """Input dir carrying RAW relation tables: the CLI pivots via F3."""
    from navgraph_osm_spark.sources.synth import gen_road_grid

    tables = gen_road_grid(spark, rows=4, cols=4)
    d = str(tmp_path / "in")
    os.makedirs(d, exist_ok=True)
    for name in ("nodes", "ways", "way_nodes", "relation_members", "relation_tags"):
        tables[name].write.mode("overwrite").parquet(os.path.join(d, f"{name}.parquet"))
    counts = main([d, "--warehouse", str(tmp_path / "wh2"), "--res", "10"], spark=spark)
    assert counts["expanded_edges"] > 0
    # resume run: same answer, stages skipped (no error, identical counts)
    counts2 = main([d, "--warehouse", str(tmp_path / "wh2"), "--res", "10"], spark=spark)
    assert counts2["expanded_edges"] == counts["expanded_edges"]


def test_cli_pbf_input(spark, tmp_path):
    """The reference's exact invocation shape: a real .osm.pbf file in,
    reference-shaped CSV out — nodes/ways/relations decoded by sources.pbf,
    restrictions pivoted by F3, full pipeline through the checkpoint runner."""
    import numpy as np

    from navgraph_osm_spark.sources import pbf

    # 3 highway ways through a shared node 999 (each splits there), plus a
    # no_left_turn restriction between ways 2 and 3
    node_ids, lats, lngs = [999], [0.0005], [0.0005]
    ways = []
    for w in range(3):
        refs = []
        for i in range(5):
            if i == 2:
                refs.append(999)
                continue
            nid = w * 10 + i + 1000
            node_ids.append(nid)
            lats.append(round(0.001 * (w + 1), 7))
            lngs.append(round(0.001 * (i + 1), 7))
            refs.append(nid)
        ways.append((w + 1, {"highway": "residential"}, np.array(refs, np.int64)))
    rels = [
        (
            50,
            {"type": "restriction", "restriction": "no_left_turn"},
            [("way", 2, "from"), ("node", 999, "via"), ("way", 3, "to")],
        )
    ]
    p = str(tmp_path / "tiny.osm.pbf")
    pbf.write_osm_pbf(
        p,
        nodes=(np.array(node_ids, np.int64), np.array(lats), np.array(lngs)),
        ways=ways,
        relations=rels,
        block_size=4,
    )
    out_csv = str(tmp_path / "out_csv")
    counts = main(
        [p, out_csv, "--warehouse", str(tmp_path / "whp"), "--res", "10"],
        spark=spark,
    )
    # 3 two-way ways x 2 segments x 2 directions (split at the shared node)
    assert counts["ways_used"] == 3
    assert counts["edges_emitted"] == 12
    assert counts["expanded_edges"] > 0
    files = [f for f in os.listdir(out_csv) if f.endswith(".csv")]
    header = open(os.path.join(out_csv, files[0])).readline()
    assert header.startswith("weight,geom,was_one_way,osm_way_from")


def test_cli_demo_grid_strict(spark, tmp_path):
    """--strict-turns (reference first-match only_*) may only ever REMOVE
    expanded edges — the demo grid's only_* mandate onto a bidirectional
    way loses exactly the non-first matches."""
    base = main(
        ["--demo-grid", "4x4", "--warehouse", str(tmp_path / "whA"), "--res", "10"],
        spark=spark,
    )
    strict = main(
        [
            "--demo-grid", "4x4", "--warehouse", str(tmp_path / "whC"),
            "--res", "10", "--strict-turns",
        ],
        spark=spark,
    )
    assert strict["edges_emitted"] == base["edges_emitted"]
    assert 0 < strict["expanded_edges"] <= base["expanded_edges"]


def test_cli_multi_extract_input(spark, tmp_path):
    """Comma-separated .osm.pbf inputs run the pipeline over the union of
    extracts (one staged decode job)."""
    import numpy as np

    from navgraph_osm_spark.__main__ import main
    from navgraph_osm_spark.sources import pbf

    p1, p2 = str(tmp_path / "r1.osm.pbf"), str(tmp_path / "r2.osm.pbf")
    # two region extracts sharing node 5 (the split point)
    pbf.write_osm_pbf(
        p1,
        nodes=(np.array([1, 2, 5], np.int64),
               np.array([0.0001, 0.0002, 0.0005]),
               np.array([0.0001, 0.0002, 0.0005])),
        ways=[(10, {"highway": "residential"}, np.array([1, 2, 5]))],
    )
    pbf.write_osm_pbf(
        p2,
        nodes=(np.array([6, 7], np.int64),
               np.array([0.0006, 0.0007]),
               np.array([0.0006, 0.0007])),
        ways=[(20, {"highway": "primary"}, np.array([5, 6, 7]))],
    )
    counts = main(
        [f"{p1},{p2}", "--warehouse", str(tmp_path / "wh"), "--res", "10"],
        spark=spark,
    )
    assert counts["ways_used"] == 2
    assert counts["nodes_total"] == 5
    assert counts["edges_emitted"] > 0
