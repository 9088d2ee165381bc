"""Turn expansion: edges → expanded edges (permitted turns), restriction-aware.

Re-expresses the reference's EP3 macro-phase (reference main.cpp:918-1299).
The reference runs three hand-rolled per-pixel hash joins — interior×interior
(J4, main.cpp:964-987), border×interior both directions (J5,
main.cpp:1020-1081), border×border across pixels (J6, main.cpp:1141-1285) —
plus restriction logic (J7-J9) and a U-turn filter (F6, invert.hpp:94-99).

Here all of J4-J6 collapse into ONE equi join keyed by the **via node's
cell + node id**: the turn a→b exists at the node where a ends and b starts;
keying a by (tgt_cell, tgt_node) and b by (src_cell, src_node) finds every
adjacent pair exactly once — interior, cross-border, or border-border — with
no row duplication at all (strictly less data motion than the reference's
dual-pixel border replication, main.cpp:621-708).

Restriction tables are tiny relative to edges (reference buffer constants:
235,930 restrictions vs 57.6M way-nodes, disk/utils.hpp:17-19) → broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# restriction type codes (reference worker.hpp:287-302): 0-2 = no_*, 3-5 = only_*
NO_TYPES = (0, 1, 2)
ONLY_TYPES = (3, 4, 5)


def split_restrictions(restrictions: DataFrame, edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """F4 validity filter + J7 semi join + the reference's two keyed maps.

    Returns (no_rest keyed (from_way, to_way) — reference processing.cpp:6-18,
    only_agg keyed (from_way, via_node) with the conflict pre-agg for the
    all-equal-`to` rule — reference invert.hpp:32-48, main.cpp:829-903).
    """
    valid = restrictions.filter(F.col("type") >= 0)
    no_rest = (
        valid.filter(F.col("type").isin(*NO_TYPES))
        .select("from_way", "to_way")
        .distinct()
    )
    emitted_ways = edges.select(F.col("way_id")).distinct()
    only_rest = (
        valid.filter(F.col("type").isin(*ONLY_TYPES))
        .join(emitted_ways, valid["to_way"] == emitted_ways["way_id"], "left_semi")
    )  # J7: drop only_* whose to-way produced no edges (main.cpp:846-864)
    only_agg = only_rest.groupBy("from_way", "via_node").agg(
        F.countDistinct("to_way").alias("n_to"),
        F.min("to_way").alias("only_to_way"),
    )
    return no_rest, only_agg


def expand_turns(
    edges: DataFrame,
    restrictions: DataFrame,
    strict_only: bool = False,
) -> DataFrame:
    """J4-J9 + F6 → expanded-edge DataFrame.

    Output: exp_edge_id, src_edge_id, tgt_edge_id, from_way, to_way,
    via_node, via_cell, cost = (src.cost + tgt.cost) / 2
    (reference invert.hpp:108-113).

    ``strict_only=True`` switches the only_* handling to the reference's
    FIRST-MATCH semantics (invert.hpp:51-56): per source edge, at most one
    expanded edge onto the mandated to-way — the reference takes the first
    outgoing edge in its file order; here the deterministic stand-in is the
    minimum tgt_edge_id (file order does not exist distributed).  As in the
    reference, the U-turn and no_* checks then apply to that single selected
    candidate with NO fallback to the next edge.  Default (False) keeps
    set semantics: every edge of the mandated to-way (see the divergence
    note below) — the north_rule's count/set equivalence accepts either.

    The self-join reads ``edges`` twice, so an uncached edge-build plan
    runs twice; the pipeline feeds a checkpointed edges table instead
    (a persist barrier measured slower than the pruned double compute,
    sf0.1: 12.6s vs 7.7s) — the Spark analogue of the reference writing
    edge files before EP3 (reference main.cpp:587-708 → 918).  Only the
    join-relevant columns are selected up front.
    """
    slim_cols = [
        "edge_id", "way_id", "cost", "src_node", "tgt_node",
        "src_cell", "tgt_cell", "src_lat", "src_lng", "tgt_lat", "tgt_lng",
    ]
    edges = edges.select(*slim_cols)
    a, b = turn_sides(edges)
    # deliberate SHUFFLE_HASH for the shuffled self-join (guide §3.1): the
    # per-partition build side is bounded by the shuffle, and sort-merge
    # paid two full sorts of the edge relation for an output nobody
    # consumes sorted.  Bucketed side tables (bench.py --turns) are joined
    # unhinted — there the bucket-sorted scans make the exchange-free
    # sort-merge the right plan and a hash hint would reintroduce work.
    return _expand_from_sides(a, b.hint("shuffle_hash"), restrictions, strict_only)


def turn_sides(edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The two projections of the edge relation the via-node join consumes:
    ``a`` keyed by where each edge ENDS, ``b`` by where each edge STARTS."""
    a = edges.select(
        F.col("edge_id").alias("src_edge_id"),
        F.col("way_id").alias("from_way"),
        F.col("cost").alias("src_cost"),
        F.col("tgt_node").alias("via_node"),
        F.col("tgt_cell").alias("via_cell"),
        F.col("src_lat").alias("a_src_lat"),
        F.col("src_lng").alias("a_src_lng"),
        F.col("tgt_lat").alias("a_tgt_lat"),
        F.col("tgt_lng").alias("a_tgt_lng"),
    )
    b = edges.select(
        F.col("edge_id").alias("tgt_edge_id"),
        F.col("way_id").alias("to_way"),
        F.col("cost").alias("tgt_cost"),
        F.col("src_node").alias("via_node"),
        F.col("src_cell").alias("via_cell"),
        F.col("src_lat").alias("b_src_lat"),
        F.col("src_lng").alias("b_src_lng"),
        F.col("tgt_lat").alias("b_tgt_lat"),
        F.col("tgt_lng").alias("b_tgt_lng"),
    )
    return a, b


def _expand_from_sides(
    a: DataFrame, b: DataFrame, restrictions: DataFrame, strict_only: bool
) -> DataFrame:
    # every edge appears on the b side, so the emitted-way set (J7) derives
    # from it without needing the original edge relation
    emitted = b.select(F.col("to_way").alias("way_id"))
    turns = a.join(b, ["via_cell", "via_node"])  # J4+J5+J6 in one co-partitioned join

    # F6 U-turn: target edge is the exact geometric reversal of the source
    # (4-way coordinate equality, reference invert.hpp:94-99).
    uturn = (
        (F.col("a_src_lat") == F.col("b_tgt_lat"))
        & (F.col("a_src_lng") == F.col("b_tgt_lng"))
        & (F.col("a_tgt_lat") == F.col("b_src_lat"))
        & (F.col("a_tgt_lng") == F.col("b_src_lng"))
    )

    no_rest, only_agg = split_restrictions(restrictions, emitted)

    # J8: only_* — if a restriction matches (from_way, via_node), keep only the
    # turn onto its to-way; conflicting restrictions (distinct to-ways) kill
    # every turn at that key (reference invert.hpp:27-84).
    mandated_ok = (F.col("n_to") == 1) & (F.col("to_way") == F.col("only_to_way"))
    if strict_only:
        # reference first-match semantics: select ONE outgoing edge of the
        # mandated to-way (min edge id as the deterministic file-order
        # stand-in) BEFORE the U-turn / no_* checks — a rejected selection
        # does not fall back to the next edge (invert.hpp:51-84 `return`s)
        turns = turns.join(
            F.broadcast(only_agg), ["from_way", "via_node"], "left"
        ).filter(F.col("n_to").isNull() | mandated_ok)
        w = Window.partitionBy("src_edge_id", "via_cell", "via_node").orderBy(
            "tgt_edge_id"
        )
        turns = (
            turns.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("n_to").isNull() | (F.col("__rn") == 1))
            .drop("__rn")
        )
        turns = turns.filter(~uturn)
    else:
        # DELIBERATE DIVERGENCE from invert.hpp:51-56 (std::find_if): when
        # the mandated to-way is bidirectional through the via node the
        # reference emits only the FIRST matching outgoing edge (file-order
        # dependent); here every edge of the mandated to-way is kept — set
        # semantics, which the north_rule's count/set equivalence accepts
        # and which has no file-order nondeterminism at scale.
        turns = turns.filter(~uturn)
        turns = turns.join(
            F.broadcast(only_agg), ["from_way", "via_node"], "left"
        ).filter(F.col("n_to").isNull() | mandated_ok)

    # J9: no_* anti join on (from_way, to_way) (reference invert.hpp:101-106).
    turns = turns.join(F.broadcast(no_rest), ["from_way", "to_way"], "left_anti")

    return turns.select(
        F.xxhash64("src_edge_id", "tgt_edge_id").alias("exp_edge_id"),
        "src_edge_id",
        "tgt_edge_id",
        "from_way",
        "to_way",
        "via_node",
        "via_cell",
        ((F.col("src_cost") + F.col("tgt_cost")) / 2.0).alias("cost"),
    )
