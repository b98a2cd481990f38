"""Indexed incremental marker maintenance — pass 1 in O(churn), not O(world).

The reference has no CDC story at all: a new planet dump means re-running
the whole binary (``tools/fetch-and-split.php`` simply downloads and
re-splits). ``splitter.incremental_resplit`` already made **pass 2 and the
publish commit** O(delta); this module makes **pass 1** (the marker build,
``softcut.hpp:88-304``) incremental too. Without it, one moved node forces
a full PIP over every node version, a full refs explode over every way, and
a full member explode + closure over every relation — the three scans that
dominate a planet-scale tick.

Mechanism — three kinds of narrow, id-bucketed checkpoint stages kept next
to the marker tables (all maintained incrementally, tick over tick):

per-id signatures (``node_sigs``/``way_sigs``/``rel_sigs``: ``(id, n, h)``)
    ``n`` = version count, ``h`` = bit-XOR of ``xxhash64(id, version)``.
    Under the OSM history model's row immutability per (id, version) — an
    edit is always a NEW version, the same precondition
    ``splitter._world_sigs`` documents — equal signatures imply the id's
    rows are byte-identical, so diffing two ticks' signature tables yields
    the EXACT changed-id set with one co-bucketed join. This also replaces
    the published-table data-diff scan: changed ids ∩ members IS the data
    delta.

reverse-reference indexes (``node_ways``, ``member_rels``)
    node id → referencing way ids, member (type, id) → referencing relation
    ids — the forward explodes (``way_refs``, ``rel_member_idx``) re-keyed
    by the referenced id. A flipped node looks up exactly the ways it can
    affect (the distributed analog of the reference's cascading child→parent
    multimap repair, ``softcut.hpp:269-287``, generalized to n/w members).
    Built from ref LISTS, not resolved rows, so a dangling ref that later
    resolves (a node created after a way referenced it) still triggers the
    way. Relation affectedness propagates UPWARD through the rel→rel edges
    to a fixpoint before any recompute, so the recompute set is closed.

counted extra nodes (``extra_counts``: ``(id, extract, cnt)``)
    ``extra_nodes`` is a distinct over per-way contributions
    (``softcut.hpp:98-111``); a distinct cannot be maintained under
    deletions. The count of contributing (way, extract, ref) rows can:
    removals recompute the affected ways' OLD contributions from the OLD
    checkpointed stages, additions come from the NEW ones, and the deltas
    merge into the counts — presence (cnt > 0) is the marker.

Every stage write goes through ``StageStore.get_or_compute`` and every
derived set (changed ids, flips, affected ways/relations) is recomputed
deterministically from SAVED stages, so a tick killed half-way resumes
correctly. When churn exceeds ``churn_cap`` the module raises
:class:`ChurnTooLarge` and the caller falls back to the full marker
recompute — at massive churn a clean rebuild beats per-id surgery anyway.

Scale posture: all joins against the world or the marker tables put the
delta on the broadcast side (bounded by ``churn_cap``); the only full-table
work per tick is (a) one narrow (id, version) scan per entity for the new
signatures, (b) narrow anti-join+union rewrites of the stages themselves —
sequential parquet IO, no wide shuffle (the save's repartition-by-id is the
single exchange), and (c) the PIP/explode/closure strictly over churned
ids.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.catalog import ExtractCatalog
from ..plans.checkpoint import StageStore
from .closure import relation_closure
from .spatial_join import assign_extracts

__all__ = [
    "INDEX_STAGES",
    "ChurnTooLarge",
    "per_id_sigs",
    "sig_changed_ids",
    "save_index_stages",
    "incremental_markers",
]

#: stages (beyond the four marker tables) an indexed tick maintains; an old
#: checkpoint carrying all of them can be diffed in O(churn)
INDEX_STAGES = (
    "node_sigs",
    "way_sigs",
    "rel_sigs",
    "way_refs",
    "node_ways",
    "rel_member_idx",
    "member_rels",
    "extra_counts",
)

#: per-entity stage ownership (what to adopt wholesale when untouched)
_NODE_STAGES = ("node_sigs", "node_members")
_WAY_STAGES = (
    "way_sigs", "way_refs", "node_ways", "way_members",
    "extra_counts", "extra_nodes",
)
_REL_STAGES = ("rel_sigs", "rel_member_idx", "member_rels", "relation_members")


class ChurnTooLarge(Exception):
    """Churn exceeds the indexed path's broadcast budget — recompute in full."""


def per_id_sigs(df: DataFrame) -> DataFrame:
    """(id, n, h): version count + commutative version-multiset hash per id
    (column-pruned to (id, version) at the scan)."""
    return df.groupBy("id").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("bit_xor(xxhash64(id, version))").alias("h"),
    )


def sig_changed_ids(new_sigs: DataFrame, old_sigs: DataFrame) -> DataFrame:
    """ids whose signature changed, appeared, or vanished. One full-outer
    join on id — Exchange-free when both sides are the id-bucketed stages."""
    a = new_sigs.select("id", F.col("n").alias("an"), F.col("h").alias("ah"))
    b = old_sigs.select("id", F.col("n").alias("bn"), F.col("h").alias("bh"))
    return (
        a.join(b, "id", "full_outer")
        .filter(~F.expr("an <=> bn") | ~F.expr("ah <=> bh"))
        .select("id")
    )


def save_index_stages(
    store: StageStore,
    nodes: DataFrame,
    ways: DataFrame,
    relations: DataFrame,
    way_refs: DataFrame | None = None,
) -> None:
    """Bootstrap the index stages from the world frames + the store's own
    marker stages (idempotent; each stage skipped if present). Run after
    the marker stages exist — a later ``incremental_resplit`` against this
    checkpoint then takes the indexed path. ``way_refs``: reuse the
    membership build's persisted refs frame instead of re-exploding."""
    from ..session import run_concurrent

    # two dependency waves, each wave's stages independent of each other
    # — run them concurrently so the small bucketed writes overlap
    # instead of queueing their fixed per-job overhead (guide §2.6):
    # wave 1 reads only the world frames, wave 2 reads wave-1 stages
    # (node_ways ← way_refs, member_rels ← rel_member_idx) or marker
    # stages that predate this call (extra_counts ← way_members)
    run_concurrent(
        [
            lambda: store.get_or_compute(
                "node_sigs", lambda: per_id_sigs(nodes)
            ),
            lambda: store.get_or_compute(
                "way_sigs", lambda: per_id_sigs(ways)
            ),
            lambda: store.get_or_compute(
                "rel_sigs", lambda: per_id_sigs(relations)
            ),
            lambda: store.get_or_compute(
                "way_refs",
                lambda: (
                    way_refs
                    if way_refs is not None
                    else ways.select(
                        "id", F.explode("refs").alias("ref")
                    ).distinct()
                ),
            ),
            lambda: store.get_or_compute(
                "rel_member_idx",
                lambda: relations.select(
                    "id", F.explode("members").alias("m")
                )
                .select(
                    "id",
                    F.col("m.type").alias("mtype"),
                    F.col("m.ref").alias("ref"),
                )
                .distinct(),
            ),
        ]
    )
    run_concurrent(
        [
            lambda: store.get_or_compute(
                "node_ways",
                lambda: store.load_plain("way_refs").select(
                    F.col("ref").alias("id"), F.col("id").alias("way_id")
                ),
            ),
            lambda: store.get_or_compute(
                "member_rels",
                lambda: store.load_plain("rel_member_idx").select(
                    F.col("ref").alias("id"),
                    "mtype",
                    F.col("id").alias("rel_id"),
                ),
            ),
            lambda: store.get_or_compute(
                "extra_counts",
                lambda: store.load_plain("way_members")
                .join(store.load_plain("way_refs"), "id")
                .groupBy(F.col("ref").alias("id"), "extract")
                .agg(F.count(F.lit(1)).alias("cnt")),
            ),
        ]
    )


def _empty_ids(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], "id long")


def _sym_diff_ids(a: DataFrame, b: DataFrame) -> DataFrame:
    """ids whose (id, extract) set differs between a and b (both small,
    churn-restricted by construction)."""
    a = a.select("id", "extract")
    b = b.select("id", "extract")
    return (
        a.join(b, ["id", "extract"], "left_anti")
        .unionByName(b.join(a, ["id", "extract"], "left_anti"))
        .select("id")
        .distinct()
    )


def _adopt_missing(new: StageStore, old: StageStore, names) -> None:
    for n in names:
        if not new.has(n):
            new.adopt(n, old)


def _counted(df: DataFrame, cap: int, what: str):
    """Persist a small id set, return (df, count); bail if over budget."""
    df = df.persist()
    n = df.count()
    if n > cap:
        df.unpersist()
        raise ChurnTooLarge(f"{what}: {n} ids exceeds churn_cap={cap}")
    return df, n


def incremental_markers(
    spark: SparkSession,
    nodes: DataFrame,
    ways: DataFrame,
    relations: DataFrame,
    catalog: ExtractCatalog,
    old: StageStore,
    new: StageStore,
    entity_same: dict[str, bool],
    churn_cap: int = 5_000_000,
) -> dict:
    """Build the NEW tick's marker + index stages from the OLD tick's in
    O(churn); return the exact change sets pass 2 needs.

    ``entity_same``: per-entity world-signature equality (zero-job gate —
    a fully unchanged entity adopts its stages without any diff).

    Returns ``{"affected": {entity: ids DF}, "n_affected": {entity: int},
    "cleanup": [persisted DFs]}`` where ``affected`` is exactly the ids
    whose published output rows may differ (marker flips ∪ changed ids
    that are members) — feed them to the pass-2 join / ``also_delete``.
    Caller unpersists ``cleanup`` frames after its commits.
    """
    keep: list[DataFrame] = []
    # every persisted frame lands in `keep` the moment it exists, so a
    # ChurnTooLarge bail-out (or any other failure) can release ALL of
    # them — not just the over-budget frame — before the caller falls
    # back to the full marker rebuild
    try:

        def _ids(df):
            return df.select(F.col("id").cast("long").alias("id"))

        # ---------------- nodes ------------------------------------------------
        n_node_flips = 0
        if entity_same["nodes"]:
            _adopt_missing(new, old, _NODE_STAGES)
            changed_nodes, n_changed_nodes = _empty_ids(spark), 0
            node_flips = _empty_ids(spark)
        else:
            new.get_or_compute("node_sigs", lambda: per_id_sigs(nodes))
            changed_nodes, n_changed_nodes = _counted(
                _ids(sig_changed_ids(new.load("node_sigs"), old.load("node_sigs"))),
                churn_cap, "changed nodes",
            )
            keep.append(changed_nodes)
            old_nm = old.load_plain("node_members")
            if n_changed_nodes == 0:
                _adopt_missing(new, old, ("node_members",))
                node_flips = _empty_ids(spark)
            else:
                # PIP strictly over the churned ids (tiny by the churn
                # cap); the flip diff runs on THIS frame before any stage
                # write, because zero flips proves the new stage would be
                # row-identical to the old one — the common tag-only-edit
                # tick then ADOPTS (driver file copy) instead of paying a
                # full O(markers) stage rewrite
                churn_nm = (
                    assign_extracts(
                        nodes.join(
                            F.broadcast(changed_nodes), "id", "left_semi"
                        ),
                        catalog,
                    )
                    .select("id", "extract")
                    .distinct()
                    .persist()
                )
                keep.append(churn_nm)
                node_flips = _sym_diff_ids(
                    churn_nm,
                    old_nm.join(F.broadcast(changed_nodes), "id", "left_semi"),
                )
                node_flips, n_node_flips = _counted(
                    node_flips, churn_cap, "node flips"
                )
                keep.append(node_flips)
                if n_node_flips == 0:
                    _adopt_missing(new, old, ("node_members",))
                else:
                    new.get_or_compute(
                        "node_members",
                        # survivors ride along; churned ids take their
                        # freshly computed memberships
                        lambda: old_nm.join(
                            F.broadcast(changed_nodes), "id", "left_anti"
                        ).unionByName(churn_nm),
                    )

        # ---------------- ways + extra nodes -----------------------------------
        if entity_same["ways"]:
            changed_ways, n_changed_ways = _empty_ids(spark), 0
        else:
            new.get_or_compute("way_sigs", lambda: per_id_sigs(ways))
            changed_ways, n_changed_ways = _counted(
                _ids(sig_changed_ids(new.load("way_sigs"), old.load("way_sigs"))),
                churn_cap, "changed ways",
            )
            keep.append(changed_ways)

        # ways whose membership can move: edited ways ∪ ways referencing a
        # flipped node (reverse index lookup — refs of unchanged ways are
        # identical in the old index, edited ways are caught by the sig diff)
        aff_ways_src = changed_ways
        if n_node_flips:
            aff_ways_src = aff_ways_src.unionByName(
                old.load_plain("node_ways")
                .join(F.broadcast(node_flips), "id", "left_semi")
                .select(F.col("way_id").alias("id"))
            )
        affected_ways, n_aff_ways = _counted(
            aff_ways_src.distinct(), churn_cap, "affected ways"
        )
        keep.append(affected_ways)

        if n_aff_ways == 0:
            _adopt_missing(new, old, _WAY_STAGES)
            way_flips = _empty_ids(spark)
            extra_flips = _empty_ids(spark)
        else:
            old_way_refs = old.load_plain("way_refs")
            if n_changed_ways == 0:
                _adopt_missing(new, old, ("way_sigs", "way_refs", "node_ways"))
            else:
                new.get_or_compute(
                    "way_refs",
                    lambda: old_way_refs.join(
                        F.broadcast(changed_ways), "id", "left_anti"
                    ).unionByName(
                        ways.join(F.broadcast(changed_ways), "id", "left_semi")
                        .select("id", F.explode("refs").alias("ref"))
                        .distinct()
                    ),
                )
                new.get_or_compute(
                    "node_ways",
                    lambda: new.load_plain("way_refs").select(
                        F.col("ref").alias("id"), F.col("id").alias("way_id")
                    ),
                )

            # J2 over the affected ways only, against the FULL new node markers
            # (broadcast the delta-side refs; the marker table never shuffles)
            aff_refs = (
                new.load_plain("way_refs")
                .join(F.broadcast(affected_ways), "id", "left_semi")
                .persist()
            )
            keep.append(aff_refs)
            old_wm = old.load_plain("way_members")
            new.get_or_compute(
                "way_members",
                lambda: old_wm.join(
                    F.broadcast(affected_ways), "id", "left_anti"
                ).unionByName(
                    new.load_plain("node_members")
                    .select(F.col("id").alias("ref"), "extract")
                    .join(F.broadcast(aff_refs), "ref")
                    .select("id", "extract")
                    .distinct()
                ),
            )
            way_flips = _sym_diff_ids(
                new.load_plain("way_members").join(
                    F.broadcast(affected_ways), "id", "left_semi"
                ),
                old_wm.join(F.broadcast(affected_ways), "id", "left_semi"),
            )

            # extra-node contribution deltas: OLD stages give the exact rows the
            # affected ways contributed before, NEW stages what they contribute
            # now; counts merge, presence (cnt>0) is the marker (module doc)
            old_aff_refs = old_way_refs.join(
                F.broadcast(affected_ways), "id", "left_semi"
            )
            removed = (
                old_wm.join(F.broadcast(affected_ways), "id", "left_semi")
                .join(old_aff_refs, "id")
                .groupBy(F.col("ref").alias("id"), "extract")
                .agg(F.count(F.lit(1)).alias("rem"))
            )
            added = (
                new.load_plain("way_members")
                .join(F.broadcast(affected_ways), "id", "left_semi")
                .join(aff_refs, "id")
                .groupBy(F.col("ref").alias("id"), "extract")
                .agg(F.count(F.lit(1)).alias("add"))
            )
            delta_counts = (
                added.join(removed, ["id", "extract"], "full_outer")
                .select(
                    "id",
                    "extract",
                    (
                        F.coalesce("add", F.lit(0)) - F.coalesce("rem", F.lit(0))
                    ).alias("dc"),
                )
                .filter(F.col("dc") != 0)
                .persist()
            )
            keep.append(delta_counts)
            touched = delta_counts.select("id").distinct().persist()
            keep.append(touched)
            old_counts = old.load_plain("extra_counts")

            def _merge_counts():
                merged = (
                    old_counts.join(F.broadcast(touched), "id", "left_semi")
                    .join(delta_counts, ["id", "extract"], "full_outer")
                    .select(
                        "id",
                        "extract",
                        (
                            F.coalesce("cnt", F.lit(0)) + F.coalesce("dc", F.lit(0))
                        ).alias("cnt"),
                    )
                    .filter(F.col("cnt") > 0)
                )
                return old_counts.join(
                    F.broadcast(touched), "id", "left_anti"
                ).unionByName(merged)

            new.get_or_compute("extra_counts", _merge_counts)
            new.get_or_compute(
                "extra_nodes",
                lambda: new.load_plain("extra_counts").select("id", "extract"),
            )
            # presence can only change for refs of affected ways (old or new)
            cand = (
                old_aff_refs.select(F.col("ref").alias("id"))
                .unionByName(aff_refs.select(F.col("ref").alias("id")))
                .distinct()
                .persist()
            )
            keep.append(cand)
            extra_flips = _sym_diff_ids(
                new.load_plain("extra_counts").join(
                    F.broadcast(cand), "id", "left_semi"
                ),
                old_counts.join(F.broadcast(cand), "id", "left_semi"),
            )
        way_flips, n_way_flips = _counted(way_flips, churn_cap, "way flips")
        keep.append(way_flips)
        extra_flips, _ = _counted(extra_flips, churn_cap, "extra-node flips")
        keep.append(extra_flips)

        # ---------------- relations --------------------------------------------
        if entity_same["relations"]:
            changed_rels, n_changed_rels = _empty_ids(spark), 0
        else:
            new.get_or_compute("rel_sigs", lambda: per_id_sigs(relations))
            changed_rels, n_changed_rels = _counted(
                _ids(sig_changed_ids(new.load("rel_sigs"), old.load("rel_sigs"))),
                churn_cap, "changed relations",
            )
            keep.append(changed_rels)

        seeds_src = changed_rels
        old_member_rels = old.load_plain("member_rels")
        if n_node_flips:
            seeds_src = seeds_src.unionByName(
                old_member_rels.filter(F.col("mtype") == "n")
                .join(F.broadcast(node_flips), "id", "left_semi")
                .select(F.col("rel_id").alias("id"))
            )
        if n_way_flips:
            seeds_src = seeds_src.unionByName(
                old_member_rels.filter(F.col("mtype") == "w")
                .join(F.broadcast(way_flips), "id", "left_semi")
                .select(F.col("rel_id").alias("id"))
            )
        seeds, n_seeds = _counted(seeds_src.distinct(), churn_cap, "relation seeds")
        keep.append(seeds)

        if n_seeds == 0:
            _adopt_missing(new, old, _REL_STAGES)
            rel_flips = _empty_ids(spark)
            aff_rels, n_aff_rels = _empty_ids(spark), 0
        else:
            old_idx = old.load_plain("rel_member_idx")
            if n_changed_rels == 0:
                _adopt_missing(new, old, ("rel_sigs", "rel_member_idx", "member_rels"))
            else:
                new.get_or_compute(
                    "rel_member_idx",
                    lambda: old_idx.join(
                        F.broadcast(changed_rels), "id", "left_anti"
                    ).unionByName(
                        relations.join(F.broadcast(changed_rels), "id", "left_semi")
                        .select("id", F.explode("members").alias("m"))
                        .select(
                            "id",
                            F.col("m.type").alias("mtype"),
                            F.col("m.ref").alias("ref"),
                        )
                        .distinct()
                    ),
                )
                new.get_or_compute(
                    "member_rels",
                    lambda: new.load_plain("rel_member_idx").select(
                        F.col("ref").alias("id"), "mtype", F.col("id").alias("rel_id")
                    ),
                )
            new_idx = new.load_plain("rel_member_idx")
            edges = (
                new_idx.filter(F.col("mtype") == "r")
                .select(F.col("ref").alias("child"), F.col("id").alias("parent"))
                .distinct()
                .persist()
            )
            keep.append(edges)
            # close affectedness UPWARD first so the recompute set is closed:
            # parents of a possibly-flipping relation may flip too (new edges
            # suffice — an edge add/remove edits the parent, seeding it)
            aff_rels = _upward(seeds, edges)
            aff_rels, n_aff_rels = _counted(aff_rels, churn_cap, "affected relations")
            keep.append(aff_rels)

            idx_aff = new_idx.join(F.broadcast(aff_rels), "id", "left_semi").persist()
            keep.append(idx_aff)
            direct = (
                new.load_plain("node_members")
                .select(F.lit("n").alias("mtype"), F.col("id").alias("ref"), "extract")
                .unionByName(
                    new.load_plain("way_members").select(
                        F.lit("w").alias("mtype"), F.col("id").alias("ref"), "extract"
                    )
                )
                .join(
                    F.broadcast(idx_aff.filter(F.col("mtype").isin("n", "w"))),
                    ["mtype", "ref"],
                )
                .select("id", "extract")
            )
            # membership flowing in from UNaffected children is fixed ground
            # truth — inject it as seeds of the affected parents, then close
            # strictly within the affected subgraph (aff is upward-closed, so
            # no edge leaves it)
            old_rm = old.load_plain("relation_members")
            par_edges = edges.join(
                F.broadcast(aff_rels.withColumnRenamed("id", "parent")), "parent",
                "left_semi",
            ).persist()
            keep.append(par_edges)
            outside = par_edges.join(
                F.broadcast(aff_rels.withColumnRenamed("id", "child")), "child",
                "left_anti",
            )
            inject = (
                old_rm.withColumnRenamed("id", "child")
                .join(F.broadcast(outside), "child")
                .select(F.col("parent").alias("id"), "extract")
            )
            sub_edges = par_edges.join(
                F.broadcast(aff_rels.withColumnRenamed("id", "child")), "child",
                "left_semi",
            )
            closed = relation_closure(
                direct.unionByName(inject).distinct(), sub_edges
            ).persist()
            keep.append(closed)
            new.get_or_compute(
                "relation_members",
                lambda: old_rm.join(
                    F.broadcast(aff_rels), "id", "left_anti"
                ).unionByName(closed),
            )
            rel_flips = _sym_diff_ids(
                closed, old_rm.join(F.broadcast(aff_rels), "id", "left_semi")
            )
        rel_flips, _ = _counted(rel_flips, churn_cap, "relation flips")
        keep.append(rel_flips)

        # ---------------- pass-2 affected sets ---------------------------------
        # output rows change iff the id's marker set flipped, or its world rows
        # changed while it IS a member (changed ∩ markers — the data diff, no
        # published-table scan needed: signatures subsume it)
        def _members_of(changed, n_changed, marker_names):
            if n_changed == 0:
                return None
            m = new.load_plain(marker_names[0]).select("id")
            for extra_name in marker_names[1:]:
                m = m.unionByName(new.load_plain(extra_name).select("id"))
            return m.join(F.broadcast(changed), "id", "left_semi").distinct()

        def _affected(flip_sets, changed, n_changed, marker_names):
            parts = [f for f in flip_sets] + (
                [m] if (m := _members_of(changed, n_changed, marker_names)) is not None
                else []
            )
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            return out.distinct().persist()

        affected = {
            "nodes": _affected(
                [node_flips, extra_flips], changed_nodes, n_changed_nodes,
                ("node_members", "extra_nodes"),
            ),
            "ways": _affected(
                [way_flips], changed_ways, n_changed_ways, ("way_members",)
            ),
            "relations": _affected(
                [rel_flips], changed_rels, n_changed_rels, ("relation_members",)
            ),
        }
        keep.extend(affected.values())
        return {
            "affected": affected,
            "n_affected": {k: v.count() for k, v in affected.items()},
            "cleanup": keep,
        }
    except BaseException:
        for f in keep:
            f.unpersist()
        raise


def _upward(seeds: DataFrame, edges: DataFrame, max_iterations: int = 50) -> DataFrame:
    """Transitive parents of ``seeds`` over (child, parent) edges, plus the
    seeds — the upward reachability closure (cycle-safe semi-naive loop,
    single-digit depth in real data; see operators/closure.py)."""
    seen = seeds.select("id").distinct().localCheckpoint(eager=True)
    frontier = seen
    for _ in range(max_iterations):
        parents = (
            frontier.join(edges, frontier["id"] == edges["child"])
            .select(F.col("parent").alias("id"))
            .distinct()
            .join(seen, ["id"], "left_anti")
            .localCheckpoint(eager=True)
        )
        if parents.isEmpty():
            break
        seen = seen.unionByName(parents).localCheckpoint(eager=True)
        frontier = parents
    else:
        # truncation would under-close affectedness → stale markers
        raise RuntimeError(
            f"upward affectedness closure did not converge in "
            f"{max_iterations} iterations; raise max_iterations"
        )
    return seen
