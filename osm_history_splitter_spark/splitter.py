"""Top-level split driver — the engine's analog of the reference CLI
(``splitter.cpp:25-98``): config → catalog → hardcut or softcut → per-extract
partitioned writes, resumable mid-split.

Run via spark-submit (north_rule)::

    spark-submit --py-files osm_history_splitter_spark.zip \
        -m osm_history_splitter_spark.splitter \
        --input /data/osm_tables --config extracts.config \
        --output /data/extracts --mode softcut

or programmatically: ``run_split(spark, nodes, ways, relations, catalog,
out_path, mode=...)``.
"""

from __future__ import annotations

import argparse

from pyspark.sql import DataFrame, SparkSession

from .operators.hardcut import hardcut
from .operators.softcut import softcut_membership
from .plans.catalog import ExtractCatalog
from .plans.checkpoint import StageStore
from .plans.io import write_extracts
from .session import run_concurrent
from .sources.config import parse_config

__all__ = [
    "run_split",
    "pass2_outputs",
    "prepare_bucketed_world",
    "incremental_resplit",
    "compact_published",
    "emit_osm_from_published",
]

#: marker-table stages checkpointed between softcut pass 1 and pass 2
MARKER_STAGES = ("node_members", "way_members", "extra_nodes", "relation_members")


def _world_sigs(nodes: DataFrame, ways: DataFrame, relations: DataFrame) -> dict:
    """Per-entity world signature: (row count, bit-XOR of
    xxhash64(id, version)) — one column-pruned scan each, commutative so
    partition order cannot matter.

    Soundness rests on the OSM history model's row immutability per
    (id, version) (an edit is always a NEW version — the same
    precondition the incremental data diff documents): multiset equality
    of (id, version) pairs between two dumps therefore implies the
    entity's world is IDENTICAL — same rows, same refs/members, same
    payload. XOR cancels duplicated (id, version) pairs against each
    other, but a history containing duplicates is malformed and the row
    count still guards the common cases."""
    from pyspark.sql import functions as F

    frames = [("nodes", nodes), ("ways", ways), ("relations", relations)]
    rows = run_concurrent(
        lambda df=df: df.select(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(id, version))").alias("h"),
        ).first()
        for _, df in frames
    )
    return {
        name: [int(row["n"]), str(row["h"])]
        for (name, _), row in zip(frames, rows)
    }


def _write_world_sigs(checkpoint_dir: str, sigs: dict) -> None:
    import json
    from pathlib import Path

    p = Path(checkpoint_dir)
    p.mkdir(parents=True, exist_ok=True)
    (p / "world_sigs.json").write_text(json.dumps(sigs))


def _read_world_sigs(checkpoint_dir: str) -> dict:
    import json
    from pathlib import Path

    p = Path(checkpoint_dir) / "world_sigs.json"
    return json.loads(p.read_text()) if p.exists() else {}


def pass2_outputs(
    nodes: DataFrame,
    ways: DataFrame,
    relations: DataFrame,
    store: StageStore,
) -> dict[str, DataFrame]:
    """Softcut pass 2: entity tables joined by id against the CHECKPOINTED
    marker tables (``softcut.hpp:310-416``) — membership by id fans out to
    every version (history-complete).

    The store writes markers bucketed by id (``StageStore(bucket_by=)``),
    so each join's marker side arrives pre-partitioned: no Exchange on the
    marker side, only the entity side shuffles — the distributed analog of
    the reference's O(1) in-memory bitset probes
    (``growing_bitset.hpp:48-65``). Asserted on this exact DAG in
    tests/test_plans.py::test_run_split_pass2_marker_side_is_shuffle_free.
    """
    # load_plain, NOT load: distinct() over a union of two bucketed scans
    # is silently wrong in Spark 4.1 (see StageStore.load_plain docstring)
    all_node_ids = store.get_or_compute(
        "all_node_ids",
        lambda: store.load_plain("node_members")
        .unionByName(store.load_plain("extra_nodes"))
        .distinct(),
    )
    return {
        "nodes": nodes.join(all_node_ids, "id"),
        "ways": ways.join(store.load("way_members"), "id"),
        "relations": relations.join(store.load("relation_members"), "id"),
    }


def prepare_bucketed_world(
    spark: SparkSession,
    nodes: DataFrame,
    ways: DataFrame,
    relations: DataFrame,
    world_path: str,
    n_buckets: int | None = None,
) -> dict[str, DataFrame]:
    """One-time corpus preparation for a FULLY shuffle-free softcut pass 2.

    Writes the three entity tables as bucketed+sorted-by-id external tables
    (the same Murmur3 bucketing the marker checkpoints use) and returns the
    bucketed frames. Feed these to ``run_split``/``pass2_outputs`` with a
    matching bucket count and every pass-2 join co-locates both sides:
    ZERO Exchange in the join plans (asserted in
    tests/test_plans.py::test_bucketed_world_pass2_is_fully_shuffle_free).

    At planet scale this is one full-corpus shuffle, amortized over every
    subsequent split run against the same world — the batch analog of the
    reference holding its whole input as seekable local files
    (``splitter.cpp:25-43``). Idempotent: stage markers skip finished
    tables, so a killed preparation resumes where it stopped.
    """
    n = n_buckets or int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    store = StageStore(spark, world_path, bucket_by=("id", n))
    return {
        "nodes": store.get_or_compute("nodes", lambda: nodes),
        "ways": store.get_or_compute("ways", lambda: ways),
        "relations": store.get_or_compute("relations", lambda: relations),
    }


def _read_back(spark: SparkSession, out_path: str) -> dict:
    """The split outputs as scans of the parquet just written by
    ``write_extracts`` (the ``extract`` partition column rides along) —
    feeding the optional sinks without re-executing the cut."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from .model import NODE_SCHEMA, RELATION_SCHEMA, WAY_SCHEMA
    from .plans.io import parquet_dir_has_data

    schemas = {
        "nodes": NODE_SCHEMA, "ways": WAY_SCHEMA, "relations": RELATION_SCHEMA
    }
    outs = {}
    for e in ("nodes", "ways", "relations"):
        if parquet_dir_has_data(spark, f"{out_path}/{e}"):
            # partition-type inference would read a numeric-looking
            # extract name back as int — pin it to string
            outs[e] = spark.read.parquet(f"{out_path}/{e}").withColumn(
                "extract", F.col("extract").cast("string")
            )
        else:
            # an empty entity output writes no parquet files at all
            # (partitionBy emits nothing) — hand the sinks an empty
            # frame with the model schema instead
            schema = T.StructType(
                schemas[e].fields
                + [T.StructField("extract", T.StringType(), True)]
            )
            outs[e] = spark.createDataFrame([], schema)
    return outs


def _emit_osm(outs: dict, catalog, out_path: str, osm_filenames) -> dict:
    """Reference-format `.osm/.osh[.gz|.bz2]` emission (S8 parity) from
    the split outputs — one XML file per extract under
    ``<out_path>/osm/`` (plans/osm_writer.py)."""
    from .plans.osm_writer import write_extracts_osm

    return write_extracts_osm(
        outs["nodes"], outs["ways"], outs["relations"],
        catalog, f"{out_path}/osm",
        filenames=osm_filenames if isinstance(osm_filenames, dict) else None,
    )


def _publish(spark, outs: dict, publish_dir: str) -> dict:
    """Commit each entity output to a VersionedTable (plans/table.py):
    first split = initial commit, re-splits MERGE by the natural
    composite key (id, version, extract) — changed rows replace their
    predecessors and earlier splits stay time-travelable.

    Rows are range-clustered by (extract, id) before the commit and the
    manifest records per-file [min, max] for both columns, so
    ``table.read(between=("extract", name, name))`` prunes to one
    extract's files without opening the rest — the published-table
    analog of ``read_extract``'s partition pruning.

    A re-publish from a FULL split is the new truth for the whole table:
    published keys absent from the new output (a redacted version, a
    membership loss, a config change) are passed as ``also_delete`` so
    the merge snapshot equals the split output exactly — without this a
    vanished row would silently survive every subsequent dump. (The
    incremental path computes its own, narrower ``also_delete`` from
    affected ids — ``incremental_resplit``.)

    The three entity commits are atomic individually but not as a SET;
    after all three land, one :class:`TableGroup` pin records their
    versions as the consistent snapshot (a crash mid-publish leaves the
    previous pin in force — group readers never see nodes from one dump
    joined to ways from another)."""
    from .plans.table import TableGroup, VersionedTable

    n = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    key = ["id", "version", "extract"]

    def _commit_entity(entity: str) -> int:
        t = VersionedTable(spark, f"{publish_dir}/{entity}")
        df = (
            outs[entity]
            .repartitionByRange(n, "extract", "id", "version")
            .sortWithinPartitions("extract", "id", "version")
        )
        if t.versions():
            gone = t.read().select(*key).join(
                df.select(*key), key, "left_anti"
            )
            return t.commit(
                df, mode="merge",
                merge_key=key,
                stats_cols=["extract", "id"],
                also_delete=gone,
            )
        return t.commit(df, stats_cols=["extract", "id"])

    # the three entity commits touch three disjoint table dirs — run
    # them concurrently so each commit's write tail back-fills the
    # executors the others free (guide §2.6); the group pin still lands
    # strictly after all three
    entities = ("nodes", "ways", "relations")
    versions = dict(
        zip(
            entities,
            run_concurrent(lambda e=e: _commit_entity(e) for e in entities),
        )
    )
    versions["group"] = TableGroup(spark, publish_dir).pin(
        {e: versions[e] for e in entities}
    )
    return versions


def run_split(
    spark: SparkSession,
    nodes: DataFrame,
    ways: DataFrame,
    relations: DataFrame,
    catalog: ExtractCatalog,
    out_path: str,
    mode: str = "softcut",
    checkpoint_dir: str | None = None,
    n_buckets: int | None = None,
    osm_filenames: dict[str, str] | bool | None = None,
    publish_table: str | None = None,
    write_indexes: bool = False,
) -> dict:
    """Full split job; returns the combined lineage manifest.

    softcut runs as two phases with the four marker tables checkpointed
    between them (the resume point); hardcut is single-phase.

    ``osm_filenames``: truthy → ALSO emit reference-format XML per
    extract (a dict maps extract name → file name, extension selecting
    format; ``True`` uses ``<name>.osh``). ``publish_table``: commit the
    outputs to VersionedTables under this dir (re-splits merge by
    (id, version, extract)). ``write_indexes``: also checkpoint the
    per-id signature + reverse-reference index stages
    (operators/incremental.py) so a later ``incremental_resplit``
    against this checkpoint runs pass 1 in O(churn) from its very first
    tick (softcut only; an un-indexed seed still works — the first
    incremental tick falls back to a full marker recompute and builds
    the indexes then).
    """
    from .model import validate_history_compat

    for name, df in (("nodes", nodes), ("ways", ways), ("relations", relations)):
        validate_history_compat(df, name, expect_history=True)

    manifests = {}
    if mode == "hardcut":
        res = hardcut(nodes, ways, relations, catalog)
        # disjoint output dirs — concurrent writes, see the softcut branch
        manifests["nodes"], manifests["ways"], manifests["relations"] = (
            run_concurrent(
                [
                    lambda: write_extracts(
                        res.nodes, f"{out_path}/nodes", "hardcut_nodes",
                        sort_cols=["id", "version"], catalog=catalog,
                    ),
                    lambda: write_extracts(
                        res.ways, f"{out_path}/ways", "hardcut_ways",
                        sort_cols=["id", "version"], catalog=catalog,
                    ),
                    lambda: write_extracts(
                        res.relations, f"{out_path}/relations",
                        "hardcut_relations",
                        sort_cols=["id", "version"], catalog=catalog,
                    ),
                ]
            )
        )
        if osm_filenames or publish_table:
            # the extra sinks read back the parquet JUST WRITTEN instead
            # of re-executing the cut lineage — scan-only, not a second
            # (or third) full split computation
            outs = _read_back(spark, out_path)
        if osm_filenames:
            manifests["osm_files"] = _emit_osm(
                outs, catalog, out_path, osm_filenames
            )
        if publish_table:
            manifests["published"] = _publish(spark, outs, publish_table)
        return manifests

    if mode != "softcut":
        raise ValueError(f"unknown mode {mode!r} (softcut|hardcut)")

    # markers are bucketed by id so the pass-2 joins read them shuffle-free;
    # pass n_buckets matching a prepare_bucketed_world() corpus to make the
    # joins FULLY shuffle-free (both sides co-located)
    n_buckets = n_buckets or int(
        spark.conf.get("spark.sql.shuffle.partitions", "32")
    )
    store = StageStore(
        spark,
        checkpoint_dir or f"{out_path}/_checkpoints",
        bucket_by=("id", n_buckets),
    )

    # pass 1 with per-stage resume: each marker table is a checkpoint.
    # Resume is only sound against the SAME world and catalog: existing
    # stages are validated against the signature stamp BEFORE anything
    # is adopted (resuming a checkpoint built from another dump or
    # config would silently join this world against stale markers), and
    # a fresh pass 1 stamps BEFORE computing, so a mid-pass-1 crash can
    # never masquerade later as a checkpoint of whatever world resumed
    # it. The stamp doubles as incremental_resplit's reuse evidence.
    cur_sigs = {
        **_world_sigs(nodes, ways, relations),
        "catalog": catalog.fingerprint(),
    }
    old_sigs = _read_world_sigs(store.root)
    if any(store.has(n) for n in MARKER_STAGES) and old_sigs != cur_sigs:
        raise ValueError(
            f"checkpoint at {store.root} holds marker stages built from "
            "a different world or extract catalog (or predates the "
            "signature stamp): resuming would silently reuse stale "
            "markers — use a fresh checkpoint_dir, or incremental_resplit "
            "to roll a published split forward"
        )
    m = None
    if not all(store.has(n) for n in MARKER_STAGES):
        _write_world_sigs(store.root, cur_sigs)
        m = softcut_membership(nodes, ways, relations, catalog, persist=True)
        # node_members first: every other marker reads its cache, and once
        # it is materialized their joins plan on its real size. The other
        # three write disjoint stages — run them concurrently so their
        # short jobs overlap instead of queueing behind each other's
        # driver-side gaps
        store.get_or_compute("node_members", lambda: m.node_members)
        run_concurrent(
            lambda s=s: store.get_or_compute(s, lambda: getattr(m, s))
            for s in MARKER_STAGES[1:]
        )
    if write_indexes:
        from .operators.incremental import save_index_stages

        save_index_stages(
            store, nodes, ways, relations,
            way_refs=m.way_refs if m is not None else None,
        )
    if m is not None:
        # markers are checkpointed; pass 2 reads the store, so the pass-1
        # caches (full-world explodes included) can be released now — a
        # service running many splits in one session must not accumulate
        # them (StorageLevel caches are never GC-cleaned)
        m.unpersist()

    # pass 2: membership by id fans out to every version (history-complete).
    # The three entity outputs land in disjoint directories — write them
    # concurrently so each job's straggler tail back-fills the executors
    # the others free (guide §2.6)
    outs = pass2_outputs(nodes, ways, relations, store)
    manifests["nodes"], manifests["ways"], manifests["relations"] = run_concurrent(
        [
            lambda: write_extracts(
                outs["nodes"], f"{out_path}/nodes", "softcut_nodes",
                sort_cols=["id", "version"], catalog=catalog,
            ),
            lambda: write_extracts(
                outs["ways"], f"{out_path}/ways", "softcut_ways",
                sort_cols=["id", "version"], catalog=catalog,
            ),
            lambda: write_extracts(
                outs["relations"], f"{out_path}/relations",
                "softcut_relations",
                sort_cols=["id", "version"], catalog=catalog,
            ),
        ]
    )
    manifests["checkpoints"] = store.manifest()
    if osm_filenames or publish_table:
        # scan-only: the written parquet replaces the cut lineage (the
        # softcut pass-2 joins would otherwise run once more per sink)
        outs = _read_back(spark, out_path)
    if osm_filenames:
        manifests["osm_files"] = _emit_osm(
            outs, catalog, out_path, osm_filenames
        )
    if publish_table:
        manifests["published"] = _publish(spark, outs, publish_table)
    return manifests


def main():
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True, help="dir with nodes/ways/relations parquet")
    ap.add_argument("--config", required=True, help="split config file")
    ap.add_argument("--output", required=True)
    ap.add_argument("--mode", default="softcut", choices=["softcut", "hardcut"])
    ap.add_argument("--checkpoint-dir", default=None)
    ap.add_argument(
        "--n-buckets", type=int, default=None,
        help="id-bucket count for marker checkpoints (match the bucketed world)",
    )
    ap.add_argument(
        "--bucketed-world", default=None, metavar="DIR",
        help="prepare (or reuse) an id-bucketed copy of the entity tables at "
        "DIR and run the split from it — fully shuffle-free pass-2 joins",
    )
    ap.add_argument(
        "--emit-osm", action="store_true",
        help="also write reference-format .osm/.osh[.gz|.bz2] files per "
        "extract (format from the config's dest extension) under "
        "<output>/osm/",
    )
    ap.add_argument(
        "--publish-table", default=None, metavar="DIR",
        help="commit outputs to VersionedTables under DIR; re-splits merge "
        "by (id, version, extract) and stay time-travelable",
    )
    ap.add_argument(
        "--incremental-from", default=None, metavar="PREV_CHECKPOINT_DIR",
        help="CDC mode: diff the world against this previous run's marker "
        "checkpoint and the --publish-table tables, recompute only "
        "affected ids, commit atomically (requires --publish-table; "
        "softcut only)",
    )
    ap.add_argument(
        "--marker-strategy", default="auto", choices=["auto", "indexed", "full"],
        help="CDC pass-1 strategy: 'indexed' diffs per-id signatures and "
        "recomputes markers for churned ids only (requires index stages in "
        "the previous checkpoint), 'full' recomputes every marker table, "
        "'auto' picks indexed when possible",
    )
    ap.add_argument(
        "--write-indexes", action="store_true",
        help="on a full split, also checkpoint the per-id signature + "
        "reverse-reference index stages so the FIRST incremental tick "
        "already runs in O(churn)",
    )
    ap.add_argument(
        "--publish-strategy", default="mor", choices=["mor", "cow"],
        help="CDC commit strategy: merge-on-read (delta + equality-delete "
        "key files, O(delta) commits) or copy-on-write (table rewrite, "
        "plain-scan reads)",
    )
    ap.add_argument(
        "--compact-after", type=int, default=0, metavar="N",
        help="after a CDC run, fold any published table carrying >= N "
        "merge-on-read delete entries into a clean snapshot (0 = never)",
    )
    ap.add_argument(
        "--compact-cover", type=int, default=0, metavar="LEVELS",
        help="H3-style cover compaction depth: merge fully-inside 2x2 "
        "sibling cells into parents up to LEVELS coarser resolutions, "
        "shrinking the broadcast spatial index toward O(perimeter) per "
        "extract (membership unchanged; the join switches to the "
        "single-scan ladder strategy automatically). 0 = off",
    )
    args = ap.parse_args()

    from .session import get_spark

    spark = get_spark("splitter")
    catalog = parse_config(args.config)
    if args.compact_cover:
        catalog.compact_levels = args.compact_cover
    nodes = spark.read.parquet(f"{args.input}/nodes")
    ways = spark.read.parquet(f"{args.input}/ways")
    relations = spark.read.parquet(f"{args.input}/relations")
    if args.bucketed_world:
        world = prepare_bucketed_world(
            spark, nodes, ways, relations, args.bucketed_world,
            n_buckets=args.n_buckets,
        )
        nodes, ways, relations = world["nodes"], world["ways"], world["relations"]
    osm_filenames = None
    if args.emit_osm:
        from .sources.config import parse_config_dests

        osm_filenames = parse_config_dests(args.config)
    if args.incremental_from:
        if not args.publish_table or args.mode != "softcut":
            ap.error("--incremental-from requires --publish-table and "
                     "--mode softcut")
        manifest = incremental_resplit(
            spark, nodes, ways, relations, catalog,
            args.publish_table, args.incremental_from,
            args.checkpoint_dir or f"{args.output}/_checkpoints",
            n_buckets=args.n_buckets,
            publish_strategy=args.publish_strategy,
            marker_strategy=args.marker_strategy,
        )
        if osm_filenames:
            # keep the reference-format files in step with the published
            # tables (the fetch service's emit discipline, fetch.py): CDC
            # tracks changes per id, not per extract, so any change
            # refreshes every dest from the freshly-committed tables —
            # a no-op tick rebuilds nothing
            affected = sum(
                manifest.get(e, {}).get("affected_ids", 0)
                for e in ("nodes", "ways", "relations")
            )
            if affected > 0:
                manifest["osm_files"] = emit_osm_from_published(
                    spark, args.publish_table, catalog,
                    f"{args.output}/osm", filenames=osm_filenames,
                )
        if args.compact_after:
            manifest["compacted"] = compact_published(
                spark, args.publish_table, args.compact_after
            )
    else:
        manifest = run_split(
            spark, nodes, ways, relations, catalog, args.output,
            mode=args.mode, checkpoint_dir=args.checkpoint_dir,
            n_buckets=args.n_buckets,
            osm_filenames=osm_filenames,
            publish_table=args.publish_table,
            write_indexes=args.write_indexes,
        )
    import json

    print(json.dumps(manifest, indent=2))



def compact_published(
    spark: SparkSession, publish_dir: str, threshold: int
) -> dict:
    """Fold any published entity table carrying >= ``threshold``
    merge-on-read delete entries into a clean snapshot (bounds the
    read-side anti-join growth of repeated CDC commits; history stays
    time-travelable). Returns {entity: new version} for the tables
    compacted. Threshold check is manifest metadata only — untouched
    tables cost zero jobs."""
    from .plans.table import TableGroup, VersionedTable

    g = TableGroup(spark, publish_dir)
    pinned = g.members() if g.versions() else None
    out = {}
    for entity in ("nodes", "ways", "relations"):
        t = VersionedTable(spark, f"{publish_dir}/{entity}")
        vs = t.versions()
        if not vs:
            continue
        if pinned is not None and pinned.get(entity) != vs[-1]:
            # head ≠ pinned: an unpinned commit exists (a publisher
            # crashed mid-set). Compacting the head and re-pinning it
            # would promote that half-published state into the group —
            # the exact mixed snapshot pins exist to prevent. Leave this
            # entity for after the publisher's retry completes the set.
            continue
        if len(t._manifest(vs[-1]).get("deletes", [])) >= threshold:
            out[entity] = t.compact(stats_cols=["extract", "id"])
    if out and pinned is not None:
        # compaction preserves content AND compacted from the pinned
        # head (checked above), so re-pinning the compacted versions
        # next to the others' pins keeps the group snapshot consistent
        out["group"] = g.pin({**pinned, **out})
    return out


def incremental_resplit(
    spark: SparkSession,
    nodes: DataFrame,
    ways: DataFrame,
    relations: DataFrame,
    catalog: ExtractCatalog,
    publish_dir: str,
    prev_checkpoint_dir: str,
    checkpoint_dir: str,
    n_buckets: int | None = None,
    publish_strategy: str = "mor",
    marker_strategy: str = "auto",
) -> dict:
    """Incremental softcut against a PUBLISHED previous split: recompute
    only what a world update changed, and commit it atomically per
    entity (the CDC path the reference covers by re-running the whole
    binary on a new planet dump).

    Two marker paths, selected by ``marker_strategy``:

    - **indexed** (taken by ``"auto"`` when the previous checkpoint
      carries the per-id signature + reverse-reference index stages —
      operators/incremental.py): pass 1 itself is O(churn). Per-id
      signatures diff the two worlds into exact changed-id sets, reverse
      indexes bound which ways/relations a flipped node can affect, the
      extra-node set is maintained by contribution counts, and relation
      affectedness closes upward through the rel→rel graph before a
      subgraph-only closure recompute. The signature diff subsumes the
      published-table data diff (changed ids ∩ members), so no published
      scan happens at all. Falls back to **full** if churn exceeds the
      broadcast budget (at massive churn a clean rebuild wins anyway).
    - **full** (``"auto"`` fallback, or forced): membership markers
      recomputed in full — narrow ``(id, extract)`` tables, orders of
      magnitude smaller than the output materialization. Steps:

      1. *membership diff*: new vs previous checkpointed markers, both
         directions — ids whose (id, extract) membership changed;
      2. *data diff*: (id, version) pairs added to or redacted from the
         world vs the published table — ids whose output rows changed
         with membership intact;

      and it finishes by bootstrapping the index stages into the new
      checkpoint, so the NEXT tick takes the indexed path (migration is
      automatic: full seed → full first tick → indexed thereafter).

    Both paths share the tail:

    3. *pass 2 over affected ids only*: entity rows are joined against
       the affected-id set, then against the new markers;
    4. *one atomic commit per entity*: ``merge(merge_key=id,
       also_delete=affected_ids)`` — affected ids' old rows vanish,
       their recomputed rows land, untouched ids' rows ride along
       unrecomputed; history stays time-travelable.

    Precondition (the OSM history model): rows are immutable per
    ``(id, version)`` — an edit is always a NEW version. Both diffs
    compare (id, version) existence, so an in-place mutation of an
    existing version with membership intact would not be detected; no
    well-formed history contains one. The indexed path additionally
    requires the published head to be the one produced from
    ``prev_checkpoint_dir`` (the CLI/fetch contract) — a hand-edited
    published table needs ``marker_strategy="full"``.

    Returns per-entity ``{version, affected_ids, upserted_rows}`` plus
    ``marker_strategy`` (which path ran). The new markers + indexes are
    checkpointed under ``checkpoint_dir`` for the next increment.
    Equivalence with a from-scratch split is asserted in
    tests/test_incremental.py (both paths, randomized worlds).
    """
    from pyspark.sql import functions as F

    from .model import validate_history_compat
    from .plans.table import VersionedTable

    for name, df in (("nodes", nodes), ("ways", ways), ("relations", relations)):
        validate_history_compat(df, name, expect_history=True)

    n_buckets = n_buckets or int(
        spark.conf.get("spark.sql.shuffle.partitions", "32")
    )
    old_store = StageStore(
        spark, prev_checkpoint_dir, bucket_by=("id", n_buckets)
    )
    new_store = StageStore(spark, checkpoint_dir, bucket_by=("id", n_buckets))

    # --- signature-gated marker reuse -------------------------------------
    # World signatures ((id, version) multiset per entity — _world_sigs)
    # prove which entity worlds are byte-identical to the previous tick.
    # Marker dependencies: node markers ← node world only; way markers ←
    # way world + node markers; extra nodes ← way world + way markers
    # (+ node markers through membership); relation markers ← relation
    # world + node/way markers (+ rel→rel closure within the relation
    # world). An unchanged input set lets the stage be ADOPTED from the
    # previous checkpoint (driver-side file copy, zero Spark jobs)
    # instead of recomputed — the common daily-diff shape where a few
    # node edits leave every way/relation marker identical.
    sigs = _world_sigs(nodes, ways, relations)
    sigs["catalog"] = catalog.fingerprint()
    old_sigs = _read_world_sigs(old_store.root)
    _write_world_sigs(new_store.root, sigs)
    # a changed extract catalog invalidates EVERY checkpointed marker —
    # membership can change for ids whose world rows are byte-identical,
    # which no world signature can see — so reuse is gated on the
    # fingerprint first (old checkpoints without one never match: one
    # full rebuild re-stamps them)
    cat_same = sigs["catalog"] == old_sigs.get("catalog")
    nodes_same = cat_same and sigs["nodes"] == old_sigs.get("nodes")
    ways_same = cat_same and sigs["ways"] == old_sigs.get("ways")
    rels_same = cat_same and sigs["relations"] == old_sigs.get("relations")

    # --- indexed path: pass 1 in O(churn) ---------------------------------
    from .operators.incremental import (
        INDEX_STAGES,
        ChurnTooLarge,
        incremental_markers,
        save_index_stages,
    )

    indexed_ready = all(
        old_store.has(s) for s in MARKER_STAGES + INDEX_STAGES
    )
    if marker_strategy == "indexed" and not indexed_ready:
        raise ValueError(
            "marker_strategy='indexed' but the previous checkpoint lacks "
            "the index stages (seed with run_split(write_indexes=True) or "
            "run one 'auto' tick to bootstrap them)"
        )
    if marker_strategy == "indexed" and not cat_same:
        raise ValueError(
            "extract catalog changed since the previous checkpoint: an "
            "indexed tick diffs per-id world signatures, which cannot see "
            "membership changes caused by new geometry — run this tick "
            "with marker_strategy='auto' or 'full' to rebuild the markers"
        )
    inc = None
    if marker_strategy != "full" and indexed_ready and cat_same:
        try:
            inc = incremental_markers(
                spark, nodes, ways, relations, catalog,
                old_store, new_store,
                entity_same={
                    "nodes": nodes_same,
                    "ways": ways_same,
                    "relations": rels_same,
                },
            )
        except ChurnTooLarge:
            if marker_strategy == "indexed":
                raise
            inc = None  # massive churn: the full rebuild is the right plan
    if inc is not None:
        report = {"marker_strategy": "indexed"}

        def _entity_tick(entity: str, df: DataFrame) -> dict:
            t = VersionedTable(spark, f"{publish_dir}/{entity}")
            affected = inc["affected"][entity]
            n_aff = inc["n_affected"][entity]
            if n_aff == 0:
                return {
                    "version": (t.versions() or [None])[-1],
                    "affected_ids": 0,
                    "upserted_rows": 0,
                }
            new_m = _load_markers(new_store, entity)
            return _commit_affected(
                t, df, new_m, affected, n_aff, n_buckets, publish_strategy
            )

        # three disjoint table dirs — commit concurrently (guide §2.6);
        # the group pin below still lands strictly after all three
        ents = [("nodes", nodes), ("ways", ways), ("relations", relations)]
        report.update(
            zip(
                (e for e, _ in ents),
                run_concurrent(
                    lambda e=e, df=df: _entity_tick(e, df) for e, df in ents
                ),
            )
        )
        for f in inc["cleanup"]:
            f.unpersist()
        # pin the consistent set exactly as the full path does below
        from .plans.table import TableGroup

        vers = {
            e: report[e]["version"] for e in ("nodes", "ways", "relations")
        }
        report["group"] = (
            TableGroup(spark, publish_dir).pin(vers)
            if all(v is not None for v in vers.values())
            else None
        )
        report["checkpoints"] = new_store.manifest()
        return report

    _m = []

    def _membership():
        if not _m:
            _m.append(
                softcut_membership(nodes, ways, relations, catalog, persist=True)
            )
        return _m[0]

    if nodes_same and old_store.has("node_members"):
        new_store.adopt("node_members", old_store)
        node_flips = 0
    else:
        new_store.get_or_compute(
            "node_members", lambda: _membership().node_members
        )
        nm_new = new_store.load_plain("node_members")
        nm_old = old_store.load_plain("node_members")
        node_flips = (
            nm_new.join(nm_old, ["id", "extract"], "left_anti")
            .unionByName(nm_old.join(nm_new, ["id", "extract"], "left_anti"))
            .count()
        )

    ways_reused = (
        ways_same
        and node_flips == 0
        and old_store.has("way_members")
        and old_store.has("extra_nodes")
    )
    if ways_reused:
        new_store.adopt("way_members", old_store)
        new_store.adopt("extra_nodes", old_store)
    else:
        new_store.get_or_compute(
            "way_members", lambda: _membership().way_members
        )
        new_store.get_or_compute(
            "extra_nodes", lambda: _membership().extra_nodes
        )

    rels_reused = (
        rels_same
        and ways_reused  # implies node AND way markers identical
        and old_store.has("relation_members")
    )
    if rels_reused:
        new_store.adopt("relation_members", old_store)
    else:
        new_store.get_or_compute(
            "relation_members", lambda: _membership().relation_members
        )

    # entity-level full skip: markers identical AND world identical ⇒
    # output rows identical to what is already published — no diff jobs,
    # no commit. (nodes output joins node_members ∪ extra_nodes, so the
    # nodes skip also needs the extra-nodes stage to be adopted.)
    entity_unchanged = {
        "nodes": nodes_same and ways_reused,
        "ways": ways_reused,
        "relations": rels_reused,
    }

    def _marker_rows(store, entity):
        """Total checkpointed marker rows from _DONE metadata — O(1)
        driver-side, no job."""
        names = (
            ("node_members", "extra_nodes")
            if entity == "nodes"
            else (("way_members",) if entity == "ways" else ("relation_members",))
        )
        return sum(store._meta(n).get("rows", 0) for n in names)

    report = {"marker_strategy": "full"}

    def _entity_diff_commit(entity: str, df: DataFrame) -> dict:
        t = VersionedTable(spark, f"{publish_dir}/{entity}")
        if entity_unchanged[entity] or _marker_rows(
            new_store, entity
        ) == 0 == _marker_rows(old_store, entity):
            # provably unchanged (signature-adopted markers + identical
            # world), or no members before or after: the published head
            # already equals this entity's output — skip the whole diff
            # machinery (metadata decision, zero jobs)
            return {
                "version": (t.versions() or [None])[-1],
                "affected_ids": 0,
                "upserted_rows": 0,
            }
        new_m = _load_markers(new_store, entity)
        old_m = _load_markers(old_store, entity)
        # (1) membership diff, both directions, at (id, extract) grain
        flipped = (
            new_m.join(old_m, ["id", "extract"], "left_anti")
            .unionByName(old_m.join(new_m, ["id", "extract"], "left_anti"))
            .select("id")
        )
        # (2) data diff vs the published table at (id, version) grain —
        # restricted to CURRENT members: a nonmember id's versions can
        # never appear in the output, so comparing them against the
        # member-only published table would flag every nonmember forever
        # both diff inputs may carry duplicate (id, version) pairs (one
        # per extract) — anti-joins are duplicate-tolerant and the result
        # feeds affected's distinct(), so NO pre-distinct: at planet
        # scale each dropped distinct is a full shuffle of the table
        pub_versions = t.read().select("id", "version")
        world_versions = df.join(new_m, "id", "left_semi").select(
            "id", "version"
        )
        data_changed = (
            world_versions.join(pub_versions, ["id", "version"], "left_anti")
            .unionByName(
                pub_versions.join(
                    world_versions, ["id", "version"], "left_anti"
                )
            )
            .select("id")
        )
        # the affected-id set is consumed by three actions (its own
        # count, the pass-2 join, the commit's also_delete) and its
        # lineage re-runs every marker diff plus a published-table scan
        # per action — persist the tiny id set once instead
        affected = (
            flipped.unionByName(data_changed).distinct().persist()
        )
        n_aff = affected.count()  # materializes the persist
        if n_aff == 0:
            # nothing changed for this entity: no commit, the published
            # head stays the state of truth (a no-op tick costs the diff
            # jobs only)
            affected.unpersist()
            return {
                "version": (t.versions() or [None])[-1],
                "affected_ids": 0,
                "upserted_rows": 0,
            }
        out = _commit_affected(
            t, df, new_m, affected, n_aff, n_buckets, publish_strategy
        )
        affected.unpersist()
        return out

    # three disjoint table dirs — diff + commit concurrently (guide
    # §2.6); the index bootstrap and group pin land strictly after
    ents = [("nodes", nodes), ("ways", ways), ("relations", relations)]
    report.update(
        zip(
            (e for e, _ in ents),
            run_concurrent(
                lambda e=e, df=df: _entity_diff_commit(e, df)
                for e, df in ents
            ),
        )
    )
    # bootstrap the index stages into the new checkpoint so the NEXT tick
    # takes the indexed O(churn) path (idempotent; reuses the membership
    # build's persisted refs explode when it ran this tick)
    save_index_stages(
        new_store, nodes, ways, relations,
        way_refs=_m[0].way_refs if _m else None,
    )
    if _m:
        _m[0].unpersist()  # markers checkpointed; release pass-1 caches
    # every entity's commit (or provable no-op) landed: pin the set as
    # one consistent group snapshot (see _publish). An entity whose table
    # has NO committed version (possible only for an all-empty no-op
    # entity against a hand-built publish dir) has nothing to pin.
    from .plans.table import TableGroup

    vers = {e: report[e]["version"] for e in ("nodes", "ways", "relations")}
    report["group"] = (
        TableGroup(spark, publish_dir).pin(vers)
        if all(v is not None for v in vers.values())
        else None
    )
    report["checkpoints"] = new_store.manifest()
    return report


def _load_markers(store: StageStore, entity: str) -> DataFrame:
    """An entity's pass-2 marker table from a checkpoint store."""
    if entity == "nodes":
        # plain loads: a union of two bucketed scans + distinct is
        # planner-unsafe (checkpoint.load_plain docstring)
        return (
            store.load_plain("node_members")
            .unionByName(store.load_plain("extra_nodes"))
            .distinct()
        )
    # single-stage markers load BUCKETED (id): the pass-2-style joins
    # on id see the bucketing and skip the marker-side Exchange
    return store.load(
        "way_members" if entity == "ways" else "relation_members"
    )


def _commit_affected(
    t, df: DataFrame, new_m: DataFrame, affected: DataFrame,
    n_aff: int, n_buckets: int, publish_strategy: str,
) -> dict:
    """Steps (3)+(4) of ``incremental_resplit``, shared by both marker
    paths: pass 2 over the affected ids, one atomic delete-and-upsert
    commit."""
    from pyspark.sql import functions as F

    # (3) pass 2 over affected ids only; consumed twice (count + commit
    # write) — persist so the world is scanned once. The affected set is
    # the tiny side by construction (the churn): broadcast it so the
    # world scan never shuffles
    rows = (
        df.join(F.broadcast(affected), "id").join(new_m, "id").persist()
    )
    n_rows = rows.count()
    # (4) one atomic delete-and-upsert commit. Merge-on-read: the
    # commit writes ONLY the recomputed rows plus an equality-delete
    # key file for the affected ids — O(delta), never a rewrite of
    # the untouched 99% (plans/table.py; compact() folds the state
    # when read amplification matters more than commit latency)
    # layout of the delta: range-clustering matters for file-stats
    # pruning only once the delta spans multiple files — for small
    # deltas a single sorted file skips repartitionByRange's extra
    # sampling job
    nparts = min(n_buckets, n_rows // 500_000 + 1)
    if nparts == 1:
        clustered = rows.repartition(1).sortWithinPartitions(
            "extract", "id", "version"
        )
    else:
        clustered = rows.repartitionByRange(
            nparts, "extract", "id", "version"
        ).sortWithinPartitions("extract", "id", "version")
    version = t.commit(
        clustered,
        mode="merge",
        merge_key=["id"],
        also_delete=affected,
        stats_cols=["extract", "id"],
        strategy=publish_strategy,
    )
    rows.unpersist()
    return {
        "version": version,
        "affected_ids": n_aff,
        "upserted_rows": n_rows,
    }


def emit_osm_from_published(
    spark: SparkSession,
    publish_dir: str,
    catalog: ExtractCatalog,
    out_dir: str,
    extracts: list[str] | None = None,
    filenames: dict[str, str] | None = None,
    version: int | None = None,
    group_version: int | None = None,
) -> dict:
    """Reference-format file emission with the PUBLISHED tables as the
    source of truth — the refresh step after an incremental re-split
    (only the extracts whose rows changed need their `.osm/.osh[.pbf]`
    files rebuilt; pass them as ``extracts``). Time travel:
    ``group_version`` pins all three entity tables to one consistent
    published SET (the TableGroup pin a publish/CDC run records) — the
    right axis, since unchanged entities skip commits and per-table
    version numbers drift apart; ``version`` remains the raw per-table
    override. With neither, reads resolve through the LATEST group pin
    when one exists (never a half-published set), else per-table heads.

    The per-extract reads go through the table's stats pruning
    (``read(between=("extract", name, name))``) — on the
    (extract, id)-clustered layout ``_publish`` writes, each emission
    scans only that extract's files."""
    from pyspark.sql import functions as F

    from .plans.osm_writer import write_extracts_osm
    from .plans.table import TableGroup, VersionedTable

    names = extracts or [e.name for e in catalog]
    sub_catalog = ExtractCatalog([e for e in catalog if e.name in names])
    if len(sub_catalog) != len(names):
        missing = set(names) - {e.name for e in sub_catalog}
        raise ValueError(f"extracts not in catalog: {sorted(missing)}")

    if version is not None and group_version is not None:
        raise ValueError(
            "version= (raw per-table) and group_version= (consistent set) "
            "are mutually exclusive"
        )
    pinned: dict[str, int] = {}
    if version is None:
        g = TableGroup(spark, publish_dir)
        if g.versions() or group_version is not None:
            pinned = g.members(group_version)

    frames = {}
    for entity in ("nodes", "ways", "relations"):
        t = VersionedTable(spark, f"{publish_dir}/{entity}")
        v = pinned.get(entity, version)
        parts = [
            t.read(version=v, between=("extract", n, n)) for n in names
        ]
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        frames[entity] = df.withColumn(
            "extract", F.col("extract").cast("string")
        )
    return write_extracts_osm(
        frames["nodes"], frames["ways"], frames["relations"],
        sub_catalog, out_dir, filenames=filenames,
    )

if __name__ == "__main__":
    main()
