"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": ..., "value": <total sec>, "unit": "sec",
 "queries": {name: sec}, "sf": ..., "docs_per_sec": ...}

Headline = the web-pages softcut split (geotag extract → spatial join →
url-level membership): docs/sec over the pages table. The remaining timed
queries cover each operator family (membership DAG, hardcut clip, kNN,
LSH dedup, ANN, sessionize).
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from osm_history_splitter_spark import oracle_queries as oq  # noqa: E402
from osm_history_splitter_spark import text_queries as tq  # noqa: E402
from osm_history_splitter_spark.session import get_spark, session_defaults  # noqa: E402

BENCH_QUERIES = [
    "pages_split",
    "node_membership",
    "softcut_nodes_out",
    "relation_members",
    "hardcut_way_clip",
    "knn_centroid",
    "lsh_pairs",
    "ann_topk",
    "ivf_topk",
    "events_asof",
    "embedding_neardup",
    "sessionize",
    "chunk_dedup",
    "interval_counts",
    "corpus_clean",
    "pagerank",
    "kmeans",
    "zorder",
    "pack_sequences_bucketed",
    "mixture_sample",
    "domain_stats",
    "semdedup",
    "pii_scrub",
    "oov_rate",
    "neighbor_pairs",
    "spatial_clusters",
    "point_segment",
    "snap_segment",
    "host_cap",
    "bloom_decontaminate",
    "cms_counts",
    "hll_distinct",
    "graph_sssp",
    "ring_simple",
    "triangles",
    "hotspot_cells",
    "co_citation",
    "token_quantiles",
    "od_matrix",
    "mk_trend",
    "hilbert",
    "dwell_segments",
    "colocation",
    "hausdorff_pairs",
    "variogram",
    "trajectory_stats",
    "raster_gradient",
    "hexbin_assign",
    "kmv_distinct",
    "trending_terms",
    "kcore",
    "vocab_growth",
    "hits",
    "phrase_match",
    "pmi_bigrams",
]


def run(sf_dir: str, cores: int | None = None) -> dict:
    """Best-of-2 cold sessions: the sandbox host shows intermittent
    multi-second contention spikes (the same query measured 4.4s and 88.6s
    minutes apart on identical code), so a single cold pass is hostage to
    whether a spike lands inside it. Two fully independent SparkSessions
    run the whole suite; per-query minima are reported, with the per-query
    max kept in ``queries_hi`` so the spread stays visible."""
    a = _run_once(sf_dir, cores)
    b = _run_once(sf_dir, cores)
    lo = a if a["value"] <= b["value"] else b
    out = dict(lo)
    out["queries"] = {
        k: min(a["queries"][k], b["queries"][k]) for k in a["queries"]
    }
    out["queries_hi"] = {
        k: max(a["queries"][k], b["queries"][k]) for k in a["queries"]
    }
    out["queries_warm"] = {
        k: min(a["queries_warm"][k], b["queries_warm"][k])
        for k in a["queries_warm"]
    }
    out["value"] = round(sum(out["queries"].values()), 3)
    out["split_docs_per_sec"] = max(a["split_docs_per_sec"], b["split_docs_per_sec"])
    out["docs_per_sec"] = max(a["docs_per_sec"], b["docs_per_sec"])
    for k in (
        "xml_sink_elems_per_sec",
        "pbf_sink_elems_per_sec",
        "warc_sink_pages_per_sec",
        "warc_read_pages_per_sec",
    ):
        if k in a and k in b:
            out[k] = max(a[k], b[k])
    # CDC runs once (it is internally best-of-N already) in its own
    # session — its fat synthetic world should not share executor memory
    # with the suite's persisted markers
    spark = get_spark(
        "bench-cdc",
        cores=cores,
        extra_conf=(
            {"spark.local.dir": "/dev/shm/splitter_bench_local"}
            if os.path.isdir("/dev/shm")
            else None
        ),
    )
    spark.sparkContext.setLogLevel("ERROR")
    out.update(_cdc_speedup(spark, sf_dir))
    spark.stop()
    return out


def _run_once(sf_dir: str, cores: int | None = None) -> dict:
    # Shuffle on tmpfs, same methodology as tools/scaling.py (BENCH.md):
    # this VM has a single slow virtual disk whose throughput varies run to
    # run; a real cluster shuffles to executor-local NVMe. Queries stay
    # identical — only the scratch dir moves.
    shm = "/dev/shm/splitter_bench_local" if os.path.isdir("/dev/shm") else None
    spark = get_spark(
        "bench",
        cores=cores,
        extra_conf={"spark.local.dir": shm} if shm else None,
    )
    spark.sparkContext.setLogLevel("ERROR")
    allq = {}
    allq.update(oq.SPATIAL_QUERIES)
    allq.update(tq.TEXT_QUERIES)

    # warm the JVM, parquet footer caches, and the Python/Arrow UDF workers
    # (worker-pool startup otherwise lands inside the first timed query)
    spark.read.parquet(f"{sf_dir}/part.parquet").count()
    allq["pages_split"][0](spark, "/root/testdata/sf0.001").count()

    times: dict[str, float] = {}
    times_warm: dict[str, float] = {}
    rows: dict[str, int] = {}
    for name in BENCH_QUERIES:
        fn = allq[name][0]
        t0 = time.perf_counter()
        rows[name] = fn(spark, sf_dir).count()
        times[name] = round(time.perf_counter() - t0, 3)
        # warm re-run (persisted markers hot, codegen JIT'd): the number a
        # long-lived cluster sees; cold `queries` stays the headline for
        # round-over-round comparability
        t0 = time.perf_counter()
        fn(spark, sf_dir).count()
        times_warm[name] = round(time.perf_counter() - t0, 3)

    n_pages = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    docs_per_sec = round(n_pages / times["pages_split"], 1)

    # flagship-split throughput on a corpus big enough to amortize the
    # ~3.3 s stage-scheduling floor (BENCH.md): pages written once to
    # tmpfs (generation unmeasured), split measured warm (best of 2)
    split_thr, split_pages = _split_throughput(spark, sf_dir, n_pages)
    sink_thr = _sink_throughput(spark, sf_dir)
    sink_thr.update(_warc_throughput(spark, sf_dir))

    # cap-induced recall loss must be visible, not a silent unknown: the
    # hot-bucket caps in the LSH paths report what they dropped (counters
    # observed inside the timed runs above — no extra scan)
    cap_drops = {
        k: m
        for k in ("lsh_pairs", "embedding_neardup")
        if (m := tq.cap_drop_metrics(k)) is not None
    }

    total = round(sum(times.values()), 3)
    out = {
        "metric": "pages-split throughput + operator suite wall-clock",
        "value": total,
        "unit": "sec",
        "queries": times,
        "queries_warm": times_warm,
        "sf": sf_dir,
        "docs_per_sec": docs_per_sec,
        "split_docs_per_sec": split_thr,
        "split_pages": split_pages,
        "rows": rows,
        "cap_drops": cap_drops,
        **sink_thr,
        "cores": cores or session_defaults()[0],
    }
    spark.stop()
    if shm:
        import shutil

        shutil.rmtree(shm, ignore_errors=True)
    return out


def _sink_throughput(spark, sf_dir: str, replicate: int = 16) -> dict:
    """Reference-format sink throughput (elements/sec) on a ~640k-element
    two-extract world written to tmpfs: XML (Catalyst serialization +
    stream-concat) and PBF (executor-packed blobs). One timed emit each
    after a small warm write — sinks are one-shot jobs, not re-runnable
    queries, so this is a single honest wall per format."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from osm_history_splitter_spark.model import (
        RELATION_SCHEMA,
        WAY_SCHEMA,
    )
    from osm_history_splitter_spark.oracle_queries import part_nodes
    from osm_history_splitter_spark.plans.catalog import Extract, ExtractCatalog
    from osm_history_splitter_spark.plans.osm_writer import write_extracts_osm

    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    pts = part_nodes(spark, sf_dir)
    n_elems = pts.count() * replicate  # once, outside the timed region
    nodes = (
        pts.withColumn("rep", F.explode(F.sequence(F.lit(0), F.lit(replicate - 1))))
        .select(
            (F.col("id") * replicate + F.col("rep")).alias("id"),
            F.lit(1).alias("version"),
            F.lit(True).alias("visible"),
            F.to_timestamp(F.lit("2020-01-01 00:00:00")).alias("ts"),
            F.lit(7).cast("long").alias("uid"),
            F.col("id").alias("changeset"),
            F.lit("bench").alias("user"),
            "lat",
            "lon",
            F.create_map(F.lit("k"), F.col("id").cast("string")).alias("tags"),
            F.when(F.col("lon") < 0, "west").otherwise("east").alias("extract"),
        )
    )
    ways = spark.createDataFrame([], WAY_SCHEMA).withColumn(
        "extract", F.lit("west")
    )
    rels = spark.createDataFrame([], RELATION_SCHEMA).withColumn(
        "extract", F.lit("west")
    )
    cat = ExtractCatalog(
        [
            Extract.bbox("west", -180.0, -90.0, 0.0, 90.0),
            Extract.bbox("east", 0.0, -90.0, 180.0, 90.0),
        ]
    )
    out = {}
    for fmt, suffix in (("xml", ".osh"), ("pbf", ".osh.pbf")):
        tmp = tempfile.mkdtemp(prefix=f"bench_sink_{fmt}_", dir=base)
        try:
            fn = {e.name: f"{e.name}{suffix}" for e in cat}
            t0 = time.perf_counter()
            write_extracts_osm(nodes, ways, rels, cat, tmp, filenames=fn)
            out[f"{fmt}_sink_elems_per_sec"] = round(
                n_elems / (time.perf_counter() - t0), 1
            )
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    return out


def _warc_throughput(spark, sf_dir: str, replicate: int = 16) -> dict:
    """WARC container sink + source throughput (pages/sec) on a
    replicated synthetic crawl written to tmpfs: one timed distributed
    write (gzip member per record + index sidecars) and one timed
    index-split read back."""
    import shutil
    import tempfile

    from osm_history_splitter_spark.sources.pages import synth_pages
    from osm_history_splitter_spark.sources.warc import read_warc, write_warc

    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    pages = synth_pages(spark, sf_dir, replicate=replicate, partitions=16)
    n = pages.count()  # outside the timed region
    tmp = tempfile.mkdtemp(prefix="bench_warc_", dir=base)
    try:
        t0 = time.perf_counter()
        write_warc(pages, tmp, partitions=16, wet=False)
        w = round(n / (time.perf_counter() - t0), 1)
        t0 = time.perf_counter()
        got = read_warc(spark, tmp).count()
        r = round(got / (time.perf_counter() - t0), 1)
        assert got == n, f"warc roundtrip row loss: {got} != {n}"
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return {
        "warc_sink_pages_per_sec": w,
        "warc_read_pages_per_sec": r,
    }


_CDC_PATHS = ("full", "inc", "idx", "stf", "sti")


def _cdc_speedup(
    spark,
    sf_dir: str,
    replicate: int = 16,
    churn_mod: int = 100,
    paths: tuple = _CDC_PATHS,
) -> dict:
    """Incremental re-split (CDC) vs from-scratch at ~1% churn — the
    headline CDC number. A replicated entity world (part→nodes with a
    ~2 KB tag payload, orders→ways) is split+published once; then the
    world gains v2 rows for 1% of node ids and BOTH paths process the
    new dump: a full run_split publishing to a fresh table vs
    incremental_resplit against the previous checkpoint+table. Same
    input, same output state (equivalence is pytest-certified in
    tests/test_incremental.py); only the wall differs.

    World shape matters for what this measures: real OSM rows carry fat
    tag dicts, so pass-2 materialization + output/publish writes (what
    CDC skips for the untouched 99%) dominate the narrow marker/diff
    joins (what CDC must still pay). A thin-payload world would instead
    measure fixed per-job overheads, which CDC cannot beat."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from osm_history_splitter_spark.model import RELATION_SCHEMA
    from osm_history_splitter_spark.oracle_queries import order_ways, part_nodes
    from osm_history_splitter_spark.plans.catalog import Extract, ExtractCatalog
    from osm_history_splitter_spark.splitter import (
        incremental_resplit,
        run_split,
    )

    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    work = tempfile.mkdtemp(prefix="bench_cdc_", dir=base)

    def entity_cols(idc):
        return [
            F.lit(1).alias("version"),
            F.lit(True).alias("visible"),
            F.to_timestamp(F.lit("2020-01-01 00:00:00")).alias("ts"),
            F.lit(7).cast("long").alias("uid"),
            idc.alias("changeset"),
            F.lit("bench").alias("user"),
        ]

    def worlds():
        """Synthesize the two dump states and WRITE them to tmpfs
        parquet — both timed paths then read a real source (a lazy
        synthetic lineage would be re-generated on every action,
        charging world synthesis to whichever path runs more jobs)."""
        pts = part_nodes(spark, sf_dir).withColumn(
            "rep", F.explode(F.sequence(F.lit(0), F.lit(replicate - 1)))
        )
        idc = F.col("id") * replicate + F.col("rep")
        # ~2 KB incompressible payload per node (64 chained md5 hexes):
        # repeated/constant strings would dictionary-compress to nothing
        # and understate the materialization cost CDC avoids
        payload = F.concat_ws(
            "",
            F.transform(
                F.sequence(F.lit(1), F.lit(64)),
                lambda k: F.md5(
                    F.concat(idc.cast("string"), F.lit("#"), k.cast("string"))
                ),
            ),
        )
        nodes1 = pts.select(
            idc.alias("id"), *entity_cols(idc), "lat", "lon",
            F.create_map(F.lit("payload"), payload).alias("tags"),
        )
        # 1% churn, two flavors: nodes2 nudges positions (some cross
        # extract boundaries -> marker flips -> way markers must
        # recompute); nodes3 is tag-only churn (new version, same
        # geometry -- the most common OSM edit) where the signature gate
        # adopts every way/relation marker stage wholesale
        upd = nodes1.filter(F.col("id") % churn_mod == 0).withColumn(
            "version", F.lit(2)
        )
        nodes2 = nodes1.unionByName(upd.withColumn("lat", F.col("lat") + 0.001))
        nodes3 = nodes1.unionByName(upd)
        # ways replicate 8x less than nodes: the marker stages (which
        # both paths pay in full) scale with ways/refs, the payload
        # savings scale with nodes — keep the node-heavy realistic ratio
        wrep = max(1, replicate // 8)
        w = order_ways(spark, sf_dir).withColumn(
            "rep", F.explode(F.sequence(F.lit(0), F.lit(wrep - 1)))
        )
        widc = F.col("id") * replicate + F.col("rep")
        ways = w.select(
            widc.alias("id"), *entity_cols(widc),
            F.transform(
                "refs", lambda r: r * replicate + F.col("rep")
            ).alias("refs"),
            F.create_map(F.lit("hw"), F.lit("road")).alias("tags"),
        )
        rels = spark.createDataFrame([], RELATION_SCHEMA)
        out = []
        for name, frame in (
            ("nodes1", nodes1), ("nodes2", nodes2), ("nodes3", nodes3),
            ("ways", ways),
        ):
            frame.write.mode("overwrite").parquet(f"{work}/world/{name}")
            out.append(spark.read.parquet(f"{work}/world/{name}"))
        return (*out, rels)

    nodes1, nodes2, nodes3, ways, rels = worlds()
    cat = ExtractCatalog(
        [
            Extract.bbox("west", -180.0, -90.0, 0.0, 90.0),
            Extract.bbox("east", 0.0, -90.0, 180.0, 90.0),
            Extract.bbox("north", -180.0, 0.0, 180.0, 90.0),
            Extract.bbox("tropics", -180.0, -23.5, 180.0, 23.5),
        ]
    )
    repeats = int(os.environ.get("SPARK_GRAFT_CDC_REPEAT", "2"))
    try:
        # tick 1 (setup, untimed): full split + publish + checkpoints,
        # seeded with the CDC index stages (the fetch service's shape) so
        # the indexed ticks below have a previous tick to diff against
        run_split(
            spark, nodes1, ways, rels, cat, f"{work}/o1", mode="softcut",
            checkpoint_dir=f"{work}/ck1", publish_table=f"{work}/pub",
            write_indexes=True,
        )

        # best-of-N per path (single-window walls swing ±2-5x under VM
        # steal — BENCH.md "Suite-bench noise"); each incremental run
        # gets its OWN copy of the published tables + checkpoints (the
        # CDC commit advances the head, a re-run against it would no-op)
        def tick(world, i, tag, strategy):
            shutil.copytree(f"{work}/pub", f"{work}/pub_{tag}{i}")
            t0 = time.perf_counter()
            incremental_resplit(
                spark, world, ways, rels, cat, f"{work}/pub_{tag}{i}",
                f"{work}/ck1", f"{work}/ck2{tag}_{i}",
                marker_strategy=strategy,
            )
            return time.perf_counter() - t0

        walls = {k: [] for k in paths}
        for i in range(repeats):
            if "full" in walls:
                t0 = time.perf_counter()
                run_split(
                    spark, nodes2, ways, rels, cat, f"{work}/o2_{i}",
                    mode="softcut", checkpoint_dir=f"{work}/ck2full_{i}",
                    publish_table=f"{work}/pub_full_{i}",
                )
                walls["full"].append(time.perf_counter() - t0)
            # geometry churn, both marker paths: full recompute (plus its
            # index bootstrap — the migration cost a real tick pays) vs
            # the indexed O(churn) pass 1 (operators/incremental.py)
            if "inc" in walls:
                walls["inc"].append(tick(nodes2, i, "f", "full"))
            if "idx" in walls:
                walls["idx"].append(tick(nodes2, i, "x", "indexed"))
            # tag-only churn (the most common OSM edit): the signature
            # gate adopts every way/relation stage in BOTH paths; the
            # paths differ only in the node-marker rebuild (full PIP vs
            # PIP over the churned ids)
            if "stf" in walls:
                walls["stf"].append(tick(nodes3, i, "sf", "full"))
            if "sti" in walls:
                walls["sti"].append(tick(nodes3, i, "sx", "indexed"))
        best = {k: min(v) for k, v in walls.items()}
        names = {
            "full": "cdc_full_sec",
            "inc": "cdc_incremental_sec",
            "idx": "cdc_indexed_sec",
            "stf": "cdc_stable_incremental_sec",
            "sti": "cdc_stable_indexed_sec",
        }
        speedups = {
            "inc": "incremental_speedup",
            "idx": "indexed_speedup",
            "stf": "stable_incremental_speedup",
            "sti": "stable_indexed_speedup",
        }
        out = {names[k]: round(best[k], 2) for k in best}
        if "full" in best:
            for k, name in speedups.items():
                if k in best:
                    out[name] = round(best["full"] / best[k], 2)
        return out
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _split_throughput(
    spark, sf_dir: str, n_docs: int, replicate: int = 512
) -> tuple[float, int]:
    """Warm flagship-split docs/sec over a ×replicate fanned corpus
    (2.56M pages at sf0.1's 5000 docs) read from tmpfs parquet — the
    measured job is the split, not the synthesizer (methodology:
    BENCH.md). ``n_docs`` is the caller's already-counted base-corpus
    size, so the figure stays honest for any SPARK_GRAFT_SF_DIR."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from osm_history_splitter_spark.functions.geotags import extract_geotags
    from osm_history_splitter_spark.operators.spatial_join import assign_extracts
    from osm_history_splitter_spark.sources.pages import synth_pages

    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    tmp = tempfile.mkdtemp(prefix="bench_pages_", dir=base)
    try:
        path = f"{tmp}/pages"
        synth_pages(
            spark, sf_dir, replicate=replicate, partitions=32
        ).write.parquet(path)
        n_pages = n_docs * replicate

        def job():
            pages = spark.read.parquet(path)
            pts = pages.select(
                "url", F.explode(extract_geotags(F.col("text"))).alias("g")
            ).select(
                "url", F.col("g.lat").alias("lat"), F.col("g.lon").alias("lon")
            )
            members = assign_extracts(pts, oq.catalog()).select(
                "url", "extract"
            ).distinct()
            return pages.join(members, "url").count()

        job()  # warm: JIT + codegen + footers
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            job()
            best = min(best, time.perf_counter() - t0)
        return round(n_pages / best, 1), n_pages
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    print(json.dumps(run(sf_dir)))
