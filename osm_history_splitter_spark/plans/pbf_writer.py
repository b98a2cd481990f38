"""Distributed `.osm.pbf` / `.osh.pbf` extract sink over the from-scratch
codec in ``sources/pbf.py`` — closing the reference's last output format
(``cut.hpp:73-74`` + ``README.md:80``; the reference writes PBF through
osmium, this engine through its own wire encoder).

Same scalable shape as the XML sink (``plans/osm_writer.py``), adapted
to a binary container:

1. per entity kind, rows are range-partitioned and sorted by
   (extract, id, version); executors pack each run of ≤ ``BLOCK_ROWS``
   same-extract rows into one PrimitiveBlock blob (string table local to
   the block, per spec) via Arrow ``mapInPandas`` — the payload never
   visits the driver unassembled;
2. fragments land in a per-kind parquet staging table
   (``_pbf_fragments/<kind>/extract=<name>/``) keyed by (pid, seq) —
   ``spark_partition_id`` is captured AFTER the range partition, so
   (pid, seq) reproduces the kind's global sort order. The three kind
   passes write disjoint directories, so they run as concurrent jobs;
3. the driver streams header-blob + each extract's fragment blobs —
   nodes, then ways, then relations, each in (pid, seq) order — into the
   final file (pyarrow reads of the staged files, bounded memory). PBF
   blobs are self-contained, so byte concatenation of blobs IS a valid
   file, exactly like the multi-member gzip trick in the XML sink.
"""

from __future__ import annotations

from pathlib import Path

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import run_concurrent
from ..sources.pbf import (
    KINDS,
    encode_data_blob,
    encode_dense_nodes_blob,
    encode_header_blob,
)

__all__ = ["write_extracts_pbf", "BLOCK_ROWS"]

#: elements per PrimitiveBlock (spec recommendation: ~8000)
BLOCK_ROWS = 8000

_KIND_COLS = {
    "node": ["id", "version", "visible", "ts", "uid", "changeset", "user",
             "lat", "lon", "tags"],
    "way": ["id", "version", "visible", "ts", "uid", "changeset", "user",
            "refs", "tags"],
    "relation": ["id", "version", "visible", "ts", "uid", "changeset",
                 "user", "members", "tags"],
}


def _cell(v):
    """Arrow→python scalar: NaN/NaT→None; arrays/lists/dicts pass
    through (Arrow hands array columns to pandas as numpy arrays)."""
    import numpy as np

    if isinstance(v, (list, dict, tuple, np.ndarray)):
        return v
    if v is None or pd.isnull(v):
        return None
    return v


def _to_row(kind: str, t) -> tuple:
    """mapInPandas itertuple → model-schema tuple the codec consumes."""
    base = (
        int(t.id), int(t.version),
        None if _cell(t.visible) is None else bool(t.visible),
        None if _cell(t.ts) is None else t.ts.to_pydatetime(),
        None if _cell(t.uid) is None else int(t.uid),
        None if _cell(t.changeset) is None else int(t.changeset),
        _cell(t.user),
    )
    tags = _cell(t.tags)
    tags = dict(tags) if tags is not None else {}
    if kind == "node":
        lat, lon = _cell(t.lat), _cell(t.lon)
        return base + (
            None if lat is None else float(lat),
            None if lon is None else float(lon),
            tags,
        )
    if kind == "way":
        refs = _cell(t.refs)
        return base + (
            [int(r) for r in refs] if refs is not None else [], tags
        )
    members = _cell(t.members)
    return base + (
        [
            (m["type"], int(m["ref"]), m["role"] or "")
            for m in (members if members is not None else [])
        ],
        tags,
    )


def _make_packer(kind: str):
    """Partition function: pack sorted same-extract runs into blobs.
    Emits (extract, pid, seq, blob); seq restarts per partition and
    together with pid reproduces the global order."""

    def packer(batches):
        seq = 0
        pid = None
        cur = None
        buf: list[tuple] = []
        pend = []

        def flush():
            nonlocal seq, buf
            if buf:
                blob = None
                if kind == "node":
                    # DenseNodes fast path (numpy-packed, ~4.6× the
                    # per-message encoder); blocks with null metadata or
                    # deleted positions fall back to plain nodes, which
                    # preserve nulls exactly
                    blob = encode_dense_nodes_blob(buf)
                if blob is None:
                    blob = encode_data_blob(**{f"{kind}_rows": buf})
                pend.append((cur, pid, seq, blob))
                seq += 1
                buf = []

        for pdf in batches:
            for t in pdf.itertuples(index=False):
                if pid is None:
                    pid = int(t.pid)
                if t.extract != cur or len(buf) >= BLOCK_ROWS:
                    flush()
                    cur = t.extract
                buf.append(_to_row(kind, t))
            if pend:
                yield pd.DataFrame(
                    pend, columns=["extract", "pid", "seq", "blob"]
                )
                pend = []
        flush()
        if pend:
            yield pd.DataFrame(pend, columns=["extract", "pid", "seq", "blob"])

    return packer


def write_extracts_pbf(
    nodes: DataFrame,
    ways: DataFrame,
    relations: DataFrame,
    catalog,
    out_dir: str,
    filenames: dict[str, str] | None = None,
    partitions: int | None = None,
    history: bool = True,
) -> dict[str, str]:
    """Emit each extract as ONE ``.os[mh].pbf`` file; returns
    ``{extract: path}``. See module docstring for the plan shape."""
    spark = nodes.sparkSession
    # same UTC guard as the XML entry point (write_extracts_osm): the
    # encoders stamp epoch millis assuming naive==UTC, and this function
    # is public API callable without going through that dispatcher
    tz = spark.conf.get("spark.sql.session.timeZone", "")
    if tz not in ("UTC", "Etc/UTC", "GMT", "+00:00", "Z"):
        raise ValueError(
            f"OSM sinks require spark.sql.session.timeZone=UTC (got {tz!r});"
            " session.get_spark pins it — set it on custom sessions"
        )
    ext = "osh" if history else "osm"
    filenames = {
        **{e.name: f"{e.name}.{ext}.pbf" for e in catalog},
        **(filenames or {}),
    }
    n = partitions or int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    stage = Path(out_dir) / "_pbf_fragments"
    # a retried run must not inherit a crashed run's fragments
    import shutil

    shutil.rmtree(stage, ignore_errors=True)

    def stage_kind(kind: str, df: DataFrame) -> None:
        cols = _KIND_COLS[kind]
        staged = (
            df.select("extract", *cols)
            .repartitionByRange(n, "extract", "id", "version")
            .sortWithinPartitions("extract", "id", "version")
            .withColumn("pid", F.spark_partition_id())
            .mapInPandas(
                _make_packer(kind),
                schema="extract string, pid int, seq long, blob binary",
            )
        )
        # one directory per kind, partitioned by extract so each final
        # assembly read scans ONLY its own extract's fragment files (E
        # small reads, not E full scans of the whole staging table)
        staged.write.partitionBy("extract").parquet(str(stage / kind))

    # the kind passes write disjoint directories: run them concurrently
    # so their short jobs overlap instead of queueing
    run_concurrent(
        lambda kind=kind, df=df: stage_kind(kind, df)
        for kind, df in zip(KINDS, (nodes, ways, relations))
    )

    # final assembly: ONE file per extract is the format contract, so a
    # driver-side concat must happen somewhere. The staging tables are
    # partitioned by extract on a filesystem the driver can read, so the
    # driver streams each extract's fragment parquet directly with
    # pyarrow — no per-extract Spark job, and the blobs never cross the
    # py4j socket row-by-row (the previous orderBy → toLocalIterator
    # tail serialized every output byte through task-result transport).
    # Partition dir values are Hive/URL-escaped on disk (the
    # plans/io.py convention) — resolve by unquoting the written dirs.
    from urllib.parse import unquote

    import pyarrow.parquet as pa_pq

    frag_dirs = {
        kind: {
            unquote(d.name.split("=", 1)[1]): d
            for d in (stage / kind).glob("extract=*")
            if d.is_dir()
        }
        for kind in KINDS
    }

    def _ordered_fragment_files(frag_dir: Path) -> list[Path]:
        # each staged part-file is one task's output: exactly one pid,
        # rows already in seq order — so ordering FILES by their first
        # row's key reproduces the kind's global (pid, seq) order
        # without materializing anything
        keyed = []
        for f in sorted(frag_dir.rglob("*.parquet")):
            pf = pa_pq.ParquetFile(str(f))
            if pf.metadata.num_rows == 0:
                continue
            first = next(pf.iter_batches(batch_size=1, columns=["pid", "seq"]))
            keyed.append(
                ((first["pid"][0].as_py(), first["seq"][0].as_py()), f)
            )
        keyed.sort()
        return [f for _, f in keyed]

    out_paths: dict[str, str] = {}
    for e in catalog:
        out_file = Path(out_dir) / filenames[e.name]
        out_file.parent.mkdir(parents=True, exist_ok=True)
        with open(out_file, "wb") as out:
            out.write(
                encode_header_blob(
                    (e.minlon, e.minlat, e.maxlon, e.maxlat), history=history
                )
            )
            # nodes, then ways, then relations (the spec's element order)
            frag_files = [
                f
                for kind in KINDS
                if e.name in frag_dirs[kind]
                for f in _ordered_fragment_files(frag_dirs[kind][e.name])
            ]
            for f in frag_files:
                pf = pa_pq.ParquetFile(str(f))
                # blobs are ~16 MB blocks: stream small batches so driver
                # memory stays bounded by a few blocks, as before
                for batch in pf.iter_batches(columns=["blob"], batch_size=8):
                    for blob in batch.column(0):
                        out.write(blob.as_py())
        out_paths[e.name] = str(out_file)

    shutil.rmtree(stage, ignore_errors=True)
    return out_paths
