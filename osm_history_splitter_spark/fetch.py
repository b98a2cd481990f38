"""Planet-fetch-and-split orchestration — the engine's analog of the
reference's cron driver (``tools/fetch-and-split.php``): discover the
newest full-history dump on a planet mirror, skip when local extracts are
already built from it, fetch + md5-verify, split per config, then flip a
``latest`` stamp/symlink. Cron-safe and idempotent like the original
(re-runs are no-ops until the mirror publishes a new dump).

Differences from the reference, by design:

- the reference shells out to wget + the C++ splitter binary
  (``fetch-and-split.php:57,114``); here the fetch is ``urllib`` (any
  scheme it supports — ``https://`` in production, ``file://`` in
  tests) and the split is :func:`run_split` in-process;
- the reference downloads ``.osm.pbf`` and symlinks it to ``.osh``; this
  engine ingests ``.osh`` XML (``sources/ingest.py``, byte-range
  splittable) or pre-converted parquet entity tables — ``world_loader``
  decides, so a PBF→parquet conversion step can slot in without
  touching the orchestration;
- no hard-coded e-mail side channel; callers watch the returned report.
"""

from __future__ import annotations

import hashlib
import json
import re
import urllib.request
from pathlib import Path

__all__ = ["discover_newest", "fetch_verified", "fetch_and_split"]

#: superset of the reference's discovery regex (fetch-and-split.php:15
#: matches only ``.osm.pbf``): same stem rule, plus the XML dump forms
#: this engine also ingests — a planet.osm.org listing resolves to the
#: identical file
_DUMP_RE = re.compile(r"history-([^.]+)\.osm\.(pbf|xml|osh)")


def discover_newest(index_html: str) -> tuple[str, str]:
    """First dump name in a modification-sorted mirror listing →
    ``(filename, date_stamp)``. The mirror is asked for newest-first
    order (``?C=M;O=D``), so the first match wins — same contract as the
    reference."""
    m = _DUMP_RE.search(index_html)
    if not m:
        raise ValueError("no history dump found in mirror listing")
    return m.group(0), m.group(1)


def _read_url(url: str) -> bytes:
    with urllib.request.urlopen(url) as r:  # noqa: S310 - scheme chosen by caller
        return r.read()


def fetch_verified(base_url: str, remote: str, dest_dir: Path) -> Path:
    """Download ``remote`` and its ``.md5`` sidecar into ``dest_dir``,
    skipping the transfer when the file already exists (wget -nc), and
    verify the checksum — a corrupt transfer deletes the local file and
    raises, so the cron retry re-fetches.

    Both the download and the hash are STREAMED in 1 MiB chunks: a
    planet full-history dump is ~100 GB and must never be buffered in
    driver memory. A partial download from a killed run lands under a
    ``.part`` name and is re-fetched, never md5-checked as final."""
    import shutil

    dest_dir.mkdir(parents=True, exist_ok=True)
    local = dest_dir / remote
    if not local.exists():
        part = dest_dir / f"{remote}.part"
        with urllib.request.urlopen(f"{base_url}/{remote}") as r, open(  # noqa: S310
            part, "wb"
        ) as out:
            shutil.copyfileobj(r, out, length=1 << 20)
        part.rename(local)
    md5_line = _read_url(f"{base_url}/{remote}.md5").decode()
    want = md5_line.split()[0]
    h = hashlib.md5()
    with open(local, "rb") as f:
        while chunk := f.read(1 << 20):
            h.update(chunk)
    got = h.hexdigest()
    if got != want:
        local.unlink()
        raise ValueError(f"md5 mismatch for {remote}: {got} != {want}")
    return local


def fetch_and_split(
    spark,
    base_url: str,
    work_dir: str,
    world_loader,
    configs: list[str] | None = None,
    mode: str = "softcut",
    emit_osm: bool = False,
    incremental: bool = False,
    compact_after: int = 8,
) -> dict:
    """One cron tick. Returns a report dict; ``{"skipped": True}`` when
    the newest mirror dump already matches the local stamp.

    ``world_loader(spark, dump_path) -> (nodes, ways, relations)``
    adapts the downloaded dump to entity DataFrames (XML ingest,
    parquet read, or a PBF conversion). ``configs`` are split-config
    paths (default: every ``*.conf``/``*.config`` in ``work_dir``),
    each split into ``<work_dir>/extracts/<date>/<config-stem>/``.

    ``incremental=True`` turns the service into a CONTINUOUS one: the
    first tick runs a full split publishing to
    ``<work_dir>/published/<config-stem>/``; every later tick diffs the
    new dump against the previous tick's marker checkpoint and the
    published tables (``splitter.incremental_resplit``) — only ids the
    dump changed are recomputed and committed, and every dump's state
    stays time-travelable in the published tables. Softcut only.
    """
    from .sources.config import parse_config, parse_config_dests
    from .splitter import incremental_resplit, run_split

    work = Path(work_dir)
    extracts = work / "extracts"
    extracts.mkdir(parents=True, exist_ok=True)

    listing = _read_url(f"{base_url}/?C=M;O=D").decode()
    remote, date = discover_newest(listing)

    stamp_file = extracts / "latest-stamp"
    if stamp_file.exists() and stamp_file.read_text().strip() == date:
        return {"skipped": True, "date": date, "remote": remote}

    dump = fetch_verified(base_url, remote, work / "full-history")
    nodes, ways, relations = world_loader(spark, str(dump))

    cfg_paths = [Path(c) for c in configs] if configs else sorted(
        list(work.glob("*.conf")) + list(work.glob("*.config"))
    )
    if not cfg_paths:
        raise ValueError(f"no split configs given or found in {work_dir}")

    prev_date = (
        stamp_file.read_text().strip() if stamp_file.exists() else None
    )
    report = {"skipped": False, "date": date, "remote": remote, "splits": {}}
    for cfg in cfg_paths:
        catalog = parse_config(cfg)
        out = extracts / date / cfg.stem
        pub = work / "published" / cfg.stem
        prev_ck = (
            extracts / prev_date / cfg.stem / "_checkpoints"
            if prev_date
            else None
        )
        if incremental and prev_ck is not None and prev_ck.exists():
            if mode != "softcut":
                raise ValueError("incremental fetch requires softcut")
            manifest = incremental_resplit(
                spark, nodes, ways, relations, catalog,
                str(pub), str(prev_ck), str(out / "_checkpoints"),
            )
            report["splits"][cfg.stem] = {
                e: manifest[e]["upserted_rows"]
                for e in ("nodes", "ways", "relations")
            }
            report.setdefault("incremental", {})[cfg.stem] = {
                e: manifest[e]["affected_ids"]
                for e in ("nodes", "ways", "relations")
            }
            # bound merge-on-read read amplification: each CDC commit
            # adds an equality-delete that every later read must
            # anti-join; once a table accumulates `compact_after` delete
            # entries, fold them into a clean snapshot (history stays
            # time-travelable; see plans/table.py compact)
            if compact_after:
                from .splitter import compact_published

                done = compact_published(spark, str(pub), compact_after)
                if done:
                    report.setdefault("compacted", {})[cfg.stem] = done
            if emit_osm:
                # keep the reference-format files in step with the
                # published tables: CDC tracks changes per id, not per
                # extract, so any change refreshes every dest of this
                # config from the freshly-committed tables (scan-only —
                # stats-pruned per-extract reads, no re-split). A no-op
                # tick rebuilds nothing.
                from .splitter import emit_osm_from_published

                affected = sum(
                    manifest[e]["affected_ids"]
                    for e in ("nodes", "ways", "relations")
                )
                if affected > 0:
                    paths = emit_osm_from_published(
                        spark, str(pub), catalog, str(out / "osm"),
                        filenames=parse_config_dests(cfg),
                    )
                    report.setdefault("emitted", {})[cfg.stem] = sorted(
                        paths
                    )
        else:
            manifest = run_split(
                spark, nodes, ways, relations, catalog, str(out), mode=mode,
                checkpoint_dir=str(out / "_checkpoints"),
                osm_filenames=parse_config_dests(cfg) if emit_osm else None,
                publish_table=str(pub) if incremental else None,
                # seed the CDC index stages so the very FIRST incremental
                # tick already diffs in O(churn) (operators/incremental.py)
                write_indexes=incremental and mode == "softcut",
            )
            report["splits"][cfg.stem] = {
                k: manifest[k]["rows"]
                for k in ("nodes", "ways", "relations")
                if isinstance(manifest.get(k), dict) and "rows" in manifest[k]
            }
        out.mkdir(parents=True, exist_ok=True)
        (out / "_manifest.json").write_text(json.dumps(manifest, default=str))
    # release this tick's world: a loader that caches its decode
    # (sources.pbf.load_pbf_dataframes) frees it with the last frame
    del nodes, ways, relations

    # flip the stamp + symlink LAST — a crashed run re-splits next tick
    stamp_file.write_text(date)
    latest = extracts / "latest"
    if latest.is_symlink() or latest.exists():
        latest.unlink()
    latest.symlink_to(date)
    # drop superseded dumps (each is ~100 GB planet-scale; the reference
    # cron driver removes them too) — only after the stamp flip, so a
    # crashed tick can still resume from the dump it was processing
    for old in sorted((work / "full-history").iterdir()):
        if old.name not in (dump.name, f"{dump.name}.md5") and (
            old.suffix != ".part"
        ):
            old.unlink()
            report.setdefault("pruned_dumps", []).append(old.name)
    return report
