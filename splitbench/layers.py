"""Per-layer metrics of a traced run.

The traced run wraps the public functions in ``TARGETS``; each wrapped
call is a span and runs its Spark jobs under its own job group. A span's
layer is ``LAYER_OF[span name]``. Spark is lazy, so a layer's jobs are the
jobs its calls *trigger*: pass-1 marker work runs inside
``StageStore.save`` (``plans.checkpoint``), pass-2 joins inside
``write_extracts`` (``plans.io``), and the whole pages pipeline inside
``write_warc``. Jobs started outside every span (world signatures,
read-backs between sinks) belong to ``splitter.untraced``.

For each layer and timed iteration: ``s`` is the wall time the layer was
running its own code (its spans minus their child spans, overlapping
spans counted once), and the event-log fold gives ``jobs``, ``tasks``,
``cpu_s`` (executor CPU), ``shuffle_mb`` (written), ``spill_mb`` and
``task_skew`` (max over median task run time). Values are medians over
the timed iterations. The readers build lazy frames, so the ``sources.*``
layers are measured by one standalone full scan of each reader after the
timed iterations.
"""

from __future__ import annotations

import json
import statistics

from tracing import fold_jobs

PKG = "osm_history_splitter_spark"
TARGETS = [
    (f"{PKG}.sources.pbf", "read_pbf_elements"),
    (f"{PKG}.sources.ingest", "read_osm_elements"),
    (f"{PKG}.sources.warc", "read_pages"),
    (f"{PKG}.sources.warc", "write_warc"),
    (f"{PKG}.operators.spatial_join", "assign_extracts"),
    (f"{PKG}.operators.softcut", "softcut_membership"),
    (f"{PKG}.operators.hardcut", "hardcut"),
    (f"{PKG}.plans.checkpoint", "StageStore.save"),
    (f"{PKG}.splitter", "pass2_outputs"),
    (f"{PKG}.plans.io", "write_extracts"),
    (f"{PKG}.plans.osm_writer", "write_extracts_osm"),
    (f"{PKG}.plans.pbf_writer", "write_extracts_pbf"),
]
LAYER_OF = {
    "pbf.read_pbf_elements": "sources.pbf",
    "ingest.read_osm_elements": "sources.ingest",
    "warc.read_pages": "sources.warc",
    "warc.write_warc": "sources.warc",
    "spatial_join.assign_extracts": "operators.spatial_join",
    "softcut.softcut_membership": "operators.softcut",
    "hardcut.hardcut": "operators.hardcut",
    "checkpoint.StageStore.save": "plans.checkpoint",
    "splitter.pass2_outputs": "splitter.pass2",
    "io.write_extracts": "plans.io",
    "osm_writer.write_extracts_osm": "plans.osm_writer",
    "pbf_writer.write_extracts_pbf": "plans.pbf_writer",
}
READ_LAYERS = ("sources.pbf", "sources.ingest", "sources.warc")
JOB_LAYERS = ("operators.spatial_join", "operators.softcut",
              "operators.hardcut", "plans.checkpoint", "splitter.pass2",
              "plans.io", "plans.pbf_writer", "plans.osm_writer")
UNTRACED = "splitter.untraced"  # jobs started outside every span
FOLD = ("jobs", "tasks", "cpu_s", "shuffle_mb", "spill_mb", "task_skew")
MARKER_STAGES = ("node_members", "way_members", "extra_nodes", "relation_members")


def standalone_scans(wl, spark, tracer) -> list[dict]:
    """Materialize each lazy reader of the workload once, each under its
    own span; returns ``[{layer, span, rows}]``."""
    out = []
    for layer, make in wl.scans():
        with tracer.span(f"scan:{layer}") as idx:
            rows = make(spark).count()
        out.append({"layer": layer, "span": idx, "rows": rows})
    return out


def _union(intervals) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _self_intervals(spans, idx: int, children: dict) -> list[tuple]:
    """The span's interval minus its children's, as a list of pieces."""
    pieces = [(spans[idx].start, spans[idx].end)]
    for c in children.get(idx, ()):
        cs, ce = spans[c].start, spans[c].end
        nxt = []
        for a, b in pieces:
            if ce <= a or cs >= b:
                nxt.append((a, b))
                continue
            if a < cs:
                nxt.append((a, cs))
            if ce < b:
                nxt.append((ce, b))
        pieces = nxt
    return pieces


def _layer_of(span) -> str:
    if span.name.startswith("scan:"):
        return span.name[5:]
    return LAYER_OF[span.name]


def per_layer(wl, res: dict, jobs) -> dict:
    spans = res["tracer"].spans
    children: dict = {}
    for i, s in enumerate(spans):
        if s.parent is not None:
            children.setdefault(s.parent, []).append(i)
    layer = [_layer_of(s) for s in spans]
    span_of_group = {f"span{i}": i for i in range(len(spans))}
    job_layer = [layer[span_of_group[j.group]] if j.group in span_of_group
                 else UNTRACED for j in jobs]

    per_iter: list[dict] = []
    violations = 0
    for it in res["iters"]:
        t0, t1 = it["t0"], it["t1"]
        inside = [i for i, s in enumerate(spans) if t0 <= s.start <= t1]
        row = {}
        for name in JOB_LAYERS + (UNTRACED,):
            mine = [i for i in inside if layer[i] == name]
            if name != UNTRACED:
                row[f"{name}.s"] = _union(
                    p for i in mine for p in _self_intervals(spans, i, children))
            js = [j for j, lay in zip(jobs, job_layer)
                  if lay == name and t0 * 1000 <= j.submit_ms <= t1 * 1000]
            fold = fold_jobs(js)
            for k in FOLD:
                row[f"{name}.{k}"] = fold[k]
            proc_cpu = sum(
                (spans[i].cpu1 - spans[i].cpu0)
                - sum(spans[c].cpu1 - spans[c].cpu0 for c in children.get(i, ()))
                for i in mine)
            if name != UNTRACED and fold["cpu_s"] > proc_cpu + 0.02:
                violations += 1
            if name == "plans.checkpoint":
                row["plans.checkpoint.mb_written"] = fold["output_mb"]
        all_jobs = [j for j in jobs if t0 * 1000 <= j.submit_ms <= t1 * 1000]
        total = fold_jobs(all_jobs)
        row["splitter.driver_s"] = (t1 - t0) - _union(
            (spans[i].start, spans[i].end) for i in inside)
        row["splitter.jobs"] = total["jobs"]
        row["splitter.tasks"] = total["tasks"]
        row["splitter.input_mb"] = total["input_mb"]
        row["trace.job_s"] = t1 - t0
        per_iter.append(row)
    values = {k: statistics.median(r[k] for r in per_iter) for k in per_iter[0]}

    # the readers, from their standalone scans
    for name in READ_LAYERS:
        scans = [s for s in res["scans"] if s["layer"] == name]
        secs = sum(spans[s["span"]].end - spans[s["span"]].start for s in scans)
        rows = sum(s["rows"] for s in scans)
        groups = {f"span{i}" for s in scans for i in _subtree(s["span"], children)}
        fold = fold_jobs([j for j in jobs if j.group in groups])
        key = "read_s" if name == "sources.warc" else "s"
        values[f"{name}.{key}"] = secs
        values[f"{name}.{'pages' if name == 'sources.warc' else 'elems'}_per_s"] = (
            rows / secs if secs else 0.0)
        for k in FOLD:
            values[f"{name}.{k}"] = fold[k]
        if name != "sources.warc":
            values[f"{name}.input_passes"] = (
                fold["input_mb"] / (wl.input.stat().st_size / 1e6) if scans else 0.0)
    # the pages sink: its layer shares the sources.warc name with the reader
    warc_write = [
        sum(b - a for a, b in _self_intervals(spans, i, children))
        for i, s in enumerate(spans) if s.name == "warc.write_warc"
        and any(it["t0"] <= s.start <= it["t1"] for it in res["iters"])]
    values["sources.warc.write_s"] = (
        statistics.median(warc_write) if warc_write else 0.0)

    # counts from the last iteration's outputs
    out = res["last_out"]
    marker_rows = 0
    for stage in MARKER_STAGES:
        done = out / "_checkpoints" / f"{stage}._DONE"
        if done.exists():
            marker_rows += json.loads(done.read_text()).get("rows", 0)
    values["operators.softcut.marker_rows"] = marker_rows
    written = sum(len(rows) for rows in wl.read(out).values())
    for sink in ("plans.pbf_writer", "plans.osm_writer"):
        s = values[f"{sink}.s"]
        values[f"{sink}.elems_per_s"] = written / s if s > 0.05 else 0.0
    values["trace.cpu_violations"] = violations

    units = {}
    for k in values:
        leaf = k.rsplit(".", 1)[1]
        units[k] = ("s" if leaf in ("s", "read_s", "write_s", "driver_s",
                                    "cpu_s", "job_s")
                    else "MB" if leaf.endswith("mb") or leaf == "mb_written"
                    else "1/s" if leaf.endswith("per_s")
                    else "ratio" if leaf in ("task_skew", "input_passes")
                    else "count")
    return {k: {"value": float(v), "unit": units[k]} for k, v in sorted(values.items())}


def _subtree(idx: int, children: dict) -> list[int]:
    out, todo = [], [idx]
    while todo:
        i = todo.pop()
        out.append(i)
        todo.extend(children.get(i, ()))
    return out
