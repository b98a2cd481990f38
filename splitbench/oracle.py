"""Output checks computed apart from the program.

Membership comes from a numpy even-odd ray cast (in lattice units, see
``worlds``) and from the benchmark's own DuckDB SQL; outputs are re-read
with the standard library only (``xml.etree`` for ``.osh``, ``gzip`` for
WARC/WET) or with the minimal ``.osh.pbf`` decoder below. Each check
returns a list of human-readable mismatches; an empty list means the
output is correct.
"""

from __future__ import annotations

import gzip
import re
import struct
import xml.etree.ElementTree as ET
import zlib
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

from worlds import World

# --- geometry -------------------------------------------------------------------


def inside(xy: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Even-odd ray cast of points ``xy`` (n, 2) against one closed-or-open
    ring (k, 2); a horizontal ray to +x, half-open crossing rule."""
    x = xy[:, 0].astype(np.float64)[:, None]
    y = xy[:, 1].astype(np.float64)[:, None]
    x1, y1 = ring[:, 0][None, :], ring[:, 1][None, :]
    x2, y2 = np.roll(ring[:, 0], -1)[None, :], np.roll(ring[:, 1], -1)[None, :]
    crosses = (y1 > y) != (y2 > y)
    with np.errstate(divide="ignore", invalid="ignore"):
        xc = x1 + (y - y1) * (x2 - x1) / (y2 - y1)
    return ((crosses & (x < xc)).sum(axis=1) % 2) == 1


def in_bbox(xy: np.ndarray, box: tuple) -> np.ndarray:
    x0, y0, x1, y1 = box
    return (xy[:, 0] > x0) & (xy[:, 0] < x1) & (xy[:, 1] > y0) & (xy[:, 1] < y1)


def node_hits(world: World, mode: str) -> pd.DataFrame:
    """``(id, version, extract)`` for every node version inside an extract:
    polygons for softcut worlds, boxes for hardcut worlds."""
    ids = np.fromiter((r[0] for r in world.nodes), np.int64, len(world.nodes))
    vers = np.fromiter((r[1] for r in world.nodes), np.int64, len(world.nodes))
    shapes = world.polys if mode == "softcut" else world.bboxes
    frames = []
    for name, shape in shapes.items():
        hit = inside(world.node_xy, shape) if mode == "softcut" else in_bbox(
            world.node_xy, shape)
        frames.append(pd.DataFrame({"id": ids[hit], "version": vers[hit],
                                    "extract": name}))
    return pd.concat(frames, ignore_index=True)


# --- expected outputs (DuckDB) -------------------------------------------------------


def _load(con, world: World) -> None:
    con.register("node_rows", pd.DataFrame(
        {"id": [r[0] for r in world.nodes], "version": [r[1] for r in world.nodes]}))
    con.register("way_refs", pd.DataFrame(
        [(r[0], r[1], pos, ref) for r in world.ways for pos, ref in enumerate(r[7])],
        columns=["id", "version", "pos", "ref"]))
    con.register("way_rows", pd.DataFrame(
        {"id": [r[0] for r in world.ways], "version": [r[1] for r in world.ways]}))
    con.register("rel_members", pd.DataFrame(
        [(r[0], r[1], pos, t, ref) for r in world.relations
         for pos, (t, ref, _role) in enumerate(r[7])],
        columns=["id", "version", "pos", "mtype", "ref"]))
    con.register("rel_rows", pd.DataFrame(
        {"id": [r[0] for r in world.relations],
         "version": [r[1] for r in world.relations]}))


SOFTCUT_SQL = """
CREATE TEMP TABLE node_members AS SELECT DISTINCT id, extract FROM hits;
CREATE TEMP TABLE way_members AS
  SELECT DISTINCT w.id, n.extract FROM way_refs w JOIN node_members n ON w.ref = n.id;
CREATE TEMP TABLE all_nodes AS
  SELECT id, extract FROM node_members
  UNION SELECT w.ref, m.extract FROM way_members m JOIN way_refs w ON w.id = m.id;
CREATE TEMP TABLE rel_closure AS
  WITH RECURSIVE r(id, extract) AS (
    SELECT DISTINCT m.id, t.extract FROM rel_members m JOIN (
      SELECT 'n' AS mtype, id, extract FROM node_members
      UNION ALL SELECT 'w', id, extract FROM way_members) t
      ON m.mtype = t.mtype AND m.ref = t.id
    UNION
    SELECT m.id, r.extract FROM rel_members m JOIN r ON m.mtype = 'r' AND m.ref = r.id
  ) SELECT DISTINCT id, extract FROM r;
"""


def expected_softcut(world: World) -> dict:
    """``{extract: {(kind, id, version)}}`` of a softcut split: every
    version of every member id (nodes inside, ways with a member node,
    every ref of a member way, relations closed over rel->rel refs)."""
    con = duckdb.connect()
    _load(con, world)
    con.register("hits", node_hits(world, "softcut"))
    con.execute(SOFTCUT_SQL)
    out: dict = {name: set() for name in world.polys}
    for kind, rows, members in (("n", "node_rows", "all_nodes"),
                                ("w", "way_rows", "way_members"),
                                ("r", "rel_rows", "rel_closure")):
        for ext, i, v in con.execute(
            f"SELECT m.extract, e.id, e.version FROM {rows} e "
            f"JOIN {members} m ON e.id = m.id"
        ).fetchall():
            out[ext].add((kind, i, v))
    con.close()
    return out


HARDCUT_SQL = """
CREATE TEMP TABLE tracked_nodes AS SELECT DISTINCT id, extract FROM hits;
CREATE TEMP TABLE kept_ways AS
  SELECT w.id, w.version, t.extract, list(w.ref ORDER BY w.pos) AS refs
  FROM way_refs w JOIN tracked_nodes t ON w.ref = t.id
  GROUP BY w.id, w.version, t.extract HAVING count(*) >= 2;
CREATE TEMP TABLE tracked_ways AS SELECT DISTINCT id, extract FROM kept_ways;
CREATE TEMP TABLE kept_rels AS
  SELECT m.id, m.version, t.extract,
         list(m.mtype || ':' || CAST(m.ref AS VARCHAR) ORDER BY m.pos) AS members
  FROM rel_members m JOIN (
    SELECT 'n' AS mtype, id, extract FROM tracked_nodes
    UNION ALL SELECT 'w', id, extract FROM tracked_ways) t
    ON m.mtype = t.mtype AND m.ref = t.id
  GROUP BY m.id, m.version, t.extract;
"""


def expected_hardcut(world: World) -> dict:
    """``{extract: {(kind, id, version, payload)}}`` of a hardcut split:
    node versions inside; way versions with their refs to tracked nodes
    (kept when at least two remain); relation versions with their node
    and way members that are tracked (kept when at least one remains)."""
    con = duckdb.connect()
    _load(con, world)
    hits = node_hits(world, "hardcut")
    con.register("hits", hits)
    con.execute(HARDCUT_SQL)
    out: dict = {name: set() for name in world.bboxes}
    for ext, i, v in hits[["extract", "id", "version"]].itertuples(
            index=False, name=None):
        out[ext].add(("n", int(i), int(v), None))
    for i, v, ext, refs in con.execute("SELECT * FROM kept_ways").fetchall():
        out[ext].add(("w", i, v, tuple(refs)))
    for i, v, ext, mem in con.execute("SELECT * FROM kept_rels").fetchall():
        out[ext].add(("r", i, v, tuple(mem)))
    con.close()
    return out


# --- readers ------------------------------------------------------------------------


def read_osh(path: Path) -> list[tuple]:
    """``(kind, id, version, payload)`` per element of an OSM XML file;
    payload: ``(lat, lon)`` text for nodes, ref tuple for ways, ``type:ref``
    tuple for relations."""
    out = []
    for _, el in ET.iterparse(str(path)):
        tag = el.tag
        if tag == "node":
            out.append(("n", int(el.get("id")), int(el.get("version")),
                        (float(el.get("lat")), float(el.get("lon")))))
        elif tag == "way":
            out.append(("w", int(el.get("id")), int(el.get("version")),
                        tuple(int(nd.get("ref")) for nd in el.findall("nd"))))
        elif tag == "relation":
            out.append(("r", int(el.get("id")), int(el.get("version")), tuple(
                f"{m.get('type')[:1]}:{m.get('ref')}" for m in el.findall("member"))))
        else:
            continue
        el.clear()
    return out


def _varint(buf: bytes, i: int) -> tuple[int, int]:
    n = shift = 0
    while True:
        b = buf[i]
        i += 1
        n |= (b & 0x7F) << shift
        if b < 0x80:
            return n, i
        shift += 7


def _msg(buf: bytes):
    """(field, value) pairs of a protobuf message; length-delimited values
    are bytes, varints are ints (fixed-width wire types do not occur)."""
    i, n = 0, len(buf)
    while i < n:
        key, i = _varint(buf, i)
        f, wt = key >> 3, key & 7
        if wt == 0:
            v, i = _varint(buf, i)
        elif wt == 2:
            ln, i = _varint(buf, i)
            v, i = buf[i:i + ln], i + ln
        else:
            raise ValueError(f"unexpected protobuf wire type {wt}")
        yield f, v


def _packed(buf: bytes) -> list[int]:
    out, i = [], 0
    while i < len(buf):
        v, i = _varint(buf, i)
        out.append(v)
    return out


def _sint(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def _int64(n: int) -> int:
    return n - (1 << 64) if n >= 1 << 63 else n


def _delta(vals: list[int]) -> list[int]:
    out, acc = [], 0
    for v in vals:
        acc += _sint(v)
        out.append(acc)
    return out


_PBF_MEMBER = {0: "n", 1: "w", 2: "r"}


def read_osh_pbf(path: Path) -> list[tuple]:
    """The same rows as :func:`read_osh` from an ``.osh.pbf``: plain and
    dense nodes, ways, relations; raw or zlib blobs."""
    data = Path(path).read_bytes()
    out, pos = [], 0
    while pos < len(data):
        (hlen,) = struct.unpack(">I", data[pos:pos + 4])
        pos += 4
        header = dict(_msg(data[pos:pos + hlen]))
        pos += hlen
        size = header[3]
        blob = dict(_msg(data[pos:pos + size]))
        pos += size
        if header[1] != b"OSMData":
            continue
        block = zlib.decompress(blob[3]) if 3 in blob else blob[1]
        gran, lat_off, lon_off, groups = 100, 0, 0, []
        for f, v in _msg(block):
            if f == 2:
                groups.append(v)
            elif f == 17:
                gran = v
            elif f == 19:
                lat_off = _int64(v)
            elif f == 20:
                lon_off = _int64(v)
        for g in groups:
            for f, v in _msg(g):
                if f == 1:  # plain node
                    d = dict(_msg(v))
                    ver = dict(_msg(d[4]))[1] if 4 in d else 1
                    out.append(("n", _sint(d[1]), ver, (
                        round((lat_off + gran * _sint(d[8])) / 1e9, 7),
                        round((lon_off + gran * _sint(d[9])) / 1e9, 7))))
                elif f == 2:  # dense nodes
                    d = {ff: vv for ff, vv in _msg(v)}
                    ids = _delta(_packed(d[1]))
                    info = dict(_msg(d[5])) if 5 in d else {}
                    vers = _packed(info[1]) if 1 in info else [1] * len(ids)
                    lats, lons = _delta(_packed(d[8])), _delta(_packed(d[9]))
                    for k, nid in enumerate(ids):
                        out.append(("n", nid, vers[k], (
                            round((lat_off + gran * lats[k]) / 1e9, 7),
                            round((lon_off + gran * lons[k]) / 1e9, 7))))
                elif f == 3:  # way
                    d = dict(_msg(v))
                    ver = dict(_msg(d[4]))[1] if 4 in d else 1
                    refs = tuple(_delta(_packed(d.get(8, b""))))
                    out.append(("w", d[1], ver, refs))
                elif f == 4:  # relation
                    d = dict(_msg(v))
                    ver = dict(_msg(d[4]))[1] if 4 in d else 1
                    ids = _delta(_packed(d.get(9, b"")))
                    types = _packed(d.get(10, b""))
                    out.append(("r", d[1], ver, tuple(
                        f"{_PBF_MEMBER[t]}:{m}" for t, m in zip(types, ids))))
    return out


# --- comparisons ------------------------------------------------------------------------


def _input_payloads(world: World) -> dict:
    """(kind, id, version) -> the payload an unmodified row must carry."""
    p = {}
    for r in world.nodes:
        p[("n", r[0], r[1])] = (round(r[7], 7), round(r[8], 7))
    for r in world.ways:
        p[("w", r[0], r[1])] = tuple(r[7])
    for r in world.relations:
        p[("r", r[0], r[1])] = tuple(f"{t}:{ref}" for t, ref, _ in r[7])
    return p


def check_softcut(world: World, outputs: dict, expected: dict) -> list[str]:
    """``outputs``: ``{extract: rows}`` as read back. Each extract must hold
    exactly the expected (kind, id, version) set, once each, every row
    byte-for-byte its input (coordinates, refs, members)."""
    errs = []
    payload = _input_payloads(world)
    for ext, want in expected.items():
        rows = outputs.get(ext)
        if rows is None:
            errs.append(f"{ext}: output missing")
            continue
        keys = [(k, i, v) for k, i, v, _ in rows]
        got = set(keys)
        if len(got) != len(keys):
            errs.append(f"{ext}: {len(keys) - len(got)} duplicate rows")
        if got != want:
            errs.append(f"{ext}: {len(want - got)} rows missing, "
                        f"{len(got - want)} rows unexpected "
                        f"(e.g. {sorted(want ^ got)[:3]})")
        bad = [r for r in rows if payload.get(r[:3]) != r[3]]
        if bad:
            errs.append(f"{ext}: {len(bad)} rows differ from their input "
                        f"(e.g. {bad[:2]})")
    for ext in set(outputs) - set(expected):
        errs.append(f"{ext}: unexpected output")
    return errs


def check_hardcut(world: World, outputs: dict, expected: dict) -> list[str]:
    """Each extract must hold exactly the expected clipped rows; node rows
    must carry their input coordinates."""
    errs = []
    payload = _input_payloads(world)
    for ext, want in expected.items():
        rows = outputs.get(ext)
        if rows is None:
            errs.append(f"{ext}: output missing")
            continue
        norm = [(k, i, v, None if k == "n" else p) for k, i, v, p in rows]
        got = set(norm)
        if len(got) != len(norm):
            errs.append(f"{ext}: {len(norm) - len(got)} duplicate rows")
        if got != want:
            errs.append(f"{ext}: {len(want - got)} rows missing, "
                        f"{len(got - want)} rows unexpected "
                        f"(e.g. {sorted(want ^ got, key=str)[:3]})")
        bad = [r for r in rows if r[0] == "n" and payload.get(r[:3]) != r[3]]
        if bad:
            errs.append(f"{ext}: {len(bad)} nodes moved (e.g. {bad[:2]})")
    for ext in set(outputs) - set(expected):
        errs.append(f"{ext}: unexpected output")
    return errs


# --- pages -------------------------------------------------------------------------------

GEO = re.compile(r"GEO\(latc=(-?\d+);lonc=(-?\d+)\)")


def expected_pages(rows: list[tuple], polys: dict) -> dict:
    """``{extract: {url}}``: a url belongs to an extract when ANY snapshot's
    text carries a geotag strictly inside the extract's polygon."""
    urls, pts = [], []
    for url, _ts, _html, text, _lang in rows:
        for latc, lonc in GEO.findall(text):
            urls.append(url)
            pts.append((int(lonc), int(latc)))
    xy = np.asarray(pts, dtype=np.int64).reshape(-1, 2)
    urls_arr = np.asarray(urls, dtype=object)
    return {name: set(urls_arr[inside(xy, ring)]) for name, ring in polys.items()}


def _warc_records(path: Path):
    """(headers, payload) of every record in a gzip-member WARC file."""
    data = gzip.decompress(path.read_bytes())
    pos = 0
    while pos < len(data):
        end = data.index(b"\r\n\r\n", pos)
        lines = data[pos:end].decode("utf-8").split("\r\n")
        if not lines[0].startswith("WARC/"):
            raise ValueError(f"{path}: no WARC version line at byte {pos}")
        headers = {}
        for line in lines[1:]:
            k, _, v = line.partition(":")
            headers[k.strip().lower()] = v.strip()
        n = int(headers["content-length"])
        yield headers, data[end + 4:end + 4 + n]
        pos = end + 4 + n + 4  # payload, then the record's CRLF CRLF


def read_warc_dir(path: Path) -> list[tuple]:
    """``(kind, url, date, body)`` per record of a WARC+WET directory:
    ``("html", ...)`` for a response (HTTP head stripped), ``("text", ...)``
    for a conversion record."""
    out = []
    for pattern, wtype, kind in (("*.warc.gz", "response", "html"),
                                 ("*.wet.gz", "conversion", "text")):
        for f in sorted(path.glob(pattern)):
            for h, body in _warc_records(f):
                if h.get("warc-type") != wtype:
                    continue
                if kind == "html":
                    body = body.split(b"\r\n\r\n", 1)[1]
                out.append((kind, h["warc-target-uri"], h["warc-date"], body))
    return out


def check_pages(rows: list[tuple], outputs: dict, expected: dict) -> list[str]:
    """Each extract directory must hold every snapshot of exactly its
    member urls, once, with the input's html and text bytes."""
    errs = []
    by_url: dict = {}
    for url, ts, html, text, _lang in rows:
        by_url.setdefault(url, []).append((ts.strftime("%Y-%m-%dT%H:%M:%SZ"),
                                           html, text))
    for ext, urls in expected.items():
        got = outputs.get(ext, [])
        want = {(u, ts) for u in urls for ts, _, _ in by_url[u]}
        for kind, col in (("html", 1), ("text", 2)):
            recs = [r for r in got if r[0] == kind]
            keys = [(u, ts) for _, u, ts, _ in recs]
            if len(set(keys)) != len(keys):
                errs.append(f"{ext}: {len(keys) - len(set(keys))} duplicate "
                            f"{kind} records")
            if set(keys) != want:
                errs.append(f"{ext}: {len(want - set(keys))} {kind} snapshots "
                            f"missing, {len(set(keys) - want)} unexpected")
            src = {(u, ts): snap[col] for u in urls for snap in by_url[u]
                   for ts in (snap[0],)}
            bad = [r for r in recs if (r[1], r[2]) in src
                   and src[(r[1], r[2])] != (r[3] if kind == "html"
                                             else r[3].decode("utf-8"))]
            if bad:
                errs.append(f"{ext}: {len(bad)} {kind} records differ from "
                            "their input")
    for ext in set(outputs) - set(expected):
        if outputs[ext]:
            errs.append(f"{ext}: unexpected output")
    return errs
