"""Seeded inputs for the splitter benchmark.

Everything here is a pure function of ``(seed, size)``: the same seed
always writes the same bytes.

Coordinates. Node positions are whole multiples of ``UNIT`` degrees (the
"lattice"). Extract boundaries are built from half-unit vertices
``(i + 0.5, j + 0.5) * UNIT`` and every polygon edge has an odd
``|dx| + |dy|`` in lattice units, so no lattice point can lie on any edge
(a lattice point on the edge would need ``(x - a) dy - (y - b) dx`` to be
the half-integer ``(dy - dx) / 2``). The nearest node is then at least
``0.5 / edge_length`` units from a boundary, far above float rounding:
the program and the benchmark's own point-in-polygon test cannot disagree
on an inside/outside decision.

The world is an OSM history: every element has one to three versions.
Later node versions either move (often across an extract border) or
change tags only; later way versions change their ref lists; relations
nest (a relation may list relations with smaller ids as members).
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np

UNIT = 1e-4  # degrees per lattice unit
SPAN = 4000  # lattice units per side of the world square
ORIGIN = (8.0, 47.0)  # (lon, lat) of lattice point (0, 0)
EPOCH = dt.datetime(2020, 1, 1)


@dataclass
class World:
    """A history world as plain Python rows in the package's model order:

    nodes     (id, version, visible, ts, uid, changeset, user, lat, lon, tags)
    ways      (id, version, visible, ts, uid, changeset, user, refs, tags)
    relations (id, version, visible, ts, uid, changeset, user, members, tags)

    ``node_xy`` holds the lattice coordinates of every node row (same
    order as ``nodes``) for the benchmark's own geometry checks."""

    nodes: list
    ways: list
    relations: list
    node_xy: np.ndarray  # int64 (n_rows, 2): lattice (x, y)
    polys: dict = field(default_factory=dict)  # name -> (k, 2) half-unit ring
    bboxes: dict = field(default_factory=dict)  # name -> (x0, y0, x1, y1)


def to_lonlat(xy: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    xy = np.asarray(xy, dtype=np.float64)
    return ORIGIN[0] + xy[..., 0] * UNIT, ORIGIN[1] + xy[..., 1] * UNIT


def _meta(i: int, ent_id: int, version: int) -> tuple:
    ts = EPOCH + dt.timedelta(days=version * 30, seconds=ent_id % 86400)
    uid = 1 + (ent_id * 7 + version) % 50
    return (True, ts, uid, 1000 + ent_id // 16 + version, f"user{uid}")


def _star_polygon(rng, cx: int, cy: int, radius: int, n_vertices: int) -> np.ndarray:
    """A simple (star-shaped) ring of half-unit vertices whose every edge
    has odd |dx| + |dy| (see the module docstring), returned in lattice
    units WITHOUT the closing vertex."""
    while True:
        ang = np.sort(rng.uniform(0, 2 * np.pi, n_vertices))
        r = radius * rng.uniform(0.55, 1.0, n_vertices)
        pts = np.stack(
            [np.round(cx + r * np.cos(ang)), np.round(cy + r * np.sin(ang))], 1
        ).astype(np.int64)
        # parity repair walking the ring: nudging vertex i+1 by one unit
        # flips the parity of edges (i, i+1) and (i+1, i+2)
        for i in range(len(pts) - 1):
            d = np.abs(pts[i + 1] - pts[i]).sum()
            if d % 2 == 0:
                pts[i + 1, 0] += 1
        ring = [tuple(p) for p in pts]
        d = abs(pts[0] - pts[-1]).sum()
        if d % 2 == 0:
            # the closing edge: split it with one more vertex one unit off
            ring.append((int(pts[-1, 0]) + 1, int(pts[-1, 1])))
        ring = np.asarray(ring, dtype=np.int64)
        # keep only rings whose vertices stay strictly angle-ordered around
        # the centre and pairwise distinct: such a ring is simple
        a = np.arctan2(ring[:, 1] + 0.5 - cy, ring[:, 0] + 0.5 - cx)
        a = np.unwrap(a)
        steps = np.diff(np.append(a, a[0] + 2 * np.pi))
        if (steps > 0).all() and len({tuple(p) for p in ring}) == len(ring):
            return ring.astype(np.float64) + 0.5


def make_world(
    seed: int,
    n_nodes: int,
    n_ways: int,
    n_relations: int,
    n_polys: int = 4,
    poly_vertices: int = 200,
    n_bboxes: int = 4,
) -> World:
    """A seeded history world; sizes count elements (ids), not versions."""
    rng = np.random.default_rng(seed)

    # node v1 positions, ids assigned in a coarse row-snake cell order so
    # that consecutive ids lie near each other (ways pick runs of ids)
    xy = rng.integers(0, SPAN, size=(n_nodes, 2))
    cell = xy // 64
    row = cell[:, 1]
    col = np.where(row % 2 == 0, cell[:, 0], SPAN // 64 - cell[:, 0])
    order = np.lexsort((xy[:, 0], col, row))
    xy = xy[order]

    n_ver = rng.choice([1, 2, 3], size=n_nodes, p=[0.45, 0.35, 0.2])
    nodes, node_xy = [], []
    for i in range(n_nodes):
        nid = i + 1
        p = xy[i].copy()
        for v in range(1, n_ver[i] + 1):
            tags = {}
            if v > 1:
                if rng.random() < 0.6:  # a move; border crossings follow
                    p = np.clip(p + rng.integers(-120, 121, size=2), 0, SPAN - 1)
                else:  # tag-only edit
                    tags["note"] = f"edit{v}"
            if nid % 5 == 0:
                tags["amenity"] = "bench"
            lon, lat = to_lonlat(p)
            nodes.append(
                (nid, v, *_meta(i, nid, v), float(round(lat, 7)),
                 float(round(lon, 7)), tags)
            )
            node_xy.append(p)

    ways = []
    w_ver = rng.choice([1, 2, 3], size=n_ways, p=[0.5, 0.3, 0.2])
    for w in range(n_ways):
        wid = w + 1
        length = int(rng.integers(2, 9))
        start = int(rng.integers(1, n_nodes - 10))
        refs = list(range(start, start + length))
        for v in range(1, w_ver[w] + 1):
            if v > 1:
                op = rng.integers(0, 3)
                if op == 0 and len(refs) > 2:
                    refs = refs[:-1]
                elif op == 1:
                    refs = refs + [min(n_nodes, refs[-1] + 1)]
                else:
                    k = int(rng.integers(0, len(refs)))
                    refs = refs.copy()
                    refs[k] = int(rng.integers(1, n_nodes + 1))
            ways.append(
                (wid, v, *_meta(w, wid, v), list(refs),
                 {"highway": "residential"} if wid % 3 else {"building": "yes"})
            )

    relations = []
    r_ver = rng.choice([1, 2], size=n_relations, p=[0.6, 0.4])
    for r in range(n_relations):
        rid = r + 1
        wa = int(rng.integers(1, n_ways - 4))
        members = [("w", wa + k, "outer") for k in range(int(rng.integers(1, 4)))]
        if rng.random() < 0.5:
            members.append(("n", int(rng.integers(1, n_nodes + 1)), "label"))
        if rid > 1 and rng.random() < 0.35:  # nesting, always downward
            for _ in range(int(rng.integers(1, 3))):
                members.append(("r", int(rng.integers(1, rid)), "subarea"))
        for v in range(1, r_ver[r] + 1):
            if v > 1:
                members = members[1:] + [("w", int(rng.integers(1, n_ways + 1)), "")]
            relations.append(
                (rid, v, *_meta(r, rid, v), list(members), {"type": "multipolygon"})
            )

    world = World(nodes, ways, relations, np.asarray(node_xy, dtype=np.int64))
    for k in range(n_polys):
        radius = SPAN // 5
        cx, cy = (int(c) for c in rng.integers(radius + 2, SPAN - radius - 2, 2))
        world.polys[f"area{k}"] = _star_polygon(rng, cx, cy, radius, poly_vertices)
    for k in range(n_bboxes):
        w, h = SPAN // 4, SPAN // 4
        x0 = int(rng.integers(0, SPAN - w))
        y0 = int(rng.integers(0, SPAN - h))
        world.bboxes[f"box{k}"] = (x0 + 0.5, y0 + 0.5, x0 + w + 0.5, y0 + h + 0.5)
    return world


# --- writers ------------------------------------------------------------------


def _esc(s: str) -> str:
    return (
        s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
        .replace('"', "&quot;")
    )


def _xml_attrs(row) -> str:
    ts = row[3].strftime("%Y-%m-%dT%H:%M:%SZ")
    return (
        f'id="{row[0]}" version="{row[1]}" timestamp="{ts}" uid="{row[4]}" '
        f'user="{_esc(row[6])}" changeset="{row[5]}" '
        f'visible="{"true" if row[2] else "false"}"'
    )


def _xml_tags(tags: dict) -> str:
    return "".join(
        f'  <tag k="{_esc(k)}" v="{_esc(v)}"/>\n' for k, v in sorted(tags.items())
    )


_MEMBER_TYPE = {"n": "node", "w": "way", "r": "relation"}


def write_osh(world: World, path: Path) -> None:
    """The world as one OSM history XML file (nodes, ways, relations,
    each sorted by id then version)."""
    out = ["<?xml version='1.0' encoding='UTF-8'?>\n",
           '<osm version="0.6" generator="splitbench">\n']
    for r in world.nodes:
        head = f' <node {_xml_attrs(r)} lat="{r[7]:.7f}" lon="{r[8]:.7f}"'
        out.append(f"{head}>\n{_xml_tags(r[9])} </node>\n" if r[9] else f"{head}/>\n")
    for r in world.ways:
        nds = "".join(f'  <nd ref="{ref}"/>\n' for ref in r[7])
        out.append(f" <way {_xml_attrs(r)}>\n{nds}{_xml_tags(r[8])} </way>\n")
    for r in world.relations:
        mem = "".join(
            f'  <member type="{_MEMBER_TYPE[t]}" ref="{ref}" role="{_esc(role)}"/>\n'
            for t, ref, role in r[7]
        )
        out.append(
            f" <relation {_xml_attrs(r)}>\n{mem}{_xml_tags(r[8])} </relation>\n"
        )
    out.append("</osm>\n")
    path.write_text("".join(out), encoding="utf-8")


def write_osh_pbf(world: World, path: Path, rows_per_blob: int = 4000) -> int:
    """The world as one ``.osh.pbf`` through the package's public block
    encoders; returns the number of data blobs."""
    from osm_history_splitter_spark.sources.pbf import (
        encode_data_blob,
        encode_header_blob,
    )

    parts = [encode_header_blob(history=True)]
    for kind, rows in (("node_rows", world.nodes), ("way_rows", world.ways),
                       ("relation_rows", world.relations)):
        for i in range(0, len(rows), rows_per_blob):
            parts.append(encode_data_blob(**{kind: rows[i:i + rows_per_blob]}))
    path.write_bytes(b"".join(parts))
    return len(parts) - 1


def write_poly_config(world: World, out_dir: Path) -> Path:
    """One ``.poly`` per polygon extract plus a reference-format config
    naming each with an ``.osh.pbf`` destination."""
    lines = []
    for name, ring in world.polys.items():
        lon, lat = to_lonlat(ring)
        body = "".join(f"   {a:.6E}   {b:.6E}\n" for a, b in zip(lon, lat))
        (out_dir / f"{name}.poly").write_text(f"{name}\n1\n{body}END\nEND\n")
        lines.append(f"{name}.osh.pbf POLY {name}.poly")
    cfg = out_dir / "extracts.config"
    cfg.write_text("# splitbench polygon extracts\n" + "\n".join(lines) + "\n")
    return cfg


def write_bbox_config(world: World, out_dir: Path) -> Path:
    lines = []
    for name, (x0, y0, x1, y1) in world.bboxes.items():
        (lo0, lo1), (la0, la1) = to_lonlat(np.array([[x0, y0], [x1, y1]]))
        lines.append(f"{name}.osh BBOX {lo0:.5f},{la0:.5f},{lo1:.5f},{la1:.5f}")
    cfg = out_dir / "boxes.config"
    cfg.write_text("\n".join(lines) + "\n")
    return cfg


# --- CDC churn ------------------------------------------------------------------


def churn(world: World, seed: int, share: float) -> World:
    """The next world of a CDC tick: about ``share`` of the node ids get a
    new version. Half the edits move the node (some across a border), the
    rest change tags only; rows of untouched ids are the same objects."""
    rng = np.random.default_rng(seed)
    n_ids = world.nodes[-1][0]
    picked = set(
        int(i) for i in rng.choice(np.arange(1, n_ids + 1),
                                   size=max(1, int(n_ids * share)), replace=False)
    )
    last = {}
    for k, r in enumerate(world.nodes):
        last[r[0]] = k
    nodes, node_xy = [], []
    for k, r in enumerate(world.nodes):
        nodes.append(r)
        node_xy.append(world.node_xy[k])
        if r[0] in picked and last[r[0]] == k:
            p = world.node_xy[k]
            tags = dict(r[9])
            if rng.random() < 0.5:
                p = np.clip(p + rng.integers(-150, 151, size=2), 0, SPAN - 1)
            else:
                tags["note"] = f"cdc{r[1] + 1}"
            lon, lat = to_lonlat(p)
            nodes.append(
                (r[0], r[1] + 1, *_meta(k, r[0], r[1] + 1),
                 float(round(lat, 7)), float(round(lon, 7)), tags)
            )
            node_xy.append(p)
    return World(nodes, world.ways, world.relations,
                 np.asarray(node_xy, dtype=np.int64), world.polys, world.bboxes)


# --- pages -----------------------------------------------------------------------


#: geotag window in hundredths of a degree: (lon0, lat0, lon1, lat1)
PAGE_WINDOW = (-200, 3700, 1800, 5700)


def page_polys(seed: int, n_polys: int = 4, poly_vertices: int = 120) -> dict:
    """Polygon extracts for the pages split, in hundredths of a degree
    (the geotag lattice), with the same off-lattice construction as the
    OSM polygons; ``name -> (k, 2)`` ring of (lonc, latc)."""
    rng = np.random.default_rng(seed + 7919)
    lon0, lat0, lon1, lat1 = PAGE_WINDOW
    polys = {}
    for k in range(n_polys):
        radius = 450
        cx = int(rng.integers(lon0 + radius + 2, lon1 - radius - 2))
        cy = int(rng.integers(lat0 + radius + 2, lat1 - radius - 2))
        polys[f"region{k}"] = _star_polygon(rng, cx, cy, radius, poly_vertices)
    return polys


def make_pages(seed: int, n_urls: int, snapshots: int = 3) -> list[tuple]:
    """Rows ``(url, warc_ts, html, text, lang)``; each snapshot's text
    carries zero to two ``GEO(latc=..;lonc=..)`` tags in hundredths of a
    degree, drawn from ``PAGE_WINDOW``."""
    rng = np.random.default_rng(seed)
    lon0, lat0, lon1, lat1 = PAGE_WINDOW
    words = ["alpha", "beta", "gamma", "delta", "river", "harbour", "market",
             "station", "bridge", "valley", "tower", "garden"]
    rows = []
    for u in range(n_urls):
        url = f"https://pages.example/{seed}/{u:07d}"
        for s in range(snapshots):
            ts = EPOCH + dt.timedelta(days=s * 7, seconds=u)
            body = " ".join(rng.choice(words, size=int(rng.integers(40, 120))))
            tags = ""
            for _ in range(int(rng.choice([0, 1, 1, 2]))):
                latc = int(rng.integers(lat0, lat1))
                lonc = int(rng.integers(lon0, lon1))
                tags += f" GEO(latc={latc};lonc={lonc})"
            text = body + tags
            html = f"<html><body><p>{text}</p></body></html>".encode()
            rows.append((url, ts, html, text, "en"))
    return rows
