"""OSM PBF codec (sources/pbf.py) and distributed sink
(plans/pbf_writer.py): pure-python roundtrips, DenseNodes interop,
golden split of the reference fixture, block/partition boundaries, the
decode-once ingest and its cache lifetime, resume after a failed marker
save."""

from __future__ import annotations

import datetime as dt

import pytest

from osm_history_splitter_spark.sources.pbf import (
    _MEMBER_ENUM,
    _blob,
    _key,
    _len_delim,
    _packed,
    _packed_sint_delta,
    _varint,
    _vint_field,
    _zigzag,
    encode_data_blob,
    encode_header_blob,
    iter_blobs,
    read_pbf,
)

TS = dt.datetime(2012, 1, 1, 10, 0, 0)

NODES = [
    (1, 1, True, TS, 1000, 100, "me", 10.0, 10.0, {"k": "v", "a": "b&c"}),
    (1, 2, False, TS, 1000, 101, "me", None, None, {}),  # deleted: no pos
    (-5, 1, True, None, None, None, None, -89.9999999, 179.9999999, {}),
]
WAYS = [
    (10, 1, True, TS, 1, 2, "u", [5, 3, 10**9], {"hw": "yes"}),
    (11, 1, True, TS, 1, 2, "u", [], {}),
]
RELS = [
    (30, 2, True, TS, 1, 2, "u",
     [("n", 5, "stop"), ("w", 10, ""), ("r", 31, "x")], {"t": "route"}),
]


def test_codec_roundtrip(tmp_path):
    p = tmp_path / "t.pbf"
    p.write_bytes(
        encode_header_blob((-1.0, -1.0, 1.0, 1.0))
        + encode_data_blob(NODES, WAYS, RELS)
    )
    n, w, r = read_pbf(str(p))
    assert n == NODES and w == WAYS and r == RELS


def test_blob_structure_and_compression(tmp_path):
    data = encode_header_blob() + encode_data_blob(NODES)
    types = [t for t, _ in iter_blobs(data)]
    assert types == ["OSMHeader", "OSMData"]
    # blob payloads are zlib-compressed by default (spec's common case)
    import zlib

    body = data
    assert b"OSMData" in body
    # concatenation of blob sequences is a valid file (the distributed
    # sink's core invariant)
    twice = data + encode_data_blob(way_rows=WAYS)
    assert [t for t, _ in iter_blobs(twice)] == [
        "OSMHeader", "OSMData", "OSMData",
    ]
    del zlib


def test_dense_nodes_interop(tmp_path):
    """External writers use DenseNodes; the reader must accept them.
    Hand-encode a DenseNodes group per spec (delta-coded ids/positions,
    interleaved keys_vals with 0 separators, DenseInfo deltas)."""
    strings = [b"", b"amenity", b"pub", b"bob"]
    st = _len_delim(1, b"".join(_len_delim(1, s) for s in strings))
    ids = [10, 12]
    lats = [round(1.5 * 1e7), round(-2.25 * 1e7)]
    lons = [round(3.0 * 1e7), round(4.0 * 1e7)]
    dense = _packed(1, [_zigzag(b - a) for a, b in zip([0] + ids, ids)])
    # DenseInfo: versions plain, timestamps/changesets/uids/user_sids delta
    info = (
        _packed(1, [1, 3])
        + _packed(2, [_zigzag(100), _zigzag(5)])
        + _packed(3, [_zigzag(7), _zigzag(1)])
        + _packed(4, [_zigzag(42), _zigzag(0)])
        + _packed(5, [_zigzag(3), _zigzag(0)])
        + _packed(6, [1, 0])
    )
    dense += _len_delim(5, info)
    dense += _packed(8, [_zigzag(b - a) for a, b in zip([0] + lats, lats)])
    dense += _packed(9, [_zigzag(b - a) for a, b in zip([0] + lons, lons)])
    dense += _packed(10, [1, 2, 0, 0])  # node1: amenity=pub; node2: none
    # two wrap levels: DenseNodes is field 2 OF PrimitiveGroup, which is
    # field 2 OF PrimitiveBlock
    group = _len_delim(2, dense)
    block = (
        st + _len_delim(2, group) + _vint_field(17, 100)
        + _vint_field(18, 1000)
    )
    (tmp_path / "d.pbf").write_bytes(_blob("OSMData", block))
    n, w, r = read_pbf(str(tmp_path / "d.pbf"))
    assert w == [] and r == []
    assert [x[0] for x in n] == [10, 12]
    assert n[0][1] == 1 and n[1][1] == 3  # versions
    assert n[0][2] is True and n[1][2] is False  # visible
    assert n[0][4] == 42 and n[1][4] == 42  # uid delta
    assert n[0][6] == "bob" and n[1][6] == "bob"
    assert n[0][7] == pytest.approx(1.5) and n[1][7] == pytest.approx(-2.25)
    assert n[0][9] == {"amenity": "pub"} and n[1][9] == {}
    assert n[1][3] == dt.datetime.utcfromtimestamp(105)  # ts delta sum


def test_distributed_sink_golden_roundtrip(spark, tmp_path):
    """Split the reference's fixture, emit .osh.pbf through the
    distributed sink, read it back with the codec: same elements, same
    order (nodes→ways, (id, version) within kind)."""
    from osm_history_splitter_spark.operators.softcut import softcut
    from osm_history_splitter_spark.plans.osm_writer import write_extracts_osm
    from osm_history_splitter_spark.sources.config import parse_config
    from osm_history_splitter_spark.sources.osm_xml import (
        load_osm_dataframes,
        parse_osm_xml,
    )

    REF = "/root/reference"
    nodes, ways, rels = load_osm_dataframes(
        spark, f"{REF}/test/version-two-node-after.osh"
    )
    cat = parse_config(f"{REF}/test/test.config")
    res = softcut(nodes, ways, rels, cat)
    paths = write_extracts_osm(
        res.nodes, res.ways, res.relations, cat, str(tmp_path),
        filenames={"test": "test.osh.pbf"},
    )
    out_n, out_w, out_r = read_pbf(paths["test"])
    src_n, src_w, _ = parse_osm_xml(f"{REF}/test/version-two-node-after.osh")
    keep_n = {(1, 1), (1, 2), (2, 1), (2, 2), (3, 1), (3, 2)}
    keep_w = {(10, 1), (10, 2)}
    assert sorted(out_n) == sorted(r for r in src_n if (r[0], r[1]) in keep_n)
    assert sorted(out_w) == sorted(r for r in src_w if (r[0], r[1]) in keep_w)
    assert out_r == []
    assert [(r[0], r[1]) for r in out_n] == sorted((r[0], r[1]) for r in out_n)


def test_sink_block_and_partition_boundaries(spark, tmp_path, monkeypatch):
    """Many rows, tiny blocks, several partitions and two extracts: the
    per-kind (pid, seq) fragment order must reassemble the exact global
    (extract, id, version) order with no loss."""
    import osm_history_splitter_spark.plans.pbf_writer as pw
    from osm_history_splitter_spark.model import (
        NODE_SCHEMA,
        RELATION_SCHEMA,
        WAY_SCHEMA,
    )
    from osm_history_splitter_spark.plans.catalog import Extract, ExtractCatalog
    from pyspark.sql import functions as F

    monkeypatch.setattr(pw, "BLOCK_ROWS", 7)
    rows = [
        (i, v, True, TS, 1, 1, "u", float(i % 80) / 2, float(i % 160) / 2, {})
        for i in range(200)
        for v in (1, 2)
    ]
    nodes = (
        spark.createDataFrame(rows, schema=NODE_SCHEMA)
        .withColumn(
            "extract", F.when(F.col("id") % 2 == 0, "even").otherwise("odd")
        )
    )
    empty_w = spark.createDataFrame([], WAY_SCHEMA).withColumn(
        "extract", F.lit("even")
    )
    empty_r = spark.createDataFrame([], RELATION_SCHEMA).withColumn(
        "extract", F.lit("even")
    )
    cat = ExtractCatalog(
        [Extract.bbox("even", 0, 0, 90, 90), Extract.bbox("odd", 0, 0, 90, 90)]
    )
    paths = pw.write_extracts_pbf(
        nodes, empty_w, empty_r, cat, str(tmp_path), partitions=8
    )
    for name, parity in (("even", 0), ("odd", 1)):
        n, _, _ = read_pbf(paths[name])
        want = sorted(
            (r[0], r[1]) for r in rows if r[0] % 2 == parity
        )
        assert [(x[0], x[1]) for x in n] == want
        assert all(x[0] % 2 == parity for x in n)


def test_distributed_reader_matches_driver_reader(spark, tmp_path):
    """read_pbf_elements (blob-range mapInPandas ingest) must return
    exactly the driver codec's rows, across task boundaries (1 blob per
    task) and with a multi-blob file."""
    from osm_history_splitter_spark.sources.pbf import (
        load_pbf_dataframes,
        read_pbf_elements,
        scan_blob_index,
    )

    p = tmp_path / "multi.pbf"
    blobs = encode_header_blob((-1.0, -1.0, 1.0, 1.0))
    many_nodes = [
        (i, 1, True, TS, 1, 1, f"u{i % 3}", i / 100.0, -i / 100.0, {"i": str(i)})
        for i in range(50)
    ]
    # several data blobs, mixed content
    blobs += encode_data_blob(many_nodes[:20])
    blobs += encode_data_blob(many_nodes[20:], WAYS)
    blobs += encode_data_blob((), (), RELS)
    p.write_bytes(blobs)

    idx = scan_blob_index(str(p))
    assert [t for _, _, t in idx] == [
        "OSMHeader", "OSMData", "OSMData", "OSMData",
    ]
    # contiguity: blob ranges tile the file exactly
    assert idx[0][0] == 0 and all(
        a[1] == b[0] for a, b in zip(idx, idx[1:])
    )

    got_n = read_pbf_elements(spark, str(p), "node", blobs_per_task=1)
    rows = sorted(
        (r["id"], r["version"], r["user"], r["lat"], r["lon"], r["tags"]["i"])
        for r in got_n.collect()
    )
    assert rows == sorted(
        (r[0], r[1], r[6], r[7], r[8], r[9]["i"]) for r in many_nodes
    )
    n, w, r = load_pbf_dataframes(spark, str(p))
    assert (n.count(), w.count(), r.count()) == (50, 2, 1)
    assert sorted(x["id"] for x in w.collect()) == [10, 11]
    m = r.collect()[0]
    assert [(x["type"], x["ref"], x["role"]) for x in m["members"]] == [
        ("n", 5, "stop"), ("w", 10, ""), ("r", 31, "x"),
    ]


def test_fetch_and_split_with_pbf_mirror(spark, tmp_path, monkeypatch):
    """End-to-end: a mirror serving a .osm.pbf dump (like planet.osm.org)
    feeds fetch_and_split through load_pbf_dataframes."""
    import hashlib
    import shutil

    from osm_history_splitter_spark.fetch import fetch_and_split
    from osm_history_splitter_spark.sources.pbf import load_pbf_dataframes
    from osm_history_splitter_spark.sources.osm_xml import parse_osm_xml

    src_n, src_w, src_r = parse_osm_xml(
        "/root/reference/test/version-two-node-after.osh"
    )
    m = tmp_path / "mirror"
    m.mkdir()
    name = "history-2024-06-01.osm.pbf"
    (m / name).write_bytes(
        encode_header_blob() + encode_data_blob(src_n, src_w, src_r)
    )
    d = hashlib.md5((m / name).read_bytes()).hexdigest()
    (m / f"{name}.md5").write_text(f"{d}  {name}\n")
    (m / "index.html").write_text(f'<a href="{name}">{name}</a>')

    import osm_history_splitter_spark.fetch as fetch_mod

    real = fetch_mod._read_url
    monkeypatch.setattr(
        fetch_mod,
        "_read_url",
        lambda url: (m / "index.html").read_bytes()
        if url.endswith("?C=M;O=D")
        else real(url),
    )
    work = tmp_path / "work"
    work.mkdir()
    shutil.copy("/root/reference/test/test.config", work / "test.config")
    report = fetch_and_split(
        spark, f"file://{m}", str(work),
        lambda sp, path: load_pbf_dataframes(sp, path),
    )
    assert report["splits"]["test"] == {"nodes": 6, "ways": 2, "relations": 0}


# --- property-based codec fuzz (pure python, no Spark) -----------------------

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _HAVE_HYP = True
except ImportError:  # pragma: no cover
    _HAVE_HYP = False

if _HAVE_HYP:
    _ts_strat = st.one_of(
        st.none(),
        st.datetimes(
            min_value=dt.datetime(1970, 1, 1),
            max_value=dt.datetime(2100, 1, 1),
        ).map(lambda t: t.replace(microsecond=0)),
    )
    _text = st.text(
        alphabet=st.characters(blacklist_categories=("Cs",)), max_size=30
    )
    _tags = st.dictionaries(_text, _text, max_size=4)
    _meta = st.tuples(
        st.integers(min_value=-(2**62), max_value=2**62),  # id
        st.integers(min_value=1, max_value=2**31 - 1),  # version
        st.one_of(st.none(), st.booleans()),  # visible
        _ts_strat,
        st.one_of(st.none(), st.integers(-(2**31), 2**31 - 1)),  # uid
        st.one_of(st.none(), st.integers(0, 2**62)),  # changeset
        st.one_of(st.none(), _text),  # user
    )
    # coordinates on the format's exact 1e-7-degree lattice
    _coord = st.integers(-900_000_000, 900_000_000).map(lambda v: v / 1e7)
    _nodes_strat = st.lists(
        _meta.flatmap(
            lambda m: st.tuples(
                st.one_of(
                    st.just((None, None)), st.tuples(_coord, _coord)
                ),
                _tags,
            ).map(lambda pt: m + pt[0] + (pt[1],))
        ),
        max_size=8,
    )
    _ways_strat = st.lists(
        _meta.flatmap(
            lambda m: st.tuples(
                st.lists(st.integers(-(2**62), 2**62), max_size=6), _tags
            ).map(lambda wt: m + wt)
        ),
        max_size=5,
    )
    _members = st.lists(
        st.tuples(st.sampled_from(["n", "w", "r"]),
                  st.integers(-(2**62), 2**62), _text),
        max_size=5,
    )
    _rels_strat = st.lists(
        _meta.flatmap(
            lambda m: st.tuples(_members, _tags).map(lambda rt: m + rt)
        ),
        max_size=4,
    )

    @settings(max_examples=150, deadline=None)
    @given(_nodes_strat, _ways_strat, _rels_strat)
    def test_codec_fuzz_roundtrip(tmp_path_factory, n, w, r):
        """Any model-shaped rows survive encode→decode bit-exactly
        (coordinates constrained to the format's 1e-7 lattice; visible
        None decodes as the spec default True)."""
        p = tmp_path_factory.mktemp("fuzz") / "f.pbf"
        p.write_bytes(encode_header_blob() + encode_data_blob(n, w, r))
        dn, dw, dr = read_pbf(str(p))

        def norm(rows):
            # visible=None encodes nothing; readers see the default True
            return [
                row[:2] + (True if row[2] is None else row[2],) + row[3:]
                for row in rows
            ]

        assert dn == norm(n)
        assert dw == norm(w)
        assert dr == norm(r)


def test_dense_encoder_equals_plain_and_sink_uses_it(tmp_path):
    """encode_dense_nodes_blob must decode identically to the plain-node
    encoder on eligible rows, refuse ineligible ones, and beat the plain
    encoder's wall clock."""
    from osm_history_splitter_spark.sources.pbf import (
        encode_dense_nodes_blob,
    )

    rows = [
        (i * 3 - 500, 1 + (i % 4), i % 2 == 0,
         TS, 100 + i % 7, 5000 + i, f"user{i % 5}",
         (i % 1700) / 10.0 - 85.0, (i % 3500) / 10.0 - 175.0,
         {"a": str(i)} if i % 3 == 0 else {})
        for i in range(2000)
    ]
    (tmp_path / "d.pbf").write_bytes(encode_dense_nodes_blob(rows))
    (tmp_path / "p.pbf").write_bytes(encode_data_blob(rows))
    assert read_pbf(str(tmp_path / "d.pbf")) == read_pbf(str(tmp_path / "p.pbf"))
    # ineligible: null metadata or deleted position → plain path
    assert encode_dense_nodes_blob(
        [(1, 1, True, None, 1, 1, "u", 0.0, 0.0, {})]
    ) is None
    assert encode_dense_nodes_blob(
        [(1, 2, False, TS, 1, 1, "u", None, None, {})]
    ) is None


def test_reader_robustness_truncated_and_exotic_compression(tmp_path):
    """The blob-index walk survives a truncated trailing blob (lists
    the complete ones); a blob with unsupported compression (lzma/zstd
    fields) raises a clear error instead of feeding None into the
    varint parser."""
    from osm_history_splitter_spark.sources.pbf import scan_blob_index

    data = encode_header_blob() + encode_data_blob(NODES)
    p = tmp_path / "trunc.pbf"
    p.write_bytes(data[: len(data) - 7])  # cut inside the last blob body
    # header walk: truncated trailing blob is simply not listed...
    idx = scan_blob_index(str(p))
    assert [t for _, _, t in idx][0] == "OSMHeader"
    # ...and read_pbf of only-complete blobs still works
    whole = tmp_path / "whole.pbf"
    whole.write_bytes(data)
    assert len(read_pbf(str(whole))[0]) == len(NODES)

    # exotic compression: hand-build a blob with field 6 (lzma_data)
    payload = b"\x00" * 10
    body = _vint_field(2, len(payload)) + _len_delim(6, payload)
    header = _len_delim(1, b"OSMData") + _vint_field(3, len(body))
    import struct as _s

    exotic = _s.pack(">I", len(header)) + header + body
    (tmp_path / "x.pbf").write_bytes(exotic)
    with pytest.raises(ValueError, match="unsupported blob compression"):
        read_pbf(str(tmp_path / "x.pbf"))


def test_xml_and_pbf_sinks_emit_identical_element_sets(spark, tmp_path):
    """Cross-format proof: one split emitted through BOTH sinks decodes
    to the same elements in the same order (XML parse vs PBF codec),
    modulo PBF's 1e-7 coordinate lattice — the fixture's coordinates
    are lattice-exact, so equality is total."""
    from osm_history_splitter_spark.operators.softcut import softcut
    from osm_history_splitter_spark.plans.osm_writer import write_extracts_osm
    from osm_history_splitter_spark.sources.config import parse_config
    from osm_history_splitter_spark.sources.osm_xml import (
        load_osm_dataframes,
        parse_osm_xml,
    )

    REF = "/root/reference"
    nodes, ways, rels = load_osm_dataframes(
        spark, f"{REF}/test/version-two-node-after.osh"
    )
    cat = parse_config(f"{REF}/test/test.config")
    res = softcut(nodes, ways, rels, cat)
    px = write_extracts_osm(
        res.nodes, res.ways, res.relations, cat, str(tmp_path / "x"),
        filenames={"test": "test.osh"},
    )
    pb = write_extracts_osm(
        res.nodes, res.ways, res.relations, cat, str(tmp_path / "b"),
        filenames={"test": "test.osh.pbf"},
    )
    xml_n, xml_w, xml_r = parse_osm_xml(px["test"])
    pbf_n, pbf_w, pbf_r = read_pbf(pb["test"])
    assert xml_n == pbf_n
    assert xml_w == pbf_w
    assert xml_r == pbf_r


# --- decode once, release after; the sink and resume on a seeded world -------


def _seeded_world(seed: int, n_nodes=240, n_ways=60, n_rels=16):
    """Model-schema rows of a small random history: 1-2 versions per id,
    deleted node versions without a position, ways over nearby nodes,
    relations with node/way/relation members. Coordinates sit on the
    PBF 1e-7 lattice, so codec roundtrips are exact."""
    import random

    rng = random.Random(seed)

    def meta(i, v):
        return (
            i, v, TS + dt.timedelta(seconds=37 * i + v),
            100 + i % 5, 1000 * i + v, f"u{i % 4}",
        )

    nodes = []
    for i in range(1, n_nodes + 1):
        for v in range(1, rng.randint(1, 2) + 1):
            m = meta(i, v)
            deleted = v == 2 and rng.random() < 0.2
            pos = (
                (None, None) if deleted
                else (rng.randint(-9000, 9000) / 1e4, rng.randint(-9000, 9000) / 1e4)
            )
            tags = {"n": str(i)} if i % 3 == 0 else {}
            nodes.append(m[:2] + (not deleted,) + m[2:] + pos + (tags,))
    ways = []
    for i in range(1, n_ways + 1):
        for v in range(1, rng.randint(1, 2) + 1):
            start = rng.randint(1, n_nodes - 8)
            refs = list(range(start, start + rng.randint(2, 6)))
            m = meta(i, v)
            ways.append(m[:2] + (True,) + m[2:] + (refs, {"w": str(v)}))
    rels = []
    for i in range(1, n_rels + 1):
        members = [("w", rng.randint(1, n_ways), "outer")]
        if rng.random() < 0.5:
            members.append(("n", rng.randint(1, n_nodes), "stop"))
        if i > 1 and rng.random() < 0.4:
            members.append(("r", rng.randint(1, i - 1), ""))
        m = meta(i, 1)
        rels.append(m[:2] + (True,) + m[2:] + (members, {"type": "route"}))
    return nodes, ways, rels


def _write_multiblob(path, nodes, ways, rels, per_blob=50):
    """A history PBF with several blobs per kind and one mixed blob."""
    blobs = [encode_header_blob()]
    blobs += [
        encode_data_blob(nodes[i:i + per_blob])
        for i in range(0, len(nodes) - per_blob, per_blob)
    ]
    tail = (len(nodes) - 1) // per_blob * per_blob
    blobs.append(encode_data_blob(nodes[tail:], ways[:10]))
    blobs += [
        encode_data_blob((), ways[i:i + 20]) for i in range(10, len(ways), 20)
    ]
    if rels:
        blobs.append(encode_data_blob((), (), rels))
    path.write_bytes(b"".join(blobs))


def _row_tuples(df):
    """Collected model-schema rows as the codec's tuples."""
    out = []
    for r in df.collect():
        t = tuple(r)
        if "members" in df.columns:
            t = t[:7] + (
                [(m["type"], m["ref"], m["role"]) for m in r["members"]],
            ) + t[8:]
        out.append(t)
    return sorted(out, key=lambda t: (t[0], t[1]))


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


_CATALOG_TEXT = (
    "west.osh.pbf BBOX -0.9,-0.9,0.1,0.9\n"
    "east.osh.pbf BBOX -0.2,-0.5,0.9,0.5\n"
)


def _catalog():
    from osm_history_splitter_spark.sources.config import parse_config_text

    return parse_config_text(_CATALOG_TEXT)


def _split_files(spark, frames, out):
    from osm_history_splitter_spark.splitter import run_split

    cat = _catalog()
    run_split(
        spark, *frames, cat, str(out), mode="softcut",
        osm_filenames={e.name: f"{e.name}.osh.pbf" for e in cat},
    )
    return {e.name: read_pbf(str(out / "osm" / f"{e.name}.osh.pbf")) for e in cat}


def test_load_pbf_dataframes_decodes_once(spark, tmp_path):
    """After one action the split needs the file no more: deleting it
    before run_split changes nothing, so no stage re-reads (re-decodes)
    the input."""
    import gc
    import shutil

    from osm_history_splitter_spark.sources.pbf import load_pbf_dataframes

    p = tmp_path / "world.osh.pbf"
    _write_multiblob(p, *_seeded_world(11))
    shutil.copy(p, tmp_path / "copy.osh.pbf")

    frames = load_pbf_dataframes(spark, str(p))
    assert frames[0].count() > 0
    p.unlink()
    got = _split_files(spark, frames, tmp_path / "o1")
    del frames
    gc.collect()
    want = _split_files(
        spark,
        load_pbf_dataframes(spark, str(tmp_path / "copy.osh.pbf")),
        tmp_path / "o2",
    )
    assert got == want
    assert all(n and w for n, w, _ in got.values())  # a real split
    assert any(r for _, _, r in got.values())


def test_load_pbf_dataframes_equal_driver_codec(spark, tmp_path):
    """The three projections of the all-kinds decode equal the driver
    codec on a multi-blob file with no relations (an empty kind), in the
    model schemas."""
    from osm_history_splitter_spark.model import (
        NODE_SCHEMA,
        RELATION_SCHEMA,
        WAY_SCHEMA,
    )
    from osm_history_splitter_spark.sources.pbf import load_pbf_dataframes

    p = tmp_path / "norels.osh.pbf"
    nodes, ways, _ = _seeded_world(5)
    _write_multiblob(p, nodes, ways, [])
    want = read_pbf(str(p))
    assert want[2] == [] and len(want[0]) == len(nodes)
    frames = load_pbf_dataframes(spark, str(p))
    for df, schema, rows in zip(
        frames, (NODE_SCHEMA, WAY_SCHEMA, RELATION_SCHEMA), want
    ):
        assert df.schema == schema
        assert _row_tuples(df) == sorted(rows, key=lambda t: (t[0], t[1]))


def test_decode_cache_released_with_frames(spark, tmp_path, monkeypatch):
    """No cached plan outlives the frames: dropping them (and a
    fetch_and_split tick, which drops its own) leaves the cache empty."""
    import gc
    import hashlib

    import osm_history_splitter_spark.fetch as fetch_mod
    from osm_history_splitter_spark.sources.pbf import load_pbf_dataframes

    # other tests may leave persisted frames behind in the shared session
    spark.catalog.clearCache()
    p = tmp_path / "w.osh.pbf"
    _write_multiblob(p, *_seeded_world(3))
    nodes, ways, rels = load_pbf_dataframes(spark, str(p))
    derived = ways.select("id")
    assert rels.count() > 0 and not _cache_empty(spark)
    del nodes, ways
    gc.collect()
    assert not _cache_empty(spark)  # one frame still holds the decode
    del rels
    gc.collect()
    assert _cache_empty(spark)
    assert derived.count() > 0  # derived frames still work (re-decode)

    m = tmp_path / "mirror"
    m.mkdir()
    name = "history-2024-06-01.osm.pbf"
    (m / name).write_bytes(p.read_bytes())
    digest = hashlib.md5((m / name).read_bytes()).hexdigest()
    (m / f"{name}.md5").write_text(f"{digest}  {name}\n")
    (m / "index.html").write_text(f'<a href="{name}">{name}</a>')
    real = fetch_mod._read_url
    monkeypatch.setattr(
        fetch_mod, "_read_url",
        lambda url: (m / "index.html").read_bytes()
        if url.endswith("?C=M;O=D") else real(url),
    )
    work = tmp_path / "work"
    work.mkdir()
    (work / "two.config").write_text(_CATALOG_TEXT)
    report = fetch_mod.fetch_and_split(
        spark, f"file://{m}", str(work), load_pbf_dataframes, emit_osm=True,
    )
    assert report["splits"]["two"]["nodes"] > 0
    assert (work / "extracts" / "2024-06-01" / "two" / "osm" / "west.osh.pbf").exists()
    gc.collect()
    assert _cache_empty(spark)


def test_pbf_sink_seeded_multi_extract(spark, tmp_path, monkeypatch):
    """The PBF sink on overlapping extracts with tiny blocks: header
    first, nodes → ways → relations each sorted by (id, version), no blob
    mixing kinds or extracts, and each file's elements exactly that
    extract's input rows."""
    import random

    import osm_history_splitter_spark.plans.pbf_writer as pw
    from osm_history_splitter_spark.model import (
        NODE_SCHEMA,
        RELATION_SCHEMA,
        WAY_SCHEMA,
    )
    from osm_history_splitter_spark.plans.catalog import Extract, ExtractCatalog
    from osm_history_splitter_spark.sources.pbf import _iter_elements
    from pyspark.sql import types as T

    monkeypatch.setattr(pw, "BLOCK_ROWS", 9)
    rng = random.Random(29)
    world = _seeded_world(29)
    names = ("a", "b", "c")
    # each row in one or two extracts; extract "c" gets no relations
    member = [
        [
            (row, e)
            for row in rows
            for e in rng.sample(names, rng.randint(1, 2))
            if not (kind == 2 and e == "c")
        ]
        for kind, rows in enumerate(world)
    ]
    frames = [
        spark.createDataFrame(
            [row + (e,) for row, e in pairs],
            T.StructType(schema.fields + [T.StructField("extract", T.StringType())]),
        )
        for pairs, schema in zip(member, (NODE_SCHEMA, WAY_SCHEMA, RELATION_SCHEMA))
    ]
    cat = ExtractCatalog([Extract.bbox(e, -1, -1, 1, 1) for e in names])
    paths = pw.write_extracts_pbf(*frames, cat, str(tmp_path), partitions=4)
    assert not (tmp_path / "_pbf_fragments").exists()

    for e in names:
        blobs = list(iter_blobs(open(paths[e], "rb").read()))
        assert blobs[0][0] == "OSMHeader"
        assert all(t == "OSMData" for t, _ in blobs[1:])
        kinds = []
        for _, payload in blobs[1:]:
            elems = list(_iter_elements(payload))
            assert 0 < len(elems) <= 9
            assert len({k for k, _ in elems}) == 1  # one kind per blob
            kinds.append(elems[0][0])
        # nodes, then ways, then relations
        assert kinds == sorted(kinds, key=("node", "way", "relation").index)
        got = read_pbf(paths[e])
        for k, rows in enumerate(got):
            keys = [(r[0], r[1]) for r in rows]
            assert keys == sorted(keys)
            # equality to this extract's rows also proves no blob carries
            # another extract's elements
            assert rows == sorted(
                (row for row, x in member[k] if x == e),
                key=lambda t: (t[0], t[1]),
            )
        assert got[2] or e == "c"


def test_resume_after_failed_concurrent_marker_save(spark, tmp_path, monkeypatch):
    """One marker save fails while the others run concurrently; a rerun
    on the same checkpoint adopts the finished stages (their _DONE
    stamps unchanged, no second save) and equals a clean split."""
    import json

    from osm_history_splitter_spark.plans.checkpoint import StageStore
    from osm_history_splitter_spark.sources.pbf import load_pbf_dataframes
    from osm_history_splitter_spark.splitter import MARKER_STAGES, run_split

    p = tmp_path / "w.osh.pbf"
    _write_multiblob(p, *_seeded_world(17))
    frames = load_pbf_dataframes(spark, str(p))
    cat = _catalog()
    ck = tmp_path / "ck"

    real_save = StageStore.save
    saved, failed = [], []

    def flaky_save(self, name, df):
        saved.append(name)
        if name == "extra_nodes" and not failed:
            failed.append(name)
            raise RuntimeError("injected failure")
        return real_save(self, name, df)

    monkeypatch.setattr(StageStore, "save", flaky_save)
    with pytest.raises(RuntimeError, match="injected"):
        run_split(spark, *frames, cat, str(tmp_path / "o1"), checkpoint_dir=str(ck))
    done = {s: (ck / f"{s}._DONE") for s in MARKER_STAGES if (ck / f"{s}._DONE").exists()}
    assert set(done) == {"node_members", "way_members", "relation_members"}
    stamps = {s: (f.read_text(), f.stat().st_mtime_ns) for s, f in done.items()}

    saved.clear()
    run_split(spark, *frames, cat, str(tmp_path / "o1"), checkpoint_dir=str(ck))
    assert sorted(saved) == ["all_node_ids", "extra_nodes"]
    assert {
        s: (f.read_text(), f.stat().st_mtime_ns) for s, f in done.items()
    } == stamps
    assert json.loads((ck / "extra_nodes._DONE").read_text())["rows"] > 0

    run_split(spark, *frames, cat, str(tmp_path / "o2"))

    def rows(out, entity):
        df = spark.read.parquet(str(tmp_path / out / entity))
        return sorted(
            (tuple(r) for r in df.collect()),
            key=lambda t: (t[0], t[1], t[-1]),  # (id, version, extract)
        )

    for e in ("nodes", "ways", "relations"):
        got = rows("o1", e)
        assert got and got == rows("o2", e)
