"""OSM PBF wire codec: a from-scratch encoder/decoder for the published
OSM PBF container (https://wiki.openstreetmap.org/wiki/PBF_Format —
``fileformat.proto`` / ``osmformat.proto``), with no protobuf library.

The reference reads and writes ``.pbf`` through osmium
(``cut.hpp:73-74`` picks the format from the file extension); this
module gives the engine the same surface: :func:`read_pbf` →
(node, way, relation) row lists matching ``model`` schemas, and the
block encoders that ``plans/pbf_writer.write_extracts_pbf`` runs on
executors.

Distributed ingest decodes each blob ONCE. One blob-range
``mapInPandas`` turns the file into a single all-kinds frame (a
``kind`` column plus the union of the node, way and relation columns);
:func:`load_pbf_dataframes` persists that frame (``MEMORY_AND_DISK``)
and returns one projection per kind, so the world signatures, pass 1 and
pass 2 of a split all read the cache instead of re-decoding the file.
Cache lifetime: the persisted decode lives exactly as long as the three
returned frames — a ``weakref.finalize`` on an owner object they all
reference unpersists it once the last of them is garbage, so a service
that loads a new world per tick never accumulates cached worlds.
:func:`read_pbf_elements` is an unpersisted filter over the same decoder.

Wire-format facts used (all from the public spec):

- a file is a sequence of blobs: 4-byte big-endian BlobHeader length,
  ``BlobHeader{type=1 string, datasize=3 int32}``, then
  ``Blob{raw=1 | raw_size=2 + zlib_data=3}``. Blob sequences
  CONCATENATE — two valid PBF payloads joined byte-wise are one valid
  file, which is what makes the distributed fragment sink work;
- ``OSMHeader`` blob: ``HeaderBlock{bbox=1, required_features=4,
  writingprogram=16}``, bbox in nanodegrees
  ``HeaderBBox{left=1,right=2,top=3,bottom=4 sint64}``;
- ``OSMData`` blob: ``PrimitiveBlock{stringtable=1, primitivegroup=2,
  granularity=17(=100), date_granularity=18(=1000), lat_offset=19,
  lon_offset=20}``; ``StringTable{s=1 repeated bytes}`` with index 0
  reserved empty; ``PrimitiveGroup{nodes=1, dense=2, ways=3,
  relations=4}``;
- ``Node{id=1 sint64, keys=2 packed, vals=3 packed, info=4,
  lat=8 sint64, lon=9 sint64}`` (plain nodes, NOT DenseNodes — dense is
  an optional feature a writer may skip; readers of this engine accept
  both), ``Way{id=1 int64, keys, vals, info, refs=8 packed sint64
  DELTA-coded}``, ``Relation{id=1 int64, ..., roles_sid=8 packed,
  memids=9 packed sint64 delta, types=10 packed enum n/w/r=0/1/2}``,
  ``Info{version=1, timestamp=2, changeset=3, uid=4, user_sid=5,
  visible=6}`` with timestamp in ``date_granularity`` ms units.
"""

from __future__ import annotations

import datetime as dt
import struct
import zlib

__all__ = [
    "encode_header_blob",
    "encode_data_blob",
    "read_pbf",
    "iter_blobs",
]

_GRANULARITY = 100  # nanodegrees per unit (spec default)
_DATE_GRANULARITY = 1000  # ms per timestamp unit (spec default)
_MEMBER_ENUM = {"n": 0, "w": 1, "r": 2}
_MEMBER_ENUM_REV = {0: "n", 1: "w", 2: "r"}
#: the entity kinds, in the order readers return them
KINDS = ("node", "way", "relation")


# --- protobuf wire primitives ------------------------------------------------


def _varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _zigzag(n: int) -> int:
    return (n << 1) ^ (n >> 63) if n < 0 else n << 1


def _unzigzag(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def _key(field: int, wire: int) -> bytes:
    return _varint((field << 3) | wire)


def _len_delim(field: int, payload: bytes) -> bytes:
    return _key(field, 2) + _varint(len(payload)) + payload


def _vint_field(field: int, n: int) -> bytes:
    # negative int32/int64 values are 10-byte two's-complement varints
    return _key(field, 0) + _varint(n & 0xFFFFFFFFFFFFFFFF)


def _packed(field: int, values) -> bytes:
    if not values:
        return b""
    return _len_delim(field, b"".join(_varint(v) for v in values))


def _packed_sint_delta(field: int, values) -> bytes:
    out, prev = [], 0
    for v in values:
        out.append(_zigzag(v - prev))
        prev = v
    return _packed(field, out)


# --- string table ------------------------------------------------------------


class _StringTable:
    """Index 0 is the reserved empty string (spec); lookups intern."""

    def __init__(self):
        self._idx = {b"": 0}
        self._list = [b""]

    def get(self, s: str | None) -> int:
        b = (s or "").encode()
        i = self._idx.get(b)
        if i is None:
            i = len(self._list)
            self._idx[b] = i
            self._list.append(b)
        return i

    def encode(self) -> bytes:
        return _len_delim(1, b"".join(_len_delim(1, s) for s in self._list))


# --- element encoders --------------------------------------------------------


def _info(st: _StringTable, row) -> bytes:
    """Info from a model-schema row (id, version, visible, ts, uid,
    changeset, user, ...)."""
    out = _vint_field(1, row[1])  # version
    if row[3] is not None:
        ts_ms = int(row[3].replace(tzinfo=dt.timezone.utc).timestamp() * 1000)
        out += _vint_field(2, ts_ms // _DATE_GRANULARITY)
    if row[5] is not None:
        out += _vint_field(3, row[5])  # changeset
    if row[4] is not None:
        out += _vint_field(4, row[4])  # uid
    if row[6] is not None:
        out += _vint_field(5, st.get(row[6]))  # user_sid
    if row[2] is not None:
        out += _vint_field(6, 1 if row[2] else 0)  # visible
    return _len_delim(4, out)


def _kv(st: _StringTable, tags: dict | None) -> bytes:
    if not tags:
        return b""
    items = sorted(tags.items())
    return _packed(2, [st.get(k) for k, _ in items]) + _packed(
        3, [st.get(v) for _, v in items]
    )


def _node(st: _StringTable, row) -> bytes:
    out = _key(1, 0) + _varint(_zigzag(row[0]))
    out += _kv(st, row[9]) + _info(st, row)
    if row[7] is not None and row[8] is not None:
        # granularity 100 nanodeg = 1e-7 deg, OSM's native coordinate
        # resolution; round-to-nearest (floor-division would bias
        # negative coordinates south/west)
        lat = round(row[7] * 1e9 / _GRANULARITY)
        lon = round(row[8] * 1e9 / _GRANULARITY)
        out += _key(8, 0) + _varint(_zigzag(lat))
        out += _key(9, 0) + _varint(_zigzag(lon))
    return _len_delim(1, out)


def _way(st: _StringTable, row) -> bytes:
    out = _vint_field(1, row[0])
    out += _kv(st, row[8]) + _info(st, row)
    out += _packed_sint_delta(8, row[7] or [])
    return _len_delim(3, out)


def _relation(st: _StringTable, row) -> bytes:
    out = _vint_field(1, row[0])
    out += _kv(st, row[8]) + _info(st, row)
    members = row[7] or []
    out += _packed(8, [st.get(m[2]) for m in members])
    out += _packed_sint_delta(9, [m[1] for m in members])
    out += _packed(10, [_MEMBER_ENUM[m[0]] for m in members])
    return _len_delim(4, out)


def _blob(type_: str, payload: bytes, compress: bool = True) -> bytes:
    if compress:
        body = _vint_field(2, len(payload)) + _len_delim(3, zlib.compress(payload))
    else:
        body = _len_delim(1, payload)
    header = _len_delim(1, type_.encode()) + _vint_field(3, len(body))
    return struct.pack(">I", len(header)) + header + body


def encode_header_blob(
    bbox: tuple | None = None, history: bool = True,
    writingprogram: str = "osm-history-splitter-spark",
    dense: bool = True,
) -> bytes:
    """``dense`` declares the DenseNodes required feature — the spec
    obliges a file that CONTAINS dense groups to declare it so readers
    without dense support refuse cleanly; declaring it when unused is
    merely conservative, so the sink (whose packer decides dense
    per-block) always sets it."""
    out = b""
    if bbox is not None:
        minlon, minlat, maxlon, maxlat = bbox
        bb = b"".join(
            _key(f, 0) + _varint(_zigzag(round(v * 1e9)))
            for f, v in ((1, minlon), (2, maxlon), (3, maxlat), (4, minlat))
        )
        out += _len_delim(1, bb)
    out += _len_delim(4, b"OsmSchema-V0.6")
    if dense:
        out += _len_delim(4, b"DenseNodes")
    if history:
        out += _len_delim(4, b"HistoricalInformation")
    out += _len_delim(16, writingprogram.encode())
    return _blob("OSMHeader", out)


def encode_data_blob(
    node_rows=(), way_rows=(), relation_rows=()
) -> bytes:
    """One PrimitiveBlock blob from model-schema row tuples (each kind in
    its own PrimitiveGroup, spec rule: groups never mix types)."""
    st = _StringTable()
    groups = []
    if node_rows:
        groups.append(_len_delim(2, b"".join(_node(st, r) for r in node_rows)))
    if way_rows:
        groups.append(_len_delim(2, b"".join(_way(st, r) for r in way_rows)))
    if relation_rows:
        groups.append(
            _len_delim(2, b"".join(_relation(st, r) for r in relation_rows))
        )
    block = st.encode() + b"".join(groups)
    block += _vint_field(17, _GRANULARITY) + _vint_field(18, _DATE_GRANULARITY)
    return _blob("OSMData", block)


# --- decoder -----------------------------------------------------------------


def _read_varint(buf: bytes, i: int) -> tuple[int, int]:
    n = shift = 0
    while True:
        b = buf[i]
        i += 1
        n |= (b & 0x7F) << shift
        if not b & 0x80:
            return n, i
        shift += 7


def _to_signed64(n: int) -> int:
    return n - (1 << 64) if n >= (1 << 63) else n


def _fields(buf: bytes):
    """Iterate (field, wire, value) — value is int for varint, bytes for
    length-delimited."""
    i = 0
    while i < len(buf):
        k, i = _read_varint(buf, i)
        field, wire = k >> 3, k & 7
        if wire == 0:
            v, i = _read_varint(buf, i)
        elif wire == 2:
            ln, i = _read_varint(buf, i)
            v = buf[i : i + ln]
            i += ln
        elif wire == 5:
            v = buf[i : i + 4]
            i += 4
        elif wire == 1:
            v = buf[i : i + 8]
            i += 8
        else:
            raise ValueError(f"unsupported wire type {wire}")
        yield field, wire, v


def _unpack(payload: bytes) -> list[int]:
    out, i = [], 0
    while i < len(payload):
        v, i = _read_varint(payload, i)
        out.append(v)
    return out


def _undelta_sint(values: list[int]) -> list[int]:
    out, prev = [], 0
    for v in values:
        prev += _unzigzag(v)
        out.append(prev)
    return out


def iter_blobs(data: bytes):
    """Yield (type, decompressed_payload) for each blob in the file."""
    i = 0
    while i < len(data):
        (hlen,) = struct.unpack_from(">I", data, i)
        i += 4
        header = data[i : i + hlen]
        i += hlen
        btype, dsize = "", 0
        for f, _, v in _fields(header):
            if f == 1:
                btype = v.decode()
            elif f == 3:
                dsize = v
        body = data[i : i + dsize]
        i += dsize
        raw = None
        seen = []
        for f, _, v in _fields(body):
            seen.append(f)
            if f == 1:
                raw = v
            elif f == 3:
                raw = zlib.decompress(v)
        if raw is None:
            # lzma_data(6)/zstd_data(7) etc. are legal per
            # fileformat.proto but unsupported here — fail loudly
            # instead of handing None to the varint parser
            raise ValueError(
                f"unsupported blob compression in {btype or '?'} blob "
                f"(fields {sorted(set(seen))}; only raw/zlib supported)"
            )
        yield btype, raw


def _decode_info(buf: bytes, strings: list[str], dgran: int = _DATE_GRANULARITY):
    version, ts, changeset, uid, user, visible = 0, None, None, None, None, True
    for f, _, v in _fields(buf):
        if f == 1:
            version = v
        elif f == 2:
            ts = dt.datetime.fromtimestamp(
                _to_signed64(v) * dgran / 1000.0, tz=dt.timezone.utc
            ).replace(tzinfo=None)
        elif f == 3:
            changeset = _to_signed64(v)
        elif f == 4:
            uid = _to_signed64(v)
        elif f == 5:
            user = strings[v]
        elif f == 6:
            visible = bool(v)
    return version, visible, ts, uid, changeset, user


def _decode_dense(
    buf: bytes, strings: list[str], gran, lat_off, lon_off,
    dgran: int = _DATE_GRANULARITY,
):
    """DenseNodes (PrimitiveGroup field 2 inside): interoperability with
    external writers; this engine's own writer emits plain nodes."""
    ids = lats = lons = kvs = []
    dense_info = {}
    for f, _, v in _fields(buf):
        if f == 1:
            ids = _undelta_sint(_unpack(v))
        elif f == 5:  # DenseInfo
            for ff, _, vv in _fields(v):
                dense_info[ff] = _unpack(vv)
        elif f == 8:
            lats = _undelta_sint(_unpack(v))
        elif f == 9:
            lons = _undelta_sint(_unpack(v))
        elif f == 10:
            kvs = _unpack(v)
    versions = dense_info.get(1, [1] * len(ids))

    # DenseInfo: versions=1 (plain), timestamps=2 (delta sint), changesets=3
    # (delta sint), uids=4 (delta sint), user_sids=5 (delta sint),
    # visibles=6 (plain bools)
    def und(field, n):
        vals = dense_info.get(field)
        return _undelta_sint(vals) if vals else [None] * n

    n = len(ids)
    tss = und(2, n)
    chs = und(3, n)
    uids = und(4, n)
    usids = und(5, n)
    viss = dense_info.get(6, [1] * n)
    out = []
    ki = 0
    for j in range(n):
        tags = {}
        while ki < len(kvs) and kvs[ki] != 0:
            tags[strings[kvs[ki]]] = strings[kvs[ki + 1]]
            ki += 2
        ki += 1  # skip the 0 separator
        ts = (
            dt.datetime.fromtimestamp(
                tss[j] * dgran / 1000.0, tz=dt.timezone.utc
            ).replace(tzinfo=None)
            if tss[j] is not None
            else None
        )
        out.append(
            (
                ids[j], versions[j], bool(viss[j]), ts,
                uids[j], chs[j],
                strings[usids[j]] if usids[j] is not None else None,
                (lat_off + gran * lats[j]) / 1e9,
                (lon_off + gran * lons[j]) / 1e9,
                tags,
            )
        )
    return out


def _parse_block(payload: bytes):
    """PrimitiveBlock envelope: (stringtable, groups, granularity,
    date_granularity, lat_offset, lon_offset)."""
    strings: list[str] = []
    groups = []
    gran, dgran, lat_off, lon_off = 100, 1000, 0, 0
    for f, _, v in _fields(payload):
        if f == 1:
            strings = [s.decode() for ff, _, s in _fields(v) if ff == 1]
        elif f == 2:
            groups.append(v)
        elif f == 17:
            gran = v
        elif f == 18:
            dgran = v
        elif f == 19:
            lat_off = _to_signed64(v)
        elif f == 20:
            lon_off = _to_signed64(v)
    return strings, groups, gran, dgran, lat_off, lon_off


def _iter_elements(payload: bytes):
    """``(kind, model-schema row)`` for every element of one OSMData
    PrimitiveBlock payload, in file order — the one element decoder
    behind both the driver codec (:func:`read_pbf`) and the distributed
    ingest (:func:`_decode_payload`)."""
    strings, groups, gran, dgran, lat_off, lon_off = _parse_block(payload)
    for g in groups:
        for f, _, v in _fields(g):
            if f == 1:  # plain Node
                yield "node", _decode_node(
                    v, strings, gran, lat_off, lon_off, dgran
                )
            elif f == 2:  # DenseNodes
                for r in _decode_dense(
                    v, strings, gran, lat_off, lon_off, dgran
                ):
                    yield "node", r
            elif f == 3:
                yield "way", _decode_way(v, strings, dgran)
            elif f == 4:
                yield "relation", _decode_relation(v, strings, dgran)


def read_pbf(path: str):
    """→ (node_rows, way_rows, relation_rows) matching model schemas —
    the same contract as ``osm_xml.parse_osm_xml``."""
    out = {kind: [] for kind in KINDS}
    data = open(path, "rb").read()
    for btype, payload in iter_blobs(data):
        if btype == "OSMData":
            for kind, row in _iter_elements(payload):
                out[kind].append(row)
    return tuple(out[kind] for kind in KINDS)


def _decode_node(
    buf: bytes, strings, gran, lat_off, lon_off,
    dgran: int = _DATE_GRANULARITY,
):
    nid = 0
    keys = vals = []
    info = (1, True, None, None, None, None)
    lat = lon = None
    for f, _, v in _fields(buf):
        if f == 1:
            nid = _unzigzag(v)
        elif f == 2:
            keys = _unpack(v)
        elif f == 3:
            vals = _unpack(v)
        elif f == 4:
            info = _decode_info(v, strings, dgran)
        elif f == 8:
            lat = (lat_off + gran * _unzigzag(v)) / 1e9
        elif f == 9:
            lon = (lon_off + gran * _unzigzag(v)) / 1e9
    version, visible, ts, uid, changeset, user = info
    tags = {strings[k]: strings[w] for k, w in zip(keys, vals)}
    return (nid, version, visible, ts, uid, changeset, user, lat, lon, tags)


def _decode_way(buf: bytes, strings, dgran: int = _DATE_GRANULARITY):
    wid = 0
    keys = vals = refs = []
    info = (1, True, None, None, None, None)
    for f, _, v in _fields(buf):
        if f == 1:
            wid = _to_signed64(v)
        elif f == 2:
            keys = _unpack(v)
        elif f == 3:
            vals = _unpack(v)
        elif f == 4:
            info = _decode_info(v, strings, dgran)
        elif f == 8:
            refs = _undelta_sint(_unpack(v))
    version, visible, ts, uid, changeset, user = info
    tags = {strings[k]: strings[w] for k, w in zip(keys, vals)}
    return (wid, version, visible, ts, uid, changeset, user, refs, tags)


def _decode_relation(buf: bytes, strings, dgran: int = _DATE_GRANULARITY):
    rid = 0
    keys = vals = roles = memids = types = []
    info = (1, True, None, None, None, None)
    for f, _, v in _fields(buf):
        if f == 1:
            rid = _to_signed64(v)
        elif f == 2:
            keys = _unpack(v)
        elif f == 3:
            vals = _unpack(v)
        elif f == 4:
            info = _decode_info(v, strings, dgran)
        elif f == 8:
            roles = _unpack(v)
        elif f == 9:
            memids = _undelta_sint(_unpack(v))
        elif f == 10:
            types = _unpack(v)
    version, visible, ts, uid, changeset, user = info
    tags = {strings[k]: strings[w] for k, w in zip(keys, vals)}
    members = [
        (_MEMBER_ENUM_REV[t], m, strings[r])
        for t, m, r in zip(types, memids, roles)
    ]
    return (rid, version, visible, ts, uid, changeset, user, members, tags)


# --- distributed ingest ------------------------------------------------------


def scan_blob_index(path: str) -> list[tuple[int, int, str]]:
    """Driver-side metadata pass: ``(offset, end, type)`` per blob,
    reading only the 4-byte length prefixes and BlobHeaders (seek-walk —
    no payload bytes touched). A planet file has O(10k) blobs, so this
    is milliseconds; the payload work is what gets distributed."""
    out = []
    with open(path, "rb") as f:
        while True:
            start = f.tell()
            head = f.read(4)
            if len(head) < 4:
                break
            (hlen,) = struct.unpack(">I", head)
            header = f.read(hlen)
            btype, dsize = "", 0
            for fld, _, v in _fields(header):
                if fld == 1:
                    btype = v.decode()
                elif fld == 3:
                    dsize = v
            f.seek(dsize, 1)
            out.append((start, start + 4 + hlen + dsize, btype))
    return out


def _element_schema():
    """The all-kinds decode frame: ``kind``, the shared metadata columns,
    then ``lat``, ``lon``, ``refs``, ``members``, ``tags`` — each typed
    as in ``model``, so ``id`` and ``version`` stay non-null."""
    from pyspark.sql import types as T

    from ..model import NODE_SCHEMA, RELATION_SCHEMA, WAY_SCHEMA

    fields = {
        f.name: f
        for schema in (NODE_SCHEMA, WAY_SCHEMA, RELATION_SCHEMA)
        for f in schema.fields
    }
    names = NODE_SCHEMA.fieldNames()[:9] + ["refs", "members", "tags"]
    return T.StructType(
        [T.StructField("kind", T.StringType(), False)]
        + [fields[n] for n in names]
    )


def _decode_payload(payload: bytes) -> list[tuple]:
    """Rows of the all-kinds schema (:func:`_element_schema`) for every
    element of one OSMData payload; the other kinds' columns are None."""
    rows = []
    for kind, r in _iter_elements(payload):
        if kind == "node":
            rows.append(("node",) + r[:9] + (None, None, r[9]))
        elif kind == "way":
            rows.append(("way",) + r[:7] + (None, None, r[7], None, r[8]))
        else:
            rows.append(("relation",) + r[:7] + (None, None, None, r[7], r[8]))
    return rows


def _decode_frame(spark, path: str, blobs_per_task: int = 8):
    """One blob-range ``mapInPandas`` that decodes every OSMData blob of
    ``path`` once into the all-kinds frame (:func:`_element_schema`)."""
    schema = _element_schema()
    cols = schema.fieldNames()
    data_blobs = [
        (lo, hi) for lo, hi, t in scan_blob_index(path) if t == "OSMData"
    ]
    chunks = [
        (data_blobs[i][0], data_blobs[min(i + blobs_per_task, len(data_blobs)) - 1][1])
        for i in range(0, len(data_blobs), blobs_per_task)
    ] or [(0, 0)]
    rdf = spark.createDataFrame(chunks, "lo long, hi long").repartition(
        len(chunks)
    )

    def parse(batches):
        import pandas as pd

        with open(path, "rb") as f:
            for pdf in batches:
                rows: list[tuple] = []
                for lo, hi in zip(pdf["lo"], pdf["hi"]):
                    if hi <= lo:
                        continue
                    f.seek(int(lo))
                    data = f.read(int(hi - lo))
                    for btype, payload in iter_blobs(data):
                        if btype == "OSMData":
                            rows.extend(_decode_payload(payload))
                yield pd.DataFrame(rows, columns=cols)

    return rdf.mapInPandas(parse, schema=schema)


def _kind_frame(decoded, tag: str):
    """The ``tag`` rows of an all-kinds frame, in that kind's ``model``
    schema."""
    from pyspark.sql import functions as F

    from ..model import NODE_SCHEMA, RELATION_SCHEMA, WAY_SCHEMA

    schema = {
        "node": NODE_SCHEMA, "way": WAY_SCHEMA, "relation": RELATION_SCHEMA
    }[tag]
    return decoded.filter(F.col("kind") == tag).select(*schema.fieldNames())


def read_pbf_elements(spark, path: str, tag: str, blobs_per_task: int = 8):
    """Distributed PBF ingest of one entity kind — the binary sibling of
    ``ingest.read_osm_elements_ranged``: the driver indexes blob
    boundaries (metadata only), executors seek to whole-blob byte ranges
    and decode them in Arrow ``mapInPandas``. Blobs are self-contained
    (per-block string tables), so range ownership is exact by
    construction — no overscan needed, unlike the XML reader.

    A lazy filter over the all-kinds decode: every scan decodes the
    whole file. Use :func:`load_pbf_dataframes` for all three kinds.

    Local/NFS paths (each executor opens the file); for object stores
    swap the ``open`` for fsspec, the ranges are already the right
    shape for ranged GETs."""
    return _kind_frame(_decode_frame(spark, path, blobs_per_task), tag)


class _DecodeCache:
    """Owner of one persisted all-kinds decode. Every frame
    :func:`load_pbf_dataframes` returns references it; when the last of
    them is collected, a ``weakref.finalize`` unpersists the decode."""

    __slots__ = ("__weakref__",)


def _release(decoded) -> None:
    # a stopped session took its cache with it
    if decoded.sparkSession.sparkContext._jsc is not None:
        decoded.unpersist()


def load_pbf_dataframes(spark, path: str):
    """(nodes, ways, relations) DataFrames from one ``.os[mh].pbf`` —
    the ``world_loader`` shape ``fetch.fetch_and_split`` consumes.

    The file is decoded once: the three frames are projections of one
    persisted (``MEMORY_AND_DISK``) all-kinds decode, materialized by
    the first action on any of them. The cache lives exactly as long as
    the frames: it is released once all three are garbage (derived
    frames do not keep it alive), so a service that loads a world per
    tick does not pin old worlds in executor storage."""
    import weakref

    from pyspark.storagelevel import StorageLevel

    decoded = _decode_frame(spark, path).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    owner = _DecodeCache()
    weakref.finalize(owner, _release, decoded).atexit = False
    frames = tuple(_kind_frame(decoded, tag) for tag in KINDS)
    for df in frames:
        df._pbf_decode_cache = owner
    return frames


# --- DenseNodes fast path (numpy-vectorized varints) -------------------------


def _varints_np(vals) -> bytes:
    """Concatenated varints of a non-negative uint64 array, vectorized:
    build the (n, 10) byte matrix column-by-column (≤10 shifts), then
    row-major-select each value's used bytes. ~50× the per-int Python
    loop on dense blocks."""
    import numpy as np

    v = np.asarray(vals, dtype=np.uint64).copy()
    n = v.shape[0]
    if n == 0:
        return b""
    bm = np.zeros((n, 10), dtype=np.uint8)
    nb = np.zeros(n, dtype=np.int8)
    for i in range(10):
        b = (v & np.uint64(0x7F)).astype(np.uint8)
        v >>= np.uint64(7)
        cont = v != 0
        bm[:, i] = b | (cont.astype(np.uint8) << 7)
        first_end = (nb == 0) & ~cont
        nb[first_end] = i + 1
        if not cont.any():
            break
    mask = np.arange(10)[None, :] < nb[:, None]
    return bm[mask].tobytes()


def _zigzag_np(v):
    import numpy as np

    a = np.asarray(v, dtype=np.int64)
    return ((a << 1) ^ (a >> 63)).view(np.uint64)


def _packed_np(field: int, uvals) -> bytes:
    payload = _varints_np(uvals)
    if not payload:
        return b""
    return _len_delim(field, payload)


def _delta_zz(a):
    import numpy as np

    arr = np.asarray(a, dtype=np.int64)
    d = np.diff(arr, prepend=np.int64(0))
    return _zigzag_np(d)


def encode_dense_nodes_blob(rows) -> bytes | None:
    """One PrimitiveBlock blob with a DenseNodes group — the format real
    writers emit and the sink's fast path. Returns None when the rows
    are not dense-eligible (any missing position or metadata field:
    DenseInfo is parallel arrays with no hole encoding, so such blocks
    take the plain-node path, which preserves nulls exactly)."""
    import numpy as np

    if not rows:
        return None
    for r in rows:
        if (
            r[2] is None or r[3] is None or r[4] is None or r[5] is None
            or r[6] is None or r[7] is None or r[8] is None
        ):
            return None
    st = _StringTable()
    n = len(rows)
    ids = np.fromiter((r[0] for r in rows), np.int64, n)
    lats = np.fromiter(
        (round(r[7] * 1e9 / _GRANULARITY) for r in rows), np.int64, n
    )
    lons = np.fromiter(
        (round(r[8] * 1e9 / _GRANULARITY) for r in rows), np.int64, n
    )
    versions = np.fromiter((r[1] for r in rows), np.int64, n)
    tss = np.fromiter(
        (
            int(r[3].replace(tzinfo=dt.timezone.utc).timestamp() * 1000)
            // _DATE_GRANULARITY
            for r in rows
        ),
        np.int64,
        n,
    )
    chs = np.fromiter((r[5] for r in rows), np.int64, n)
    uids = np.fromiter((r[4] for r in rows), np.int64, n)
    usids = np.fromiter((st.get(r[6]) for r in rows), np.int64, n)
    viss = np.fromiter((1 if r[2] else 0 for r in rows), np.uint64, n)

    kvs: list[int] = []
    for r in rows:
        for k, v in sorted((r[9] or {}).items()):
            kvs.append(st.get(k))
            kvs.append(st.get(v))
        kvs.append(0)

    info = (
        _packed_np(1, versions.view(np.uint64))
        + _packed_np(2, _delta_zz(tss))
        + _packed_np(3, _delta_zz(chs))
        + _packed_np(4, _delta_zz(uids))
        + _packed_np(5, _delta_zz(usids))
        + _packed_np(6, viss)
    )
    dense = (
        _packed_np(1, _delta_zz(ids))
        + _len_delim(5, info)
        + _packed_np(8, _delta_zz(lats))
        + _packed_np(9, _delta_zz(lons))
        + _packed_np(10, np.asarray(kvs, dtype=np.uint64))
    )
    group = _len_delim(2, dense)
    block = (
        st.encode() + _len_delim(2, group)
        + _vint_field(17, _GRANULARITY) + _vint_field(18, _DATE_GRANULARITY)
    )
    return _blob("OSMData", block)
