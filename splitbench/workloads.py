"""The benchmark's workloads: inputs, the timed job, and its output check.

A workload object is built once per process. ``setup`` writes the seeded
inputs under the work directory; ``run`` is one job iteration into a fresh
output directory (the only timed call); ``read`` re-reads that directory
with the benchmark's own readers and ``check`` compares it with the
independent expectation from :mod:`oracle`.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np

import oracle
import worlds


class SplitPbfSoftcut:
    """``load_pbf_dataframes`` -> ``run_split(mode="softcut")`` with one
    ``.osh.pbf`` sink per polygon extract (the fetch service's path)."""

    name = "split_pbf_softcut"
    size = dict(n_nodes=8000, n_ways=2000, n_relations=200, poly_vertices=200)

    def setup(self, spark, work: Path, seed: int) -> None:
        self.world = worlds.make_world(seed, **self.size)
        self.input = work / "world.osh.pbf"
        worlds.write_osh_pbf(self.world, self.input)
        self.config = worlds.write_poly_config(self.world, work)
        self._expected = None

    def run(self, spark, out: Path) -> None:
        from osm_history_splitter_spark.sources.config import parse_config
        from osm_history_splitter_spark.sources.pbf import load_pbf_dataframes
        from osm_history_splitter_spark.splitter import run_split

        catalog = parse_config(self.config)
        nodes, ways, relations = load_pbf_dataframes(spark, str(self.input))
        run_split(spark, nodes, ways, relations, catalog, str(out),
                  mode="softcut",
                  osm_filenames={e.name: f"{e.name}.osh.pbf" for e in catalog})

    def outputs(self, out: Path) -> list[Path]:
        return sorted((out / "osm").glob("*.osh.pbf"))

    def read(self, out: Path) -> dict:
        return {p.name[:-len(".osh.pbf")]: oracle.read_osh_pbf(p)
                for p in self.outputs(out)}

    def expected(self):
        if self._expected is None:
            self._expected = oracle.expected_softcut(self.world)
        return self._expected

    def check(self, got: dict) -> list[str]:
        return oracle.check_softcut(self.world, got, self.expected())

    def scans(self):
        """Standalone full scans of the lazy readers: ``(layer, frame
        thunk)`` pairs the traced run materializes once each."""
        from osm_history_splitter_spark.sources.pbf import read_pbf_elements

        return [("sources.pbf", lambda spark, t=t: read_pbf_elements(
            spark, str(self.input), t)) for t in ("node", "way", "relation")]


class SplitOshHardcut(SplitPbfSoftcut):
    """``ingest_osm_xml`` -> ``run_split(mode="hardcut")`` with one ``.osh``
    sink per BBOX extract."""

    name = "split_osh_hardcut"

    def setup(self, spark, work: Path, seed: int) -> None:
        self.world = worlds.make_world(seed, **self.size)
        self.input = work / "world.osh"
        worlds.write_osh(self.world, self.input)
        self.config = worlds.write_bbox_config(self.world, work)
        self._expected = None

    def run(self, spark, out: Path) -> None:
        from osm_history_splitter_spark.sources.config import parse_config
        from osm_history_splitter_spark.sources.ingest import ingest_osm_xml
        from osm_history_splitter_spark.splitter import run_split

        catalog = parse_config(self.config)
        nodes, ways, relations = ingest_osm_xml(spark, str(self.input))
        run_split(spark, nodes, ways, relations, catalog, str(out),
                  mode="hardcut", osm_filenames=True)

    def outputs(self, out: Path) -> list[Path]:
        return sorted((out / "osm").glob("*.osh"))

    def read(self, out: Path) -> dict:
        return {p.name[:-len(".osh")]: oracle.read_osh(p) for p in self.outputs(out)}

    def expected(self):
        if self._expected is None:
            self._expected = oracle.expected_hardcut(self.world)
        return self._expected

    def check(self, got: dict) -> list[str]:
        return oracle.check_hardcut(self.world, got, self.expected())

    def scans(self):
        from osm_history_splitter_spark.sources.ingest import read_osm_elements

        return [("sources.ingest", lambda spark, t=t: read_osm_elements(
            spark, str(self.input), t)) for t in ("node", "way", "relation")]


class PagesWarc:
    """``read_pages`` -> ``split_pages_to_warc`` over a WARC+WET crawl."""

    name = "pages_warc"
    n_urls = 3000
    files = 4

    def setup(self, spark, work: Path, seed: int) -> None:
        from osm_history_splitter_spark.plans.catalog import Extract, ExtractCatalog
        from osm_history_splitter_spark.sources.warc import (
            encode_conversion_record,
            encode_response_record,
            encode_warcinfo_record,
            gzip_member,
        )

        self.rows = worlds.make_pages(seed, self.n_urls)
        self.polys = worlds.page_polys(seed)
        self.catalog = ExtractCatalog()
        for name, ring in self.polys.items():
            self.catalog.add(Extract.poly(name, [ring / 100.0]))
        self.input = work / "crawl"
        self.input.mkdir()
        for k in range(self.files):
            part = self.rows[k::self.files]
            for ext, enc in (
                ("warc", lambda r: encode_response_record(r[0], r[1], r[2])),
                ("wet", lambda r: encode_conversion_record(r[0], r[1], r[3], r[4])),
            ):
                name = f"crawl-{k:05d}.{ext}.gz"
                body = [gzip_member(encode_warcinfo_record(name))]
                body += [gzip_member(enc(r)) for r in part]
                (self.input / name).write_bytes(b"".join(body))
        self._expected = None

    def run(self, spark, out: Path) -> None:
        from osm_history_splitter_spark.sources.warc import (
            read_pages,
            split_pages_to_warc,
        )

        split_pages_to_warc(spark, read_pages(spark, str(self.input)),
                            self.catalog, str(out))

    def outputs(self, out: Path) -> list[Path]:
        return sorted(p for p in out.rglob("*") if p.name.endswith((".warc.gz", ".wet.gz")))

    def read(self, out: Path) -> dict:
        return {d.name: oracle.read_warc_dir(d) for d in sorted(out.iterdir())
                if d.is_dir()}

    def expected(self):
        if self._expected is None:
            self._expected = oracle.expected_pages(self.rows, self.polys)
        return self._expected

    def check(self, got: dict) -> list[str]:
        return oracle.check_pages(self.rows, got, self.expected())

    def scans(self):
        from osm_history_splitter_spark.sources.warc import read_pages

        return [("sources.warc", lambda spark: read_pages(spark, str(self.input)))]


WORKLOADS = {w.name: w for w in (SplitPbfSoftcut, SplitOshHardcut, PagesWarc)}


# --- perturbed outputs (the checks' own test) --------------------------------------


def perturbations(name: str, got: dict, rng: np.random.Generator):
    """``(label, outputs)`` copies of read-back outputs with one fault
    each: one dropped row, one moved node, one extra version."""
    ext = sorted(k for k, v in got.items() if v)[0]
    rows = got[ext]
    if name == PagesWarc.name:
        i = int(rng.integers(len(rows)))
        kind, url, date, body = rows[i]
        moved = (kind, url, date, body + b" ")
        later = date.replace("Z", ".5Z")
        yield "dropped record", {**got, ext: rows[:i] + rows[i + 1:]}
        yield "changed payload", {**got, ext: rows[:i] + [moved] + rows[i + 1:]}
        yield "extra snapshot", {**got, ext: rows + [(kind, url, later, body)]}
        return
    i = int(rng.integers(len(rows)))
    nodes = [k for k, r in enumerate(rows) if r[0] == "n"]
    j = nodes[int(rng.integers(len(nodes)))]
    kind, nid, ver, (lat, lon) = rows[j]
    moved = (kind, nid, ver, (round(lat + 1e-4, 7), lon))
    top = max(r[2] for r in rows if r[:2] == rows[i][:2])
    extra = rows[i][:2] + (top + 1,) + rows[i][3:]
    yield "dropped row", {**got, ext: rows[:i] + rows[i + 1:]}
    yield "moved node", {**got, ext: rows[:j] + [moved] + rows[j + 1:]}
    yield "extra version", {**got, ext: rows + [extra]}
