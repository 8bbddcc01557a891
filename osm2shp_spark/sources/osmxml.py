"""OSM XML ingestion (O1): ``planet.osm(.gz|.bz2)`` → nodes/ways tables.

The reference consumes exactly this input (osm2shp.cc:12-17 via
osmium's XML reader; README:6,11 names the gz/bz2 variants). This
module closes the same input mouth for the Spark engine: a streaming
stdlib ``xml.etree.iterparse`` pass converts the document into the
engine's table shape (SURVEY §1.1) —

    nodes(id BIGINT, lon DOUBLE, lat DOUBLE, tags MAP<STRING,STRING>)
    ways(id BIGINT, refs ARRAY<BIGINT>, tags MAP<STRING,STRING>)

— written as batched parquet row groups with bounded memory (elements
are ``clear()``-ed as soon as they close; batches flush every
``DEFAULT_BATCH_ROWS`` rows, so peak memory is one batch regardless
of file size).

Scale note (an honestly single-node stage): XML is an inherently
sequential container — the reference itself parses it single-threaded
through osmium. At planet scale ingestion is a one-time conversion
whose parquet output IS the distributed input; everything downstream
is Spark. For parallel ingestion, pre-split the planet file (.pbf
blocks / osmium extracts) and run :func:`parse_osm_xml` per split —
it is a pure function of a byte stream, so it also rides
``mapInPandas`` over a table of split paths unchanged.
"""

from __future__ import annotations

import bz2
import gzip
import io
import os
import xml.etree.ElementTree as ET
from typing import IO, Iterator

import pyarrow as pa
import pyarrow.parquet as pq

NODE_SCHEMA = pa.schema(
    [
        ("id", pa.int64()),
        ("lon", pa.float64()),
        ("lat", pa.float64()),
        ("tags", pa.map_(pa.string(), pa.string())),
    ]
)

WAY_SCHEMA = pa.schema(
    [
        ("id", pa.int64()),
        ("refs", pa.list_(pa.int64())),
        ("tags", pa.map_(pa.string(), pa.string())),
    ]
)

#: rows per parquet row group, read when a writer opens
DEFAULT_BATCH_ROWS = 100_000


def open_osm(path: str) -> IO[bytes]:
    """Open ``.osm`` / ``.osm.gz`` / ``.osm.bz2`` as a binary stream
    (the reference's accepted inputs, osm2shp.cc:13)."""
    if path.endswith(".gz"):
        return gzip.open(path, "rb")
    if path.endswith(".bz2"):
        return bz2.open(path, "rb")
    return open(path, "rb")


def _strip(tag: str) -> str:
    """Element name without an XML namespace prefix."""
    return tag.rsplit("}", 1)[-1]


def parse_osm_xml(
    stream: IO[bytes] | bytes,
) -> Iterator[tuple[str, tuple]]:
    """Stream (kind, row) tuples from an OSM XML byte stream.

    kind is ``node`` → (id, lon, lat, tags) or ``way`` →
    (id, refs, tags); tags is a list of (k, v) pairs in document order
    (duplicate keys keep the last value when loaded as a map — the
    reference's tag lookup semantics, osm/handler.cc:16-24, read
    single values per key anyway). Relations are skipped — the
    reference handler ignores them too.
    """
    if isinstance(stream, bytes):
        stream = io.BytesIO(stream)
    refs: list[int] = []
    tags: list[tuple[str, str]] = []
    root = None
    for event, elem in ET.iterparse(stream, events=("start", "end")):
        name = _strip(elem.tag)
        if event == "start":
            if root is None:
                root = elem  # the <osm> document element
            if name in ("node", "way"):
                refs, tags = [], []
            continue
        # end events
        if name == "tag":
            k, v = elem.get("k"), elem.get("v")
            if k is not None and v is not None:
                tags.append((k, v))
        elif name == "nd":
            r = elem.get("ref")
            if r is not None:
                refs.append(int(r))
        elif name == "node":
            yield (
                "node",
                (
                    int(elem.get("id")),
                    float(elem.get("lon")),
                    float(elem.get("lat")),
                    tags,
                ),
            )
            elem.clear()
            # clear() empties the element but it stays attached as a
            # child of <osm>; without dropping the root's children,
            # memory grows O(total entities) on a planet file instead
            # of the documented one-batch bound (standard iterparse
            # recipe)
            if root is not None:
                root.clear()
        elif name == "way":
            yield ("way", (int(elem.get("id")), refs, tags))
            elem.clear()
            if root is not None:
                root.clear()
        elif name not in ("node", "way", "nd", "tag"):
            elem.clear()


class _BatchWriter:
    """Row-group-batched parquet writer with a fixed schema."""

    def __init__(self, path: str, schema: pa.Schema):
        self.path = path
        self.schema = schema
        self.batch_rows = DEFAULT_BATCH_ROWS
        self.rows: list[tuple] = []
        self.writer: pq.ParquetWriter | None = None
        self.count = 0

    def add(self, row: tuple) -> None:
        self.rows.append(row)
        if len(self.rows) >= self.batch_rows:
            self.flush()

    def flush(self) -> None:
        if not self.rows:
            return
        cols = list(zip(*self.rows))
        table = pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, self.schema)],
            schema=self.schema,
        )
        if self.writer is None:
            self.writer = pq.ParquetWriter(self.path, self.schema)
        self.writer.write_table(table)
        self.count += len(self.rows)
        self.rows = []

    def close(self) -> None:
        self.flush()
        if self.writer is None:
            # always leave a valid (possibly empty) parquet file
            self.writer = pq.ParquetWriter(self.path, self.schema)
        self.writer.close()


def convert_osm_to_parquet(osm_path: str, out_dir: str) -> dict[str, int]:
    """Convert an OSM XML file into ``<out_dir>/nodes.parquet`` +
    ``<out_dir>/ways.parquet`` (the CLI/engine input shape). Returns
    per-table row counts. Memory is bounded by ``DEFAULT_BATCH_ROWS``.
    """
    os.makedirs(out_dir, exist_ok=True)
    nodes = _BatchWriter(os.path.join(out_dir, "nodes.parquet"), NODE_SCHEMA)
    ways = _BatchWriter(os.path.join(out_dir, "ways.parquet"), WAY_SCHEMA)
    with open_osm(osm_path) as f:
        for kind, row in parse_osm_xml(f):
            (nodes if kind == "node" else ways).add(row)
    nodes.close()
    ways.close()
    return {"nodes": nodes.count, "ways": ways.count}


# ---------------------------------------------------------------------------
# XML rendering (test fixture + round-trip support)
# ---------------------------------------------------------------------------

def _xml_escape(s: str) -> str:
    return (
        s.replace("&", "&amp;")
        .replace("<", "&lt;")
        .replace(">", "&gt;")
        .replace('"', "&quot;")
    )


def render_osm_xml(
    node_rows: list[tuple[int, float, float, dict[str, str]]],
    way_rows: list[tuple[int, list[int], dict[str, str]]],
) -> bytes:
    """Render rows back into an OSM XML document (used by tests to
    prove ingestion round-trips the engine's table shape exactly)."""
    out = ['<?xml version="1.0" encoding="UTF-8"?>']
    out.append('<osm version="0.6" generator="osm2shp_spark-test">')
    for nid, lon, lat, tags in node_rows:
        body = "".join(
            f'<tag k="{_xml_escape(k)}" v="{_xml_escape(v)}"/>'
            for k, v in tags.items()
        )
        out.append(
            f'<node id="{nid}" lat="{lat!r}" lon="{lon!r}" version="1">{body}</node>'
        )
    for wid, refs, tags in way_rows:
        body = "".join(f'<nd ref="{r}"/>' for r in refs) + "".join(
            f'<tag k="{_xml_escape(k)}" v="{_xml_escape(v)}"/>'
            for k, v in tags.items()
        )
        out.append(f'<way id="{wid}" version="1">{body}</way>')
    out.append("</osm>")
    return "\n".join(out).encode("utf-8")
