"""Seeded inputs and their Spark-free expected outputs.

Every input is built from ``ophois_spark.sources.pages.page_xml``: one
OSM-XML street grid per map page, tiles overlapping by one row/column of
intersections so neighbouring pages re-emit the same node ids. The seed
moves the tile origin (which changes node ids, coordinates and jitter)
and picks where the non-map pages sit among the map pages, and which map
pages carry the load quirks below. The shapes (tile layout, page counts,
quirk count) are fixed, so every seed gives the engine the same input
sizes and about the same number of loop rounds and jobs.

``replay_graph`` is the reference load semantics written out in plain
Python (first record wins for a node id, links canonical and
deduplicated, self-loops and links to absent nodes dropped); the
benchmark's checks compare the engine against it. It runs once per seed,
outside every timed window.

Quirk pages exercise those semantics: a duplicate of an interior node
with other coordinates before the page's own node line (it must win), a
duplicate of another interior node with far-off coordinates after it (it
must lose), and a way holding a self-loop and a reference to an absent
node (both must be dropped). The engine's "first" is the order of
(xxhash64(url), position in page), the replay's is page order; the two
agree here because conflicting duplicates share a page, where position
decides, while node ids shared between pages carry the same coordinates
on every page. ``replay_graph`` refuses inputs where that does not hold.
"""

from __future__ import annotations

import hashlib
import os
import random
import re
from collections import deque
from dataclasses import dataclass, field

from ophois_spark import SEPARATOR
from ophois_spark.kernels.cells import cell_id
from ophois_spark.kernels.osmxml import extract_records
from ophois_spark.sources.pages import page_xml

GRID = 12  # intersections per page side, as in the repo's scaling bench
NOISE_SHARE = 7  # one page in NOISE_SHARE is non-map text in another language
QUIRK_SHARE = 3  # one map page in QUIRK_SHARE carries the load quirks
CELL_RES = 11
TILE_ZOOM = 14


@dataclass(frozen=True)
class Layout:
    """Which tiles exist. ``tiles`` are (tx, ty) before the seed's origin."""

    tiles: tuple[tuple[int, int], ...]
    grid: int = GRID
    # tile groups the largest component must reach, e.g. both river banks
    banks: tuple[tuple[tuple[int, int], ...], ...] = ()


def square_layout(side: int) -> Layout:
    return Layout(tuple((tx, ty) for tx in range(side) for ty in range(side)))


def river_layout(
    nx: int, ny: int, river_x: int, bridges: tuple[int, ...], island_x: int, grid: int = GRID
) -> Layout:
    """An ``nx``×``ny`` grid cut by a column of missing tiles at
    ``river_x``, crossed only by the tiles left at rows ``bridges``,
    plus one island tile at column ``island_x`` (far enough right to be
    its own component). The bridge sits away from the smallest node id,
    so the minimum label must walk around the river: the hop diameter
    of a city split by a river, which sets the label-propagation round
    count."""
    tiles = [
        (tx, ty)
        for tx in range(nx)
        for ty in range(ny)
        if tx != river_x or ty in bridges
    ]
    banks = (
        tuple(t for t in tiles if t[0] < river_x),
        tuple(t for t in tiles if t[0] > river_x),
    )
    return Layout(tuple(tiles + [(island_x, 0)]), grid, banks)


# ingest_tile: 28×28 map pages plus noise pages, enough that extract and
# the dedup shuffles outweigh the per-job driver cost at local[4]
INGEST_LAYOUT = square_layout(28)
# simplify: 3×2 tiles of 6×6 intersections, river in column 1 bridged in
# row 1, island at column 4
SIMPLIFY_LAYOUT = river_layout(3, 2, 1, (1,), 4, grid=6)


@dataclass
class Pages:
    """The generated pages table, as plain columns."""

    url: list[str] = field(default_factory=list)
    warc_ts_days: list[int] = field(default_factory=list)
    text: list[str] = field(default_factory=list)
    lang: list[str] = field(default_factory=list)

    def __len__(self) -> int:
        return len(self.url)

    def map_texts(self) -> list[str]:
        return [t for t, lang in zip(self.text, self.lang) if lang == "en"]


def origin(seed: int) -> tuple[int, int]:
    rng = random.Random(seed)
    return rng.randrange(0, 4000), rng.randrange(0, 4000)


_NODE_ID = re.compile(r'<node id="([^"]*)" lat="([^"]*)" lon="([^"]*)"/>')


def with_quirks(text: str, grid: int, k: int) -> str:
    """``text`` (a ``page_xml`` page) with the load quirks added; ``k``
    numbers the absent node the extra way refers to."""
    lines = text.split("\n")
    # node lines follow the two header lines, column by column; interior
    # nodes (not on the tile border) appear on this page only
    a, b, c = (2 + cx * grid + cy for cx, cy in ((1, 1), (2, 1), (1, 2)))
    a_id, a_lat, a_lon = _NODE_ID.search(lines[a]).groups()
    b_id = _NODE_ID.search(lines[b]).group(1)
    c_id = _NODE_ID.search(lines[c]).group(1)
    # page_xml coordinates always have a decimal point, so an appended
    # digit moves the node by under a metre
    first_dup = f'  <node id="{a_id}" lat="{a_lat}1" lon="{a_lon}1"/>'
    late_dup = f'  <node id="{b_id}" lat="0.5" lon="0.5"/>'
    way = [
        f'  <way id="{k}">',
        f'    <nd ref="{c_id}"/>',
        f'    <nd ref="{c_id}"/>',
        f'    <nd ref="-{k + 1}"/>',
        "  </way>",
    ]
    end_nodes = 2 + grid * grid
    return "\n".join(lines[:2] + [first_dup] + lines[2:end_nodes] + [late_dup] + way + lines[end_nodes:])


def make_pages(seed: int, layout: Layout) -> Pages:
    """Map pages for every tile of ``layout`` shifted by the seed's
    origin, with non-map pages placed at seed-chosen positions and the
    load quirks on seed-chosen map pages."""
    ox, oy = origin(seed)
    rng = random.Random(seed * 7919 + 1)
    n_map = len(layout.tiles)
    n_noise = max(1, n_map // (NOISE_SHARE - 1))
    total = n_map + n_noise
    noise_at = set(rng.sample(range(total), n_noise))
    quirk_at = set(rng.sample(range(n_map), max(1, n_map // QUIRK_SHARE)))
    tiles = iter(enumerate(layout.tiles))
    pages = Pages()
    for i in range(total):
        pages.url.append(f"https://maps.example.org/s{seed}/page/{i:07d}")
        pages.warc_ts_days.append(rng.randrange(0, 365))
        if i in noise_at:
            pages.text.append(f"Lorem ipsum page {i} — no map content here. " * 8)
            pages.lang.append(rng.choice(("de", "fr")))
        else:
            j, (tx, ty) = next(tiles)
            text = page_xml(tx + ox, ty + oy, layout.grid)
            if j in quirk_at:
                text = with_quirks(text, layout.grid, j)
            pages.text.append(text)
            pages.lang.append("en")
    return pages


def bank_node_ids(seed: int, layout: Layout) -> list[set[str]]:
    """Node ids of each of ``layout.banks``, read from the same pages."""
    ox, oy = origin(seed)
    out = []
    for bank in layout.banks:
        ids = set()
        for tx, ty in bank:
            ids.update(m.group(1) for m in _NODE_ID.finditer(page_xml(tx + ox, ty + oy, layout.grid)))
        out.append(ids)
    return out


def write_pages_parquet(pages: Pages, directory: str, n_files: int) -> None:
    """Pages table in the engine's schema, split over ``n_files`` files
    so the scan has the same splits on every run."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(directory, exist_ok=True)
    n = len(pages)
    for k in range(n_files):
        idx = range(k * n // n_files, (k + 1) * n // n_files)
        table = pa.table(
            {
                "url": pa.array([pages.url[i] for i in idx], pa.string()),
                "warc_ts": pa.array(
                    [pages.warc_ts_days[i] * 86_400_000_000 for i in idx], pa.timestamp("us", tz="UTC")
                ),
                "html": pa.array([pages.text[i][:64].encode() for i in idx], pa.binary()),
                "text": pa.array([pages.text[i] for i in idx], pa.string()),
                "lang": pa.array([pages.lang[i] for i in idx], pa.string()),
            }
        )
        pq.write_table(table, os.path.join(directory, f"part-{k:05d}.parquet"))


@dataclass
class Graph:
    """A street graph in the engine's load semantics."""

    nodes: dict[str, tuple[str, str]]  # id → (lat, lon) strings, verbatim
    links: set[tuple[str, str]]  # canonical (src < dst)
    records: int = 0  # extracted line records
    node_records: int = 0  # extracted node records (before dedup)


def replay_graph(texts: list[str]) -> Graph:
    """Spark-free replay of extract + load over page texts in order.
    Raises if two pages' first records of a node id disagree: the engine
    orders pages by url hash, not as listed, so the winner would not be
    defined here."""
    nodes: dict[str, tuple[str, str]] = {}
    raw: list[tuple[str, str]] = []
    records = node_records = 0
    for text in texts:
        on_page: set[str] = set()
        for rec in extract_records(text.splitlines(), SEPARATOR):
            records += 1
            f = rec.split(SEPARATOR)
            if len(f) == 3:
                node_records += 1
                if f[0] in on_page:
                    continue  # a later record of the page: the first wins
                on_page.add(f[0])
                if nodes.setdefault(f[0], (f[1], f[2])) != (f[1], f[2]):
                    raise ValueError(f"node {f[0]}: pages disagree on its coordinates")
            elif len(f) == 2 and f[0] != f[1]:
                raw.append((min(f), max(f)))
    links = {e for e in raw if e[0] in nodes and e[1] in nodes}
    return Graph(nodes, links, records, node_records)


def row_hash(*fields: str) -> int:
    """Per-row hash shared with the engine-side summary: the first 10
    hex digits of md5 over the ␟-joined fields."""
    return int.from_bytes(hashlib.md5(SEPARATOR.join(fields).encode()).digest()[:5], "big")


def table_digest(rows) -> tuple[int, int]:
    """Order-independent (count, sum of row hashes) of an iterable of
    string tuples."""
    n = h = 0
    for r in rows:
        n += 1
        h += row_hash(*r)
    return n, h


def _tiles(v, lo: float, span: float, n: int):
    import numpy as np

    return np.clip(np.floor((np.asarray(v, np.float64) + lo) / span * n), 0, n - 1).astype(np.int64)


def expected_ingest(g: Graph) -> dict[str, tuple[int, int]]:
    """(count, digest) of the four ingest_tile outputs: nodes, links,
    cell groups (cell, lat, lon) and per-tile edge rows."""
    ids = list(g.nodes)
    lat_s = [g.nodes[i][0] for i in ids]
    lon_s = [g.nodes[i][1] for i in ids]
    cells = cell_id([float(x) for x in lon_s], [float(x) for x in lat_s], CELL_RES)
    groups = {(str(int(c)), la, lo) for c, la, lo in zip(cells, lat_s, lon_s)}
    # a link covers every tile its bounding box overlaps; tiles grow with
    # the coordinate, so the box's tiles are those of its endpoints
    n = 1 << TILE_ZOOM
    pos = {i: k for k, i in enumerate(ids)}
    node_tx = _tiles([float(x) for x in lon_s], 180.0, 360.0, n).tolist()
    node_ty = _tiles([float(x) for x in lat_s], 90.0, 180.0, n).tolist()
    tile_rows = []
    for s, d in g.links:
        a, b = pos[s], pos[d]
        xa, xb, ya, yb = node_tx[a], node_tx[b], node_ty[a], node_ty[b]
        for tx in range(min(xa, xb), max(xa, xb) + 1):
            for ty in range(min(ya, yb), max(ya, yb) + 1):
                tile_rows.append((s, d, str(tx), str(ty)))
    return {
        "nodes": table_digest((i, la, lo) for i, (la, lo) in g.nodes.items()),
        "links": table_digest(g.links),
        "cell_groups": table_digest(groups),
        "tile_edges": table_digest(tile_rows),
    }


def largest_component(g: Graph) -> set[str]:
    """Pure-Python BFS: node set of the largest component (ties → the
    component holding the smallest id, as the engine breaks them)."""
    adj: dict[str, list[str]] = {i: [] for i in g.nodes}
    for s, d in g.links:
        adj[s].append(d)
        adj[d].append(s)
    seen: set[str] = set()
    best: set[str] = set()
    for start in sorted(adj):
        if start in seen:
            continue
        comp = {start}
        queue = deque([start])
        while queue:
            for v in adj[queue.popleft()]:
                if v not in comp:
                    comp.add(v)
                    queue.append(v)
        seen |= comp
        if len(comp) > len(best):
            best = comp
    return best


def write_graph_parquet(g: Graph, directory: str) -> None:
    """The pre-built street graph in the engine's StreetGraph schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ids = sorted(g.nodes)
    os.makedirs(os.path.join(directory, "nodes"), exist_ok=True)
    os.makedirs(os.path.join(directory, "edges"), exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "id": ids,
                "lat": [g.nodes[i][0] for i in ids],
                "lon": [g.nodes[i][1] for i in ids],
                "lat_d": pa.array([float(g.nodes[i][0]) for i in ids], pa.float64()),
                "lon_d": pa.array([float(g.nodes[i][1]) for i in ids], pa.float64()),
            }
        ),
        os.path.join(directory, "nodes", "part-00000.parquet"),
    )
    links = sorted(g.links)
    pq.write_table(
        pa.table({"src": [s for s, _ in links], "dst": [d for _, d in links]}),
        os.path.join(directory, "edges", "part-00000.parquet"),
    )
