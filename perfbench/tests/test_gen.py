"""The seeded generator and the Spark-free replay."""

from __future__ import annotations

import pytest

from ophois_spark import SEPARATOR
from perfbench import gen

SMALL = gen.square_layout(2)


def test_same_seed_same_inputs():
    a, b = gen.make_pages(11, SMALL), gen.make_pages(11, SMALL)
    assert (a.url, a.text, a.lang, a.warc_ts_days) == (b.url, b.text, b.lang, b.warc_ts_days)
    ga, gb = gen.replay_graph(a.map_texts()), gen.replay_graph(b.map_texts())
    assert gen.expected_ingest(ga) == gen.expected_ingest(gb)


def test_seed_moves_origin_and_noise_but_not_shape():
    a, b = gen.make_pages(1, SMALL), gen.make_pages(2, SMALL)
    ga, gb = gen.replay_graph(a.map_texts()), gen.replay_graph(b.map_texts())
    assert set(ga.nodes).isdisjoint(gb.nodes)
    assert (len(ga.nodes), len(ga.links), len(a)) == (len(gb.nodes), len(gb.links), len(b))
    assert a.lang != b.lang or a.url != b.url


def test_replay_load_semantics():
    s = SEPARATOR
    page = "\n".join(
        [
            '<node id="1" lat="45.1" lon="5.1"/>',
            '<node id="2" lat="45.2" lon="5.2"/>',
            '<node id="1" lat="9" lon="9"/>',  # later duplicate: first wins
            '<way id="7">',
            '<nd ref="2"/>',
            '<nd ref="1"/>',
            '<nd ref="1"/>',  # self-loop: dropped
            '<nd ref="3"/>',  # node 3 absent: dangling, dropped
            "</way>",
        ]
    )
    g = gen.replay_graph([page, page])
    assert g.nodes == {"1": ("45.1", "5.1"), "2": ("45.2", "5.2")}
    assert g.links == {("1", "2")}
    assert (g.records, g.node_records) == (12, 6)
    assert s not in "".join(g.nodes)


def test_replay_refuses_order_dependent_duplicates():
    a = '<node id="1" lat="45.1" lon="5.1"/>'
    b = '<node id="1" lat="9" lon="9"/>'
    assert gen.replay_graph([a, a]).nodes == {"1": ("45.1", "5.1")}
    with pytest.raises(ValueError):
        gen.replay_graph([a, b])


def test_quirk_pages_exercise_load_semantics():
    pages = gen.make_pages(5, SMALL)
    quirky = [t for t in pages.map_texts() if 'ref="-' in t]
    assert quirky
    text = quirky[0]
    plain = [t for t in pages.map_texts() if 'ref="-' not in t]
    assert len(quirky) + len(plain) == len(SMALL.tiles)
    g = gen.replay_graph([text])
    early = gen._NODE_ID.search(text.split("\n")[2]).groups()
    assert g.nodes[early[0]] == early[1:]  # the duplicate before the node's own line wins
    late = [m.groups() for m in gen._NODE_ID.finditer(text) if m.group(2) == "0.5"]
    assert len(late) == 1 and g.nodes[late[0][0]] != ("0.5", "0.5")
    assert all(s != d for s, d in g.links)
    assert all(s in g.nodes and d in g.nodes for s, d in g.links)


def test_river_banks_are_disjoint_parts_of_the_component():
    pages = gen.make_pages(3, gen.SIMPLIFY_LAYOUT)
    comp = gen.largest_component(gen.replay_graph(pages.map_texts()))
    left, right = gen.bank_node_ids(3, gen.SIMPLIFY_LAYOUT)
    assert left and right and not left & right
    assert left <= comp and right <= comp


def test_river_layout_splits_off_the_island():
    pages = gen.make_pages(3, gen.SIMPLIFY_LAYOUT)
    g = gen.replay_graph(pages.map_texts())
    comp = gen.largest_component(g)
    assert 0 < len(comp) < len(g.nodes)
