"""Each output check accepts a correct result and rejects a corrupted one."""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import checks, gen


def test_digests_reject_count_hash_and_missing():
    want = {"nodes": (3, 100), "links": (2, 50)}
    assert checks.check_digests(dict(want), want) == []
    assert checks.check_digests({"nodes": (4, 100), "links": (2, 50)}, want)
    assert checks.check_digests({"nodes": (3, 101), "links": (2, 50)}, want)
    assert checks.check_digests({"nodes": (3, 100)}, want)


def test_digest_is_order_independent_and_content_sensitive():
    rows = [("a", "1", "2"), ("b", "3", "4")]
    assert gen.table_digest(rows) == gen.table_digest(reversed(rows))
    assert gen.table_digest(rows) != gen.table_digest([("a", "1", "2"), ("b", "3", "5")])


def _digests_with(texts, keep):
    """expected_ingest of a load that keeps, per node id, the record
    ``keep`` picks from its records in arrival order."""
    g = gen.replay_graph(texts)
    seen: dict[str, list] = {}
    for t in texts:
        for m in gen._NODE_ID.finditer(t):
            seen.setdefault(m.group(1), []).append(m.groups()[1:])
    wrong = gen.Graph({i: keep(v) for i, v in seen.items()}, g.links)
    return gen.expected_ingest(g), gen.expected_ingest(wrong)


def test_digests_reject_a_wrong_first_wins_winner():
    texts = gen.make_pages(9, gen.square_layout(2)).map_texts()
    right, last_wins = _digests_with(texts, lambda v: v[-1])
    assert checks.check_digests(right, right) == []
    assert checks.check_digests(last_wins, right)
    _, first_wins = _digests_with(texts, lambda v: v[0])
    assert checks.check_digests(first_wins, right) == []


def test_digests_reject_kept_self_loops_and_dangling_links():
    texts = gen.make_pages(9, gen.square_layout(2)).map_texts()
    g = gen.replay_graph(texts)
    right = gen.expected_ingest(g)
    loops = gen.table_digest(g.links | {("1", "1")})
    assert checks.check_digests({**right, "links": loops}, right)
    dangling = gen.table_digest(g.links | {(min(g.nodes), "-1")})
    assert checks.check_digests({**right, "links": dangling}, right)


def test_largest_component_check():
    comp = {"1", "2", "3"}
    assert checks.check_largest_component(["1", "2-3", "1-2:1/3"], comp) == []
    assert checks.check_largest_component(["1", "2-9"], comp)
    assert checks.check_largest_component(["9:1/2"], comp)
    assert checks.check_largest_component([], comp)


def test_largest_component_check_needs_every_bank():
    comp = {"1", "2", "3", "4"}
    banks = [{"1", "2"}, {"4"}]
    assert checks.check_largest_component(["1", "3-4"], comp, banks) == []
    # a sub-component, as label propagation stopped early would leave
    assert checks.check_largest_component(["1", "2-3"], comp, banks)


def test_component_exact_check():
    comp = {"1", "2", "3"}
    assert checks.check_component_exact(["3", "1", "2"], comp) == []
    assert checks.check_component_exact(["1", "2"], comp)
    assert checks.check_component_exact(["1", "2", "3", "4"], comp)
    assert checks.check_component_exact(["1", "2", "3", "3"], comp)


def test_min_length_check():
    assert checks.check_min_length(["10 4", "23 1"], 10.0) == []
    assert checks.check_min_length(["9 1", "23 1"], 10.0)


def test_order_size_check():
    assert checks.check_order_size("5 7", (5, 1), (7, 2)) == []
    assert checks.check_order_size("5 6", (5, 1), (7, 2))


def _snapshot_root(tmp_path) -> str:
    """Two committed snapshots written the way plans.snapshots does."""
    from pyspark.sql import types as T

    from ophois_spark.plans.iceberg_meta import IcebergTableMeta

    root = str(tmp_path / "snap")
    os.makedirs(os.path.join(root, "metadata"))
    schema = T.StructType([T.StructField("id", T.StringType())])
    prev = None
    for sid in (1, 2):
        path = os.path.join(root, "data", f"s{sid}", "nodes")
        os.makedirs(path)
        pq.write_table(pa.table({"id": ["a", "b", "c"][:sid + 1]}), os.path.join(path, "part-0.parquet"))
        ice = IcebergTableMeta(os.path.join(root, "iceberg", "nodes"), "nodes").append_snapshot(sid, path, schema)
        meta = {
            "id": sid,
            "stage": f"s{sid}",
            "parent_id": prev,
            "tables": {
                "nodes": {
                    "path": path,
                    "row_count": sid + 1,
                    "partition_row_counts": [sid + 1],
                    "iceberg_metadata": os.path.join(root, "iceberg", "nodes", "metadata"),
                    "iceberg_snapshot_id": ice["current-snapshot-id"],
                }
            },
            "metrics": {},
        }
        with open(os.path.join(root, "metadata", f"v{sid:06d}.json"), "w") as f:
            json.dump(meta, f)
        prev = sid
    return root


def _rewrite(root: str, sid: int, edit) -> None:
    p = os.path.join(root, "metadata", f"v{sid:06d}.json")
    with open(p) as f:
        meta = json.load(f)
    edit(meta)
    with open(p, "w") as f:
        json.dump(meta, f)


def test_single_commit_check(tmp_path):
    root = _snapshot_root(tmp_path)
    # both snapshots hold tables: a stage committed twice
    assert checks.check_single_commit(root, "s1")
    _rewrite(root, 2, lambda m: m.update(tables={}))
    assert checks.check_single_commit(root, "s1") == []
    assert checks.check_single_commit(root, "s2")


def test_snapshot_check_accepts_consistent_log(tmp_path):
    assert checks.check_snapshots(_snapshot_root(tmp_path)) == []


def test_snapshot_check_rejects_broken_ancestry(tmp_path):
    root = _snapshot_root(tmp_path)
    _rewrite(root, 2, lambda m: m.update(parent_id=2))
    assert checks.check_snapshots(root)


def test_snapshot_check_rejects_wrong_row_count(tmp_path):
    root = _snapshot_root(tmp_path)
    _rewrite(root, 1, lambda m: m["tables"]["nodes"].update(row_count=5))
    assert checks.check_snapshots(root)


def test_snapshot_check_rejects_unknown_iceberg_snapshot(tmp_path):
    root = _snapshot_root(tmp_path)
    _rewrite(root, 2, lambda m: m["tables"]["nodes"].update(iceberg_snapshot_id=9))
    assert checks.check_snapshots(root)
