"""Output checks. Each returns a list of problems; empty means correct.

They take plain Python values (digests, id lists, metric lines, the
snapshot directory), so a deliberately corrupted result can be fed to
them in the benchmark's tests without a Spark session.
"""

from __future__ import annotations

import json
import os
import re

Digest = tuple[int, int]  # (row count, order-independent hash)


def check_digests(got: dict[str, Digest], want: dict[str, Digest]) -> list[str]:
    problems = []
    for name, w in want.items():
        g = got.get(name)
        if g is None:
            problems.append(f"{name}: missing")
        elif g[0] != w[0]:
            problems.append(f"{name}: {g[0]} rows, expected {w[0]}")
        elif g[1] != w[1]:
            problems.append(f"{name}: content hash differs ({g[1]} != {w[1]})")
    return problems


_ID_PART = re.compile(r"[-:/]")


def constituent_ids(node_id: str) -> list[str]:
    """Original node ids a contracted or interpolated id is built from:
    ``"a-b"`` merges, ``"a-b:i/n"`` discretize points."""
    return [p for p in _ID_PART.split(node_id.split(":")[0]) if p]


def check_largest_component(
    final_ids: list[str], component: set[str], banks: list[set[str]] = ()
) -> list[str]:
    """Every id of the simplified graph must be made of ids of the
    largest component, and some of them of ids of each of ``banks``
    (e.g. both sides of a river): label propagation that stopped early
    would keep only part of the component."""
    if not final_ids:
        return ["simplified graph is empty"]
    parts = {c for i in final_ids for c in constituent_ids(i)}
    outside = sorted(parts - component)
    if outside:
        return [f"{len(outside)} node id(s) outside the largest component, e.g. {outside[0]}"]
    missed = [k for k, bank in enumerate(banks) if not parts & bank]
    if missed:
        return [f"simplified graph holds no node of bank(s) {missed}"]
    return []


def check_component_exact(ids: list[str], component: set[str]) -> list[str]:
    """The largest-component step's node set must be exactly the BFS's."""
    got = set(ids)
    if len(got) != len(ids):
        return [f"largest component repeats {len(ids) - len(got)} node id(s)"]
    if got != component:
        return [
            f"largest component: {len(got - component)} extra and "
            f"{len(component - got)} missing node id(s) against the BFS"
        ]
    return []


def check_min_length(length_lines: list[str], delta: float) -> list[str]:
    """``length_distribution`` lines are ``"floor(metres) count"``; no
    link may be shorter than ``delta`` after simplify."""
    short = [ln for ln in length_lines if int(ln.split()[0]) < delta]
    return [f"links shorter than {delta} m remain: {short}"] if short else []


def check_order_size(order_size: str, digest: Digest, edges: Digest) -> list[str]:
    want = f"{digest[0]} {edges[0]}"
    return [] if order_size == want else [f"order_size {order_size!r}, tables hold {want!r}"]


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


def _metas(root: str) -> list[dict]:
    meta_dir = os.path.join(root, "metadata")
    metas = []
    for name in sorted(os.listdir(meta_dir)):
        if name.startswith("v") and name.endswith(".json"):
            with open(os.path.join(meta_dir, name)) as f:
                metas.append(json.load(f))
    return metas


def check_single_commit(root: str, stage: str) -> list[str]:
    """After a commit and a resume of ``stage``, the log must hold its
    tables exactly once: a resume that recomputed would commit again."""
    with_tables = [m for m in _metas(root) if m["tables"]]
    stages = [m["stage"] for m in with_tables]
    if stages != [stage]:
        return [f"snapshots with tables: {stages}, expected one {stage!r}"]
    return []


def check_snapshots(root: str) -> list[str]:
    """Snapshot log consistency: ids consecutive, each parent is the
    previous snapshot, every table's recorded row count equals the rows
    in its parquet files, and each table's Iceberg tree points at the
    snapshot that wrote it."""
    metas = _metas(root)
    if not metas:
        return ["no snapshot committed"]
    problems = []
    prev = None
    for m in metas:
        want_id = 1 if prev is None else prev["id"] + 1
        if m["id"] != want_id:
            problems.append(f"snapshot id {m['id']}, expected {want_id}")
        if m["parent_id"] != (None if prev is None else prev["id"]):
            problems.append(f"snapshot {m['id']} parent {m['parent_id']}")
        for table, info in m["tables"].items():
            rows = _parquet_rows(info["path"])
            if rows != info["row_count"] or rows != sum(info["partition_row_counts"]):
                problems.append(
                    f"snapshot {m['id']} {table}: {rows} rows stored, "
                    f"{info['row_count']} recorded"
                )
            versions = sorted(
                n for n in os.listdir(info["iceberg_metadata"]) if n.endswith(".metadata.json")
            )
            with open(os.path.join(info["iceberg_metadata"], versions[-1])) as f:
                ice = json.load(f)
            ice_ids = [s["snapshot-id"] for s in ice["snapshots"]]
            if info["iceberg_snapshot_id"] not in ice_ids:
                problems.append(f"snapshot {m['id']} {table}: not in its Iceberg tree")
        prev = m
    return problems
