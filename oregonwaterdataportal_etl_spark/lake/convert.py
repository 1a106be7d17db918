"""Convert a partition tree already on disk into a time-partitioned
LakeTable.

Earlier versions of the engine stored a time-partitioned table as a
tree: a root ``snap-`` chain whose manifests pinned a version vector
``{partition value: child version}`` of child LakeTables in
``<root>/p=<value>/``. A partitioned LakeTable lists the same files in
one manifest, grouped by (partition, bucket). The children were
bucketed on the keys alone with the table's bucket count, which is the
partitioned layout's bucket function, so conversion moves no data: it
hardlinks each pinned child snapshot's files under ``<root>/data/`` and
commits one manifest over them as the root chain's next version.

Time travel to the tree's versions ends at the conversion. The child
directories are left in place; once the converted table reads as
expected they hold nothing the table needs and can be removed.
"""

from __future__ import annotations

import os
import uuid

from .table import (
    _SIDE_KEYS,
    LakeTable,
    ManifestChain,
    _footer_partition_range,
    _group_key,
    _next_snapshot,
    snapshot_files,
)


def convert_partition_tree(path: str) -> LakeTable:
    """Commit the tree at ``path`` (its current root version) as a
    partitioned LakeTable and return it.

    Raises ValueError if ``path`` is not a tree root, if a child's bucket
    count differs from the root's, or if a child's files hold rows whose
    UTC partition value (footer min/max of the partition column) is not
    the child's own: such rows were routed under a non-UTC session time
    zone, and the UTC-routed table would not find them again."""
    root = ManifestChain(os.path.join(path, "_meta"), "snap-")
    current = root.current()
    if current is None:
        raise FileNotFoundError(f"no table at {path}")
    snap = root.read(current)
    if "partitions" not in snap:
        raise ValueError(f"{path} is not a partition tree root")
    conv_dir = os.path.join(path, "data", f"conv-{uuid.uuid4().hex}")
    maps: dict[str, dict[str, list[str]]] = {side: {} for side in _SIDE_KEYS}
    row_counts: dict[str, int] = {}
    for value, child_version in sorted(snap["partitions"].items()):
        child = LakeTable(os.path.join(path, f"p={value}")).snapshot(child_version)
        if child["num_buckets"] != snap["num_buckets"]:
            raise ValueError(
                f"partition {value} has {child['num_buckets']} buckets, the "
                f"root {snap['num_buckets']}"
            )
        links = os.path.join(conv_dir, f"p={value}")
        os.makedirs(links)
        for i, (side, _p, b, f) in enumerate(snapshot_files(child)):
            rng = _footer_partition_range([f], snap)
            if rng is not None and rng != (value, value):
                raise ValueError(
                    f"{f} holds rows of partitions {rng[0]}..{rng[1]} in "
                    f"partition {value}: routed under a non-UTC session time zone"
                )
            dst = os.path.join(links, f"{i:06d}-{os.path.basename(f)}")
            os.link(f, dst)
            maps[side].setdefault(_group_key(value, b), []).append(dst)
        for b, n in (child.get("row_counts") or {}).items():
            row_counts[_group_key(value, int(b))] = n
    table = LakeTable(path)
    table._commit(_next_snapshot(
        snap,
        {"operation": "convert-partition-tree", "tree_version": current},
        files=maps["b"], deltas=maps["d"], tombstones=maps["t"],
        row_counts=row_counts,
    ))
    return table
