"""Compare two crawl workdirs table by table.

Run: python tools/crawl_parity.py WORKDIR_A WORKDIR_B

Compares, on both sides of the same relative path:

- every stage artifact (``rounds/<batch_id>/<stage>/data``), every
  round's host table (``rounds/<batch_id>/fetch/hosts``), every
  frontier snapshot (``frontier/v*/data``) and every payload slice
  (``payloads/<batch_id>``), read with pyarrow (hive partitions
  included) and sorted by ``url_hash`` (``image_id`` for payloads,
  ``host`` for host tables);
- every URL-seen bitmap (``urlseen/pid=*.npy``), byte for byte.

A table or bitmap that exists on one side only is a difference. Two
tables whose schemas differ are reported by field: ``+name`` only in
B, ``-name`` only in A, ``~name`` typed differently; their shared
columns are then compared row for row, so a deliberate column addition
reads ``schemas differ: +new_col; shared columns equal``.
Prints one line per difference and a summary; exits 1 on any
difference, 0 when everything is equal. Needs no Spark session.
"""

from __future__ import annotations

import filecmp
import glob
import os
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = ("rounds/*/*/data", "rounds/*/fetch/hosts", "frontier/v*/data", "payloads/*")
BITMAPS = "urlseen/pid=*.npy"
KEYS = ("url_hash", "image_id", "host")


def _relpaths(root: str, pattern: str) -> set[str]:
    return {os.path.relpath(p, root) for p in glob.glob(os.path.join(root, pattern))}


def _read_table(path: str) -> pa.Table:
    t = pq.read_table(path)
    # hive partition columns read back dictionary-encoded
    return pa.table({
        c: t[c].cast(t[c].type.value_type) if pa.types.is_dictionary(t[c].type) else t[c]
        for c in sorted(t.column_names)
    })


def _sorted(t: pa.Table, path: str) -> pa.Table:
    """``t`` with its rows sorted by key, then by every flat column (so
    rows that share a key sort the same way on both sides)."""
    key = next((k for k in KEYS if k in t.column_names), None)
    if key is None:
        raise ValueError(f"{path}: no key column among {KEYS}")
    flat = [f.name for f in t.schema if f.name != key and not pa.types.is_nested(f.type)]
    return t.take(pc.sort_indices(t, [(c, "ascending") for c in [key, *flat]]))


def _schema_changes(ta: pa.Table, tb: pa.Table) -> list[str]:
    """The fields added (+), missing (-) and retyped (~) from ``ta`` to
    ``tb``."""
    fa = {f.name: f for f in ta.schema}
    fb = {f.name: f for f in tb.schema}
    return (
        [f"+{c}" for c in fb if c not in fa]
        + [f"-{c}" for c in fa if c not in fb]
        + [f"~{c}" for c in fa if c in fb and not fa[c].equals(fb[c])]
    )


def _table_diff(a: str, b: str) -> str | None:
    """None when the tables at ``a`` and ``b`` hold the same rows, else
    what differs."""
    ta, tb = _read_table(a), _read_table(b)
    notes = []
    changes = _schema_changes(ta, tb)
    if changes:
        notes.append("schemas differ: " + " ".join(changes))
        shared = [c for c in ta.column_names if c in tb.column_names and f"~{c}" not in changes]
        ta, tb = ta.select(shared), tb.select(shared)
    ta, tb = _sorted(ta, a), _sorted(tb, b)
    if ta.num_rows != tb.num_rows:
        notes.append(f"{ta.num_rows} vs {tb.num_rows} rows")
    else:
        cols = [c for c in ta.column_names if not ta[c].equals(tb[c])]
        if cols:
            notes.append(f"columns differ: {cols}")
        elif notes:
            notes.append("shared columns equal")
    return "; ".join(notes) or None


def compare(a: str, b: str) -> list[str]:
    """One line per difference between the workdirs ``a`` and ``b``."""
    diffs: list[str] = []
    n = 0
    for pattern in TABLES + (BITMAPS,):
        in_a, in_b = _relpaths(a, pattern), _relpaths(b, pattern)
        diffs += [f"only in {a}: {p}" for p in sorted(in_a - in_b)]
        diffs += [f"only in {b}: {p}" for p in sorted(in_b - in_a)]
        for rel in sorted(in_a & in_b):
            n += 1
            fa, fb = os.path.join(a, rel), os.path.join(b, rel)
            if pattern == BITMAPS:
                diff = None if filecmp.cmp(fa, fb, shallow=False) else "bytes differ"
            else:
                try:
                    diff = _table_diff(fa, fb)
                except pa.ArrowException as exc:
                    diff = f"unreadable: {exc}"
            if diff:
                diffs.append(f"{rel}: {diff}")
    print(f"compared {n} tables and bitmaps, {len(diffs)} differences")
    return diffs


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print("usage: python tools/crawl_parity.py WORKDIR_A WORKDIR_B", file=sys.stderr)
        return 2
    diffs = compare(*argv)
    for line in diffs:
        print(line)
    return 1 if diffs else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
