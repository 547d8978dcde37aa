#!/usr/bin/env python3
"""Row-for-row diff of two `graft.Harness verify` output directories.

Usage: diff_outputs.py <dirA> <dirB>

Each key's output is the parquet under <dir>/<key>/. For every key in
either directory this compares the schema (column names in order, types
and nullability) and the rows as a multiset: rows are sorted by a
canonical text form and compared exactly (floats by their round-trip
repr, so 0.1 + 0.2 and 0.3 differ, and NaN equals NaN). It then
compares the two oracle maps (<dir>/oracle_sql.json) key by key: equal
outputs prove nothing if the SQL they are checked against changed.
Prints one line per differing or missing key and a summary per part;
exits 1 if any output or oracle differs or is missing on one side, 0 if
every key matches.
"""
import json
import os
import sys
from collections import Counter

import pyarrow.parquet as pq


def keys(root):
    return {k for k in os.listdir(root)
            if os.path.isdir(os.path.join(root, k))
            and any(f.endswith(".parquet") for f in os.listdir(os.path.join(root, k)))}


def load(root, key):
    table = pq.read_table(os.path.join(root, key))
    schema = [(f.name, str(f.type), f.nullable) for f in table.schema]
    rows = sorted(repr(tuple(r.values())) for r in table.to_pylist())
    return schema, rows


def diff_key(a, b, key):
    sa, ra = load(a, key)
    sb, rb = load(b, key)
    if sa != sb:
        return f"schema {sa} != {sb}"
    if ra == rb:
        return None
    only_a = list((Counter(ra) - Counter(rb)).elements())
    only_b = list((Counter(rb) - Counter(ra)).elements())
    first = (only_a or only_b)[0]
    return (f"rows {len(ra)} vs {len(rb)}: {len(only_a)} only in A, "
            f"{len(only_b)} only in B; e.g. {first}")


def oracles(root):
    path = os.path.join(root, "oracle_sql.json")
    if not os.path.exists(path):
        return None
    with open(path, encoding="utf-8") as f:
        return json.load(f)


def diff_oracles(a, b):
    """Names each key whose oracle SQL differs or is missing on one
    side; returns the number of such keys."""
    oa, ob = oracles(a), oracles(b)
    if oa is None or ob is None:
        for root, o in ((a, oa), (b, ob)):
            if o is None:
                print(f"MISSING oracle_sql.json in {root}")
        return 1
    bad = 0
    for k in sorted(oa.keys() | ob.keys()):
        if k not in oa or k not in ob:
            print(f"MISSING ORACLE {k}: only in {a if k in oa else b}")
            bad += 1
        elif oa[k] != ob[k]:
            print(f"DIFF ORACLE {k}: SQL text differs")
            bad += 1
    print(f"{len(oa.keys() | ob.keys()) - bad} oracles equal / {bad} differ or missing")
    return bad


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    a, b = argv[1], argv[2]
    ka, kb = keys(a), keys(b)
    bad = 0
    for k in sorted(ka | kb):
        if k not in ka or k not in kb:
            print(f"MISSING {k}: only in {a if k in ka else b}")
            bad += 1
            continue
        d = diff_key(a, b, k)
        if d:
            print(f"DIFF {k}: {d}")
            bad += 1
    print(f"{len(ka | kb) - bad} equal / {bad} differ or missing")
    bad_oracles = diff_oracles(a, b)
    return 1 if bad or bad_oracles else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
