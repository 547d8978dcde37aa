"""Oracle compare for the benchmark's check pass.

Each key's Spark output (one parquet file under check/<key>/) is compared
with its oracle SQL run by DuckDB over the same input tables. The rules are
those of the repository's DuckDB correctness gate: columns sorted by name,
rows sorted, values compared exactly (NaN equal to NaN), dtypes equal.
"""
import glob
import json
import os

import duckdb
import pyarrow.parquet as pq


def _compare(got, want):
    """Return None when the frames match, else a one-line reason."""
    got = got.reindex(sorted(got.columns), axis=1)
    want = want.reindex(sorted(want.columns), axis=1)
    if list(got.columns) != list(want.columns):
        return f"columns spark={list(got.columns)} oracle={list(want.columns)}"
    if len(got) != len(want):
        return f"rows spark={len(got)} oracle={len(want)}"
    cols = list(got.columns)
    gs = got.sort_values(by=cols).reset_index(drop=True)
    ws = want.sort_values(by=cols).reset_index(drop=True)
    for c in cols:
        a, b = gs[c], ws[c]
        try:
            eq = (a == b) | (a.isna() & b.isna())
        except Exception:
            eq = a.astype(str) == b.astype(str)
        if not eq.all():
            i = int((~eq).idxmax())
            return f"col {c} row {i}: spark={a[i]!r} oracle={b[i]!r} ({int((~eq).sum())} diffs)"
        if str(a.dtype) != str(b.dtype):
            return f"dtype col {c}: spark={a.dtype} oracle={b.dtype}"
    return None


def check(data_dir, check_dir, keys):
    """Compare every key in `keys`. Returns {key: reason or None}; a key
    without an oracle maps to the string "no oracle" and is not a failure
    (see `failed`)."""
    con = duckdb.connect()
    for p in glob.glob(os.path.join(data_dir, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        # a table is one parquet file or a Spark output directory of them
        files = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{files}')")
    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    result = {}
    for key in keys:
        if key not in oracles:
            result[key] = "no oracle"
            continue
        files = glob.glob(os.path.join(check_dir, key, "*.parquet"))
        if not files:
            result[key] = "no spark output"
            continue
        try:
            got = pq.read_table(files[0]).to_pandas()
            want = con.execute(oracles[key]).fetch_df()
            result[key] = _compare(got, want)
        except Exception as e:
            result[key] = f"exception {e}"
    con.close()
    return result


def failed(result):
    return sorted(k for k, r in result.items() if r not in (None, "no oracle"))
