"""DuckDB oracle check for the query workloads, with the comparison rules
of tools/check_oracle.py (columns sorted by name, rows sorted by value,
DuckDB type classes compared). Oracle answers are cached per data
directory and SQL text, so only the first run on a directory pays them.
"""
import glob
import hashlib
import importlib.util
import json
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _check_oracle(root):
    path = os.path.join(root, "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _source(path):
    if os.path.isdir(path):
        return f"read_parquet('{path}/*.parquet')"
    return f"read_parquet('{path}')"


def _answer(con, co, sql):
    """(sorted column names, their type classes, sorted canonical rows)."""
    df = con.execute(sql).fetchdf()
    cols = sorted(df.columns)
    types = co.col_types(con, sql)
    rows = sorted([[co.canon(v) for v in r] for r in df[cols].itertuples(index=False)])
    return {"cols": cols, "types": [co.type_class(types[c]) for c in cols], "rows": rows}


def check(root, data_dir, cache_dir, results, oracle_sql):
    """Compares each written result with the oracle's answer; returns the
    list of mismatch descriptions (empty when everything matches)."""
    co = _check_oracle(root)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM {_source(os.path.join(data_dir, t + '.parquet'))}")
    os.makedirs(cache_dir, exist_ok=True)
    bad = []
    for name, path in results:
        sql = oracle_sql.get(name)
        if sql is None:
            bad.append(f"{name}: no oracle SQL")
            continue
        key = hashlib.sha256(sql.encode()).hexdigest()[:16]
        cached = os.path.join(cache_dir, f"{name}-{key}.json")
        if os.path.exists(cached):
            want = json.load(open(cached))
        else:
            want = _answer(con, co, sql)
            with open(cached + ".tmp", "w") as f:
                json.dump(want, f)
            os.replace(cached + ".tmp", cached)
        files = sorted(glob.glob(os.path.join(path, "*.parquet")))
        if not files:
            bad.append(f"{name}: no result files")
            continue
        got = _answer(con, co, "SELECT * FROM read_parquet(" + repr(files) + ")")
        for part in ("cols", "types", "rows"):
            if got[part] != want[part]:
                bad.append(f"{name}: {part} differ")
                break
    return bad
