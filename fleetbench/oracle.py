"""DuckDB twin check for fleet_analytics.

Each listed query's collected Spark result (parquet, one directory per
query) is compared with its DuckDB twin (`SparkEntry.oracleSql`, written
next to the results as oracle_sql.json) run over the same parquet
tables, the way the repository's scripts/check_oracle.py compares:
columns sorted by name, then row count, column names and every cell
(floats to 6 significant digits) in order.

Each comparison is also run on three perturbed copies of the Spark
result (one changed value, one dropped row, one float nudged past the
compared precision); the check reports a problem if any of them passes.
"""
import glob
import hashlib
import json
import os
import tempfile


def _connect(data_dir, scratch):
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{tempfile.mkdtemp(prefix='duck_', dir=scratch)}'")
    con.execute("SET memory_limit='2GB'")
    con.execute(f"SET threads={len(os.sched_getaffinity(0))}")
    for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    return con


def _cell(v):
    import pandas as pd
    if v is None or (isinstance(v, float) and pd.isna(v)):
        return "NULL"
    if isinstance(v, float):
        return f"{v:.6g}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def _rows(df):
    return [tuple(_cell(v) for v in row) for row in df.itertuples(index=False, name=None)]


def digest(rows):
    return hashlib.sha256(repr(rows).encode()).hexdigest()


def compare(duck, spark):
    """Problems found comparing two canonical frames (empty = equal)."""
    if list(duck.columns) != list(spark.columns):
        return [f"columns {list(duck.columns)} != {list(spark.columns)}"]
    if len(duck) != len(spark):
        return [f"rows {len(duck)} != {len(spark)}"]
    a, b = _rows(duck), _rows(spark)
    if digest(a) != digest(b):
        first = next(((i, x, y) for i, (x, y) in enumerate(zip(a, b)) if x != y), None)
        return [f"digest differs, first difference {first}"]
    return []


def perturbations(spark):
    """Three copies of a result that a sound check must reject."""
    out = []
    if len(spark) == 0:
        return out
    changed = spark.copy()
    col = changed.columns[0]
    v = changed.iloc[0][col]
    changed[col] = changed[col].astype(object)
    changed.iat[0, 0] = (str(v) + "x") if not isinstance(v, (int, float)) else v + 1
    out.append(("changed_value", changed))
    out.append(("dropped_row", spark.iloc[1:].reset_index(drop=True)))
    floats = [c for c in spark.columns if spark[c].dtype.kind == "f"]
    nudged = spark.copy()
    if floats:
        c = floats[0]
        x = nudged[c].iloc[0]
        nudged.loc[nudged.index[0], c] = (x if x == x else 0.0) * (1 + 1e-4) + 1e-3
    else:
        nudged = nudged.iloc[::-1].reset_index(drop=True) if len(nudged) > 1 else changed
    out.append(("wrong_digest", nudged))
    return out


def check(results_dir, data_dir):
    import pandas as pd
    problems = []
    with open(os.path.join(results_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    con = _connect(data_dir, results_dir)
    try:
        for name in sorted(oracle):
            files = glob.glob(os.path.join(results_dir, name, "*.parquet"))
            if not files:
                problems.append(f"{name}: no Spark result")
                continue
            duck = con.execute(oracle[name]).df()
            duck = duck.reindex(sorted(duck.columns), axis=1)
            spark = pd.concat([pd.read_parquet(f) for f in files])
            spark = spark.reindex(sorted(spark.columns), axis=1).reset_index(drop=True)
            found = compare(duck, spark)
            problems += [f"{name} vs DuckDB twin: {p}" for p in found]
            if not found:
                for kind, bad in perturbations(spark):
                    if not compare(duck, bad):
                        problems.append(f"{name}: self-test '{kind}' was not detected")
    finally:
        con.close()
    return problems
