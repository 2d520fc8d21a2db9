"""Checks the analytics slice's answers against their DuckDB mirrors.

The run leaves check.json in its work directory: the input tables' directory and, per
query, its DuckDB mirror (SparkEntry.oracleSql) and the directories Spark wrote its rows
to. Each output must hold the same rows as the mirror's answer over the same inputs,
in any order: the row count, the column names, and the multiset of rows with every
value rendered as text.
"""
import glob
import json
from pathlib import Path

TABLES = ("events", "documents")


def canonical(df):
    """The rows of a DataFrame, columns sorted by name, as a sorted list of tuples of
    strings: equal for two frames exactly when they hold the same rows in any order."""
    cols = sorted(df.columns)
    return cols, sorted(map(tuple, df[cols].astype(str).values.tolist()))


def compare(got, want):
    """None when the two frames hold the same rows, else why not."""
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    (gc, gr), (wc, wr) = canonical(got), canonical(want)
    if gc != wc:
        return f"columns {gc} vs {wc}"
    for i, (a, b) in enumerate(zip(gr, wr)):
        if a != b:
            return f"row {i} differs: {a} vs {b}"
    return None


def check(check_file):
    """Returns the failures, one line per output that disagrees with its mirror."""
    import duckdb
    import pandas as pd

    spec = json.loads(Path(check_file).read_text())
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                    f"'{spec['inputs']}/{t}.parquet/*.parquet')")
    failures = []
    for name, q in spec["queries"].items():
        try:
            want = con.execute(q["sql"]).df()
        except Exception as e:  # the mirror itself failed: every output is unchecked
            failures += [f"{name}: oracle error {e}"] * len(q["outputs"])
            continue
        for out in q["outputs"]:
            files = sorted(glob.glob(f"{out}/*.parquet"))
            if not files:
                failures.append(f"{name}: no rows written to {out}")
                continue
            got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
            why = compare(got, want)
            if why:
                failures.append(f"{name}: {why}")
    return failures
