"""Correctness gate: compares each kept output with its DuckDB oracle twin.

The comparison follows the repo's oracle harness: columns sorted by name,
rows sorted by every column, float columns bit-compared (NaN equal to NaN),
every other column compared as strings. An output whose oracle cannot run,
whose parquet cannot be read, or whose columns, row count or any value
differ counts as one wrong output.
"""
import glob

import duckdb
import numpy as np
import pandas as pd


def _norm(df):
    df = df[sorted(df.columns)]
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def diff(want, got):
    """Problems between two frames (empty when equal)."""
    want, got = _norm(want), _norm(got)
    if list(want.columns) != list(got.columns):
        return [f"columns want={list(want.columns)} got={list(got.columns)}"]
    if len(want) != len(got):
        return [f"rows want={len(want)} got={len(got)}"]
    problems = []
    for c in want.columns:
        w, g = want[c], got[c]
        if w.dtype.kind == "f" or g.dtype.kind == "f":
            wv, gv = w.astype(float).values, g.astype(float).values
            neq = ~((wv == gv) | (np.isnan(wv) & np.isnan(gv)))
            if neq.any():
                problems.append(f"column {c}: {int(neq.sum())} values differ")
        elif not w.astype(str).equals(g.astype(str)):
            neq = w.astype(str) != g.astype(str)
            i = neq.idxmax()
            problems.append(f"column {c}: {int(neq.sum())} values differ, "
                            f"first want={w[i]!r} got={g[i]!r}")
    return problems


def check(outputs):
    """outputs: [{name, path, sql, views}] -> {name: [problems]} for every
    wrong output."""
    bad = {}
    for o in outputs:
        con = duckdb.connect()
        try:
            for view, source in sorted(o["views"].items()):
                con.execute(f"CREATE VIEW {view} AS {source}")
            want = con.sql(o["sql"]).df()
            files = sorted(glob.glob(f"{o['path']}/*.parquet"))
            if not files:
                raise ValueError("no output files")
            got = pd.concat([pd.read_parquet(f) for f in files])
            problems = diff(want, got)
        except Exception as e:  # an oracle or read error is a wrong output
            problems = [f"{type(e).__name__}: {str(e).splitlines()[0][:300]}"]
        finally:
            con.close()
        if problems:
            bad[o["name"]] = problems
    return bad
