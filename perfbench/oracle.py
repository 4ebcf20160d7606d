"""Checks registry query outputs against their DuckDB oracles.

Both sides are compared as the repository's correctness gate compares them:
columns sorted by name, rows sorted by every column, values equal exactly
(floats bit for bit, everything else as text, nulls equal to nulls).
"""

import glob
import os

import gen


def canon(df):
    import pandas as pd
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def differences(got, exp):
    """Why `got` differs from `exp` (both canonical), or None when equal."""
    import numpy as np
    import pandas as pd
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} vs {list(exp.columns)}"
    if len(got) != len(exp):
        return f"{len(got)} rows vs {len(exp)}"
    for c in got.columns:
        a, b = got[c].values, exp[c].values
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            same = np.array_equal(a, b, equal_nan=True)
        else:
            same = (pd.Series(a).fillna("\0N") == pd.Series(b).fillna("\0N")).all()
        if not same:
            i = int(np.argmax(np.asarray(a != b)))
            return f"column {c} row {i}: {a[i]!r} vs {b[i]!r}"
    return None


def check(data_dir, entries):
    """One check per registry entry (`name`, `output`, `oracle`, `ops`):
    the Spark output equals the oracle's rows over the same inputs. The
    oracles run side by side, each on its own cursor."""
    from concurrent.futures import ThreadPoolExecutor
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for t in gen.TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    def one(e):
        try:
            files = sorted(glob.glob(os.path.join(e["output"], "*.parquet")))
            got = canon(pd.concat([pd.read_parquet(f) for f in files]))
            why = differences(got, canon(con.cursor().execute(e["oracle"]).df()))
            detail = why or f"{len(got)} rows match"
        except Exception as ex:  # a failing oracle or unreadable output fails the check
            why = detail = f"{type(ex).__name__}: {ex}"[:300]
        return {"name": f"oracle_{e['name']}", "ok": why is None, "detail": detail,
                "ops": e["ops"]}

    with ThreadPoolExecutor(4) as pool:
        return list(pool.map(one, entries))
