"""DuckDB oracle check of dumped lane results, with the canonical form of
the repository's correctness gate (scripts/local_verify.py): columns
sorted by name, rows sorted, exact value equality (NaN equals NaN).
"""
import json
import math
import os

import duckdb

from datagen import TABLES


def _canon(con, rel):
    cols = sorted(d[0] for d in con.execute(f"SELECT * FROM ({rel}) LIMIT 0").description)
    collist = ", ".join(f'"{c}"' for c in cols)
    return cols, con.execute(f"SELECT {collist} FROM ({rel}) ORDER BY {collist}").fetchall()


def _eq(a, b):
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
        return True
    return a == b


def check(corpus_dir, dump_dir, lanes):
    """Compare each lane's dump with its oracle; return failure messages."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(corpus_dir, t)}.parquet')")
    with open(os.path.join(dump_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    failures = []
    for name in lanes:
        if name not in oracles:
            failures.append(f"{name}: no oracle")
            continue
        try:
            ocols, orows = _canon(con, oracles[name])
            scols, srows = _canon(con, "SELECT * FROM read_parquet("
                                  f"'{os.path.join(dump_dir, name)}/*.parquet')")
        except Exception as e:  # an oracle or dump that cannot be read fails the lane
            failures.append(f"{name}: {e}")
            continue
        if scols != ocols:
            failures.append(f"{name}: columns {scols} != oracle {ocols}")
        elif len(srows) != len(orows):
            failures.append(f"{name}: {len(srows)} rows != oracle {len(orows)}")
        elif not all(_eq(x, y) for sr, orow in zip(srows, orows) for x, y in zip(sr, orow)):
            failures.append(f"{name}: values differ from oracle")
    return failures
