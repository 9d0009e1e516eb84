#!/usr/bin/env python3
"""Local simulation of the driver's correctness gate.

Usage: python3 scripts/check_oracle.py <verify_out_dir> <sf_dir> [q_a,q_b,...]

Reads each <name>/ parquet written by graft.Verify plus oracle_sql.json,
runs the oracle SQL in DuckDB against the sf parquet tables, and compares
(sorted columns, sorted rows, string-normalized values) — a stricter local
stand-in for a row/schema/hash check. The optional third argument checks
only the named queries (comma-separated, as Verify's filter).

DuckDB runs under a memory limit of half the memory this process may use
and spills to a temporary directory beyond it. The limit covers only
DuckDB's buffer manager; cap the process (`ulimit -v`) to make an oracle
that allocates past it fail fast instead of meeting the OOM killer.
"""

import json
import math
import os
import shutil
import sys
import tempfile
from pathlib import Path

import duckdb
import pandas as pd

out_dir, sf_dir = Path(sys.argv[1]), Path(sys.argv[2])
only = {n.strip() for n in sys.argv[3].split(",")} if len(sys.argv) > 3 else set()


def memory_bytes() -> int:
    """Physical memory, or the cgroup v2 limit where a lower one is set."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    try:
        limit = Path("/sys/fs/cgroup/memory.max").read_text().strip()
        if limit.isdigit():
            total = min(total, int(limit))
    except OSError:
        pass
    return total


spill_dir = tempfile.mkdtemp(prefix="check_oracle_")
con = duckdb.connect(config={
    "memory_limit": f"{memory_bytes() // 2 // 2**20}MB",
    "temp_directory": spill_dir,
})
for p in sorted(sf_dir.glob("*.parquet")):
    con.execute(
        f"CREATE VIEW {p.stem} AS SELECT * FROM read_parquet('{p}')"
    )

oracles = json.loads((out_dir / "oracle_sql.json").read_text())

def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)

    def cell(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "NULL"
        if isinstance(v, float):
            if v == int(v) and abs(v) < 1e15:
                return str(int(v))
            return repr(v)
        return str(v)

    df = df.apply(lambda c: c.map(cell))
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)

fails = []
names = sorted(set(list(oracles.keys()) + [d.name for d in out_dir.iterdir() if d.is_dir()]))
if only:
    names = [n for n in names if n in only]
for name in names:
    spark_path = out_dir / name
    if not spark_path.is_dir():
        fails.append((name, "no spark output"))
        continue
    got = pd.concat(
        [pd.read_parquet(f) for f in spark_path.glob("*.parquet")],
        ignore_index=True,
    ) if list(spark_path.glob("*.parquet")) else pd.DataFrame()
    if name not in oracles:
        status = f"rows-only ({len(got)} rows)"
        print(f"  {name:24s} {status}")
        if len(got) == 0:
            fails.append((name, "zero rows, no oracle"))
        continue
    try:
        exp = con.execute(oracles[name]).df()
    except Exception as e:
        fails.append((name, f"oracle SQL error: {e}"))
        continue
    g, e = norm(got), norm(exp)
    if list(g.columns) != list(e.columns):
        fails.append((name, f"columns differ: spark={list(g.columns)} duckdb={list(e.columns)}"))
        continue
    if len(g) != len(e):
        fails.append((name, f"row count: spark={len(g)} duckdb={len(e)}"))
        continue
    neq = (g != e).any(axis=1)
    if neq.any():
        i = neq.idxmax()
        fails.append(
            (name, f"first mismatch row {i}:\n  spark : {g.loc[i].to_dict()}\n  duckdb: {e.loc[i].to_dict()}")
        )
        continue
    print(f"  {name:24s} OK ({len(g)} rows, {len(g.columns)} cols)")

con.close()
shutil.rmtree(spill_dir, ignore_errors=True)
print()
if fails:
    print(f"FAILED {len(fails)}:")
    for n, msg in fails:
        print(f"  {n}: {msg}")
    sys.exit(1)
print(f"ALL OK ({len(names)} queries)")
