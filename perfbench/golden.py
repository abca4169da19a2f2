"""Order-insensitive result digests for the declared queries.

A digest is the row count plus the sum of the CRC-32 of every row, with values normalised as ``scripts/check_oracles.py`` does
(columns by name, floats to 6 significant digits, datetimes in ISO form,
everything else ``repr``). Summing makes it independent of row order.

``golden.json`` stores one digest per query and data size, each marked
``twin-verified`` (the query's DuckDB twin from ``oracle_sql()`` gives
the same digest on the same tables) or ``engine-pinned`` (recorded from
the engine; the twin was not run or does not agree, see ``note``).

    python3 perfbench/golden.py pin --size full      # record engine digests
    python3 perfbench/golden.py verify --size full   # one-off DuckDB twin check

Both commands run from the root of a checkout.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import subprocess
import sys
import zlib

HERE = os.path.dirname(os.path.abspath(__file__))
GOLDEN = os.path.join(HERE, "golden.json")
# limits of one DuckDB twin in ``verify``
TWIN_TIMEOUT_S = 300
TWIN_MEM = "4GB"


def norm_value(v) -> str:
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.6g}"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return repr(v)


_PLAIN = {int, str, bool, type(None)}


def digest(columns, rows) -> dict:
    """Row count + order-insensitive checksum sum over normalised rows.

    Column-wise so that the per-value work stays in C for the common
    int/str columns (result sets reach ~500k rows)."""
    order = sorted(range(len(columns)), key=columns.__getitem__)
    cols = list(zip(*rows))
    if not cols:
        return {"rows": 0, "hashsum": "0" * 16}
    normed = [map(repr, cols[i]) if set(map(type, cols[i])) <= _PLAIN
              else map(norm_value, cols[i]) for i in order]
    keys = map(str.encode, map("\x1f".join, zip(*normed)))
    return {"rows": len(cols[0]), "hashsum": f"{sum(map(zlib.crc32, keys)):016x}"}


def load(path: str = GOLDEN) -> dict:
    with open(path, encoding="utf-8") as fh:
        return json.load(fh)


def _save(data: dict, path: str = GOLDEN) -> None:
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(data, fh, indent=1, sort_keys=True)
        fh.write("\n")


def _pin(size: str) -> None:
    import run

    work = run.make_work("golden")
    try:
        spark = run.start_spark(work, trace=False)
        tables = os.path.join(work, "tables")
        from inputs import write_tables

        write_tables(tables, run.SIZES[size]["scale"])
        import __spark_entry__ as entry

        qs = entry.queries()
        data = load() if os.path.exists(GOLDEN) else {}
        old = data.get(size, {})
        new = {}
        for name in run.LARGE + run.SMALL:
            df = qs[name](spark, tables)
            d = digest(df.columns, df.collect())
            prev = old.get(name, {})
            keep = prev.get("rows") == d["rows"] and prev.get("hashsum") == d["hashsum"]
            d["status"] = prev.get("status", "engine-pinned") if keep else "engine-pinned"
            if keep and "note" in prev:
                d["note"] = prev["note"]
            new[name] = d
            print(name, d, flush=True)
        data[size] = new
        _save(data)
        run.shutdown(spark)
    finally:
        run.remove_work(work)


TWIN_CHILD = r"""
import json, sys
import duckdb
sys.path.insert(0, {here!r})
import __spark_entry__ as entry
from golden import digest
tables, name = sys.argv[1], sys.argv[2]
con = duckdb.connect()
con.execute("SET memory_limit='{mem}'")
con.execute("SET threads={threads}")
import os
for f in sorted(os.listdir(tables)):
    t = f.rsplit('.', 1)[0]
    con.execute(f"CREATE VIEW {{t}} AS SELECT * FROM read_parquet('{{tables}}/{{f}}')")
res = con.execute(entry.oracle_sql()[name])
cols = [d[0] for d in res.description]
print(json.dumps(digest(cols, res.fetchall())))
"""


def _verify(size: str) -> None:
    import run
    from inputs import write_tables

    work = run.make_work("twins")
    try:
        tables = os.path.join(work, "tables")
        write_tables(tables, run.SIZES[size]["scale"])
        data = load()
        child = TWIN_CHILD.format(here=HERE, mem=TWIN_MEM, threads=len(os.sched_getaffinity(0)))
        for name, g in data[size].items():
            try:
                out = subprocess.run(
                    [sys.executable, "-c", child, tables, name],
                    capture_output=True, text=True, timeout=TWIN_TIMEOUT_S,
                    cwd=os.getcwd(),
                )
                twin = json.loads(out.stdout.strip().splitlines()[-1]) if out.returncode == 0 else None
                note = None if twin else f"twin failed: {out.stderr.strip().splitlines()[-1:]}"
            except subprocess.TimeoutExpired:
                twin, note = None, f"twin exceeded {TWIN_TIMEOUT_S} s"
            if twin and twin["rows"] == g["rows"] and twin["hashsum"] == g["hashsum"]:
                g["status"] = "twin-verified"
                g.pop("note", None)
            else:
                g["status"] = "engine-pinned"
                g["note"] = note or f"twin digest differs: {twin}"
            print(name, g["status"], g.get("note", ""), flush=True)
        _save(data)
    finally:
        run.remove_work(work)


def main() -> int:
    sys.path.insert(0, HERE)
    sys.path.insert(0, os.getcwd())
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("mode", choices=("pin", "verify"))
    p.add_argument("--size", default="full")
    a = p.parse_args()
    if a.mode == "pin":
        _pin(a.size)
    else:
        _verify(a.size)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
