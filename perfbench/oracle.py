"""Result digests for the batch workloads' output checks.

A digest is order-insensitive: columns sorted by name, rows canonicalised
(floats rounded to 9 places, dates widened to timestamps, structs sorted
by field) and sorted, then hashed. ``oracle.json`` holds the digest of
each query's DuckDB oracle (the registry's ``oracle`` SQL) over the
fixed-seed benchmark tables.

Regenerate it after changing the table generator or a query's oracle:

    python3 perfbench/oracle.py
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import json
import math
import os
import sys

ORACLE_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "oracle.json")


def _norm(v):
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(round(v, 9))
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return datetime.datetime(v.year, v.month, v.day).isoformat()
    if hasattr(v, "asDict"):  # a Spark Row inside a row: a struct
        return tuple(sorted((k, _norm(x)) for k, x in v.asDict().items()))
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def digest(columns, rows) -> str:
    """``"<row count>:<hash>"`` of a result, independent of row and column
    order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted((tuple(_norm(r[i]) for i in order) for r in rows), key=repr)
    h = hashlib.sha256(repr([columns[i] for i in order]).encode())
    for row in canon:
        h.update(repr(row).encode())
    return f"{len(canon)}:{h.hexdigest()[:24]}"


def load() -> dict[str, str]:
    with open(ORACLE_PATH) as f:
        return json.load(f)["digests"]


def main() -> None:
    import tempfile

    import duckdb

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, root)
    from perfbench import loadgen
    from perfbench.workloads import DEDUP, PANELS
    from transitdata_monitor_data_collector_spark.plans import load_all

    registry = load_all()
    out = {}
    with tempfile.TemporaryDirectory() as d:
        loadgen.write_tables(d, "full")
        con = duckdb.connect()
        for t in ("events", "documents"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')"
            )
        for name in PANELS + DEDUP:
            res = con.execute(registry[name].oracle)
            out[name] = digest([c[0] for c in res.description], res.fetchall())
            print(name, out[name], flush=True)
    with open(ORACLE_PATH, "w") as f:
        json.dump({"input": "loadgen.write_tables(size='full')",
                   "digests": out}, f, indent=2, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
