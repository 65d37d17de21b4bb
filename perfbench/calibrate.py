"""Compare the generated batch tables with a reference input directory.

    python3 perfbench/calibrate.py <dir with events.parquet, documents.parquet>
    python3 perfbench/calibrate.py <dir> --time 3     # also time each query

Prints, for the reference tables and for ``loadgen.write_tables("full")``,
the statistics the batch queries' cost depends on (row counts, event
time span, users, event-type and props shares, value quantiles, document
length, vocabulary, planted duplicates, language and source mix) and the
row count of each benchmark query's DuckDB oracle result. With
``--time N`` it also runs every benchmark query ``N`` times on each input
in one ``local[4]`` session (noop sink) and
prints the median wall time per query. The benchmark itself never reads
the reference directory; this script is how the generator was checked
against it.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

_TOKENS = "str_split_regex(trim(lower(text)), '\\s+')"
STATS = {
    "events.rows": "SELECT count(*) FROM events",
    "events.days": "SELECT round(date_diff('second', min(ts), max(ts)) / 86400.0, 2) FROM events",
    "events.users": "SELECT count(DISTINCT user_id) FROM events",
    "events.max_type_share": "SELECT round(max(c) / sum(c), 4) FROM "
                             "(SELECT count(*) c FROM events GROUP BY event_type)",
    "events.types": "SELECT count(DISTINCT event_type) FROM events",
    "events.props_keys": "SELECT count(DISTINCT props) FROM events",
    "events.value_mean": "SELECT round(avg(value), 2) FROM events",
    "events.value_p50": "SELECT round(median(value), 2) FROM events",
    "events.value_p99": "SELECT round(quantile_cont(value, 0.99), 1) FROM events",
    "events.value_max": "SELECT max(value) FROM events",
    "events.per_user_p50": "SELECT median(c) FROM "
                           "(SELECT count(*) c FROM events GROUP BY user_id)",
    "documents.rows": "SELECT count(*) FROM documents",
    "documents.tokens_p10_p50_p90": f"SELECT quantile_cont(len({_TOKENS}), [0.1, 0.5, 0.9]) "
                                    "FROM documents",
    "documents.vocabulary": f"SELECT count(DISTINCT w) FROM (SELECT unnest({_TOKENS}) w FROM documents)",
    "documents.max_word_share": f"SELECT round(max(c) / sum(c), 4) FROM (SELECT count(*) c FROM "
                                f"(SELECT unnest({_TOKENS}) w FROM documents) GROUP BY w)",
    "documents.dup_marked": "SELECT count(*) FROM documents WHERE text LIKE '% dup'",
    "documents.exact_copies": "SELECT coalesce(sum(c), 0) FROM (SELECT count(*) c FROM documents "
                              "GROUP BY text HAVING count(*) > 1)",
    "documents.chars_mean": "SELECT round(avg(n_chars), 1) FROM documents",
    "documents.en_share": "SELECT round(avg((lang = 'en')::INT), 3) FROM documents",
    "documents.sources": "SELECT count(DISTINCT source) FROM documents",
}


def _duckdb(data_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in ("events", "documents"):
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def describe(data_dir: str, queries) -> dict:
    """The statistics of ``STATS`` and each query's oracle row count."""
    from transitdata_monitor_data_collector_spark.plans import load_all

    registry = load_all()
    con = _duckdb(data_dir)
    out = {k: con.execute(sql).fetchone()[0] for k, sql in STATS.items()}
    for name in queries:
        out[f"oracle_rows.{name}"] = len(con.execute(registry[name].oracle).fetchall())
    return out


def time_queries(dirs: dict[str, str], queries, repeats: int) -> dict:
    """Median wall seconds of each query on each input, one session."""
    from transitdata_monitor_data_collector_spark.plans import load_all
    from transitdata_monitor_data_collector_spark.session import get_spark

    spark = get_spark(master="local[4]")
    registry = load_all()
    out: dict = {}
    try:
        for name in queries:
            for label, d in dirs.items():
                walls = []
                for _ in range(repeats + 1):  # the first run is a warm-up
                    t0 = time.perf_counter()
                    registry[name].build(spark, d).write.format("noop").mode(
                        "overwrite").save()
                    walls.append(time.perf_counter() - t0)
                out[(name, label)] = statistics.median(walls[1:])
                print(f"  {name:32s} {label:10s} {out[(name, label)]:.3f} s",
                      flush=True)
    finally:
        spark.stop()
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("reference", help="directory holding events.parquet and documents.parquet")
    ap.add_argument("--time", type=int, default=0, metavar="N",
                    help="also time each query N times per input")
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)
    from perfbench import loadgen
    from perfbench.workloads import DEDUP, PANELS

    queries = PANELS + DEDUP
    with tempfile.TemporaryDirectory() as gen:
        loadgen.write_tables(gen, "full")
        ref, ours = describe(args.reference, queries), describe(gen, queries)
        print(f"{'statistic':44s} {'reference':>22s} {'generated':>22s}")
        for k in ref:
            print(f"{k:44s} {str(ref[k]):>22s} {str(ours[k]):>22s}")
        if args.time:
            time_queries({"reference": args.reference, "generated": gen},
                         queries, args.time)
    return 0


if __name__ == "__main__":
    sys.exit(main())
