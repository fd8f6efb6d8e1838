"""Self-check harness mirroring the driver's correctness gate: run every
``queries()`` entry through Spark and the matching ``oracle_sql()`` through
DuckDB on the same sf dir; compare row count, schema width, and
order-insensitive values (columns sorted by name, rows sorted).

Usage: python tools/check_correctness.py [sf_dir] [query ...] [--json out.json]

Given query names, only those queries' kernel oracles are built
(``requested_oracles``); with none, every oracle is.

``--json`` additionally writes a machine-readable artifact in the driver's
CORRECTNESS_r{N}.json row format ({rows_match, schema_match, hash_match,
spark_rows, oracle_rows, err} per query; oracle-less queries get null
matches plus status="no_oracle" — nothing was compared, only the row
count recorded), so full-registry hash evidence is a checked-in JSON
file rather than a prose transcript.
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def normalize(df, float_dp=9):
    """pandas DataFrame -> sorted list of value tuples with column-name
    sorting, NaN/None unification, float normalization."""
    cols = sorted(df.columns)
    out = []
    for row in df[cols].itertuples(index=False, name=None):
        vals = []
        for v in row:
            if v is None:
                vals.append(None)
            elif isinstance(v, float):
                if math.isnan(v):
                    vals.append(None)
                else:
                    vals.append(round(v, float_dp))
            else:
                vals.append(str(v))
        out.append(tuple(vals))
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return cols, out


def requested_oracles(oracle_sql, names) -> dict:
    """``oracle_sql()`` with only the kernel oracles of ``names`` built.

    Every kernel oracle is a plain ``sql[name] = O.ora_*(...)`` assignment,
    and building them all runs minutes of single-threaded Python whatever
    was asked for.  So each ``dachshund_spark.oracles.ora_*`` is swapped,
    for the one call, for a stand-in that records its arguments; only the
    requested entries are then built, by the real functions."""
    from dachshund_spark import oracles as O

    real = {n: f for n, f in vars(O).items() if n.startswith("ora_") and callable(f)}

    def defer(fn):
        return lambda *a, **kw: (fn, a, kw)

    for n, f in real.items():
        setattr(O, n, defer(f))
    try:
        sql = oracle_sql()
    finally:
        for n, f in real.items():
            setattr(O, n, f)
    out = {}
    for name in names & sql.keys():
        entry = sql[name]
        if isinstance(entry, tuple):
            fn, a, kw = entry
            entry = fn(*a, **kw)
        out[name] = entry
    return out


def main():
    argv = sys.argv[1:]
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        if i + 1 >= len(argv):
            sys.exit("usage: check_correctness.py [sf_dir] [query ...] --json OUT.json")
        json_out = argv[i + 1]
        del argv[i : i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.001"
    only = set(argv[1:])

    import duckdb

    import __spark_entry__ as E
    from dachshund_spark.session import get_spark

    spark = get_spark(
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]",
        shuffle_partitions=8,
        extra={"spark.ui.enabled": "false", "spark.driver.memory": "8g"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = E.queries()
    # kernel oracles derive their expected values from the sf dir being
    # checked (the driver's default is sf0.01 — the gate scale)
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir
    oracles = requested_oracles(E.oracle_sql, only) if only else E.oracle_sql()
    failures = []
    records: dict[str, dict] = {}
    for name, fn in sorted(qs.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            got_df = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            failures.append(name)
            print(f"FAIL  {name}: spark error: {str(ex)[:400]}")
            records[name] = {
                "rows_match": False, "schema_match": False,
                "hash_match": False, "spark_rows": None, "oracle_rows": None,
                "err": f"spark error: {str(ex)[:200]}",
            }
            continue
        spark_s = time.time() - t0
        if name not in oracles:
            # nothing was compared: record null matches + an explicit
            # status so a consumer counting green rows cannot mistake an
            # oracle-less query for a verified one
            print(f"rows  {name}: {len(got_df)} rows (no oracle) [{spark_s:.1f}s]")
            records[name] = {
                "rows_match": None, "schema_match": None, "hash_match": None,
                "status": "no_oracle",
                "spark_rows": len(got_df), "oracle_rows": None, "err": None,
            }
            continue
        t0 = time.time()
        try:
            want_df = con.execute(oracles[name]).df()
        except Exception as ex:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {str(ex)[:400]}")
            records[name] = {
                "rows_match": False, "schema_match": False,
                "hash_match": False, "spark_rows": len(got_df),
                "oracle_rows": None, "err": f"duckdb error: {str(ex)[:200]}",
            }
            continue
        duck_s = time.time() - t0
        gc, gv = normalize(got_df)
        wc, wv = normalize(want_df)
        status = "OK  "
        msg = ""
        if len(gv) != len(wv):
            status = "FAIL"
            msg = f" rows {len(gv)} vs {len(wv)}"
        elif gc != wc:
            status = "FAIL"
            msg = f" cols {gc} vs {wc}"
        elif gv != wv:
            status = "FAIL"
            bad = sum(1 for a, b in zip(gv, wv) if a != b)
            for a, b in zip(gv, wv):
                if a != b:
                    msg = f" {bad} mismatched rows; first: {a} vs {b}"
                    break
        if status == "FAIL":
            failures.append(name)
        records[name] = {
            "rows_match": len(gv) == len(wv),
            "schema_match": gc == wc,
            "hash_match": status != "FAIL",
            "spark_rows": len(gv),
            "oracle_rows": len(wv),
            "err": None,
        }
        print(
            f"{status}  {name}: {len(gv)} rows [spark {spark_s:.1f}s, duckdb {duck_s:.1f}s]{msg}"
        )
        # between-query hygiene: drop leftover caches and release py4j
        # proxies so the JVM ContextCleaner can free localCheckpoint RDD
        # blocks — a 55-query sf0.1 run otherwise accumulates enough
        # driver-heap block data to OOM near the end of the session
        spark.catalog.clearCache()
        import gc as _gc

        _gc.collect()
        spark.sparkContext._jvm.System.gc()
    if json_out:
        import json

        with open(json_out, "w") as f:
            json.dump(records, f, indent=2)
        print(f"wrote {json_out} ({len(records)} queries)")
    print("\n" + ("ALL OK" if not failures else f"FAILURES: {failures}"))
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
