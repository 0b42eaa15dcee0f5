#!/usr/bin/env python
"""Full-inventory oracle sweep at an arbitrary SF (default sf0.1) under an
adversarially-configured session (non-UTC tz, vanilla conf) — the
pre-handoff check that catches scale-dependent divergence the sf0.01
driver gate can't see. Two real bug classes only materialized at sf0.1
row counts: cross-job range-boundary sampling nondeterminism
(q_win_ntile_share) and RANGE-frame peer semantics on second-truncated
epochs (q_win_frame_range). The master follows ``SPARK_GRAFT_CPUS`` like
the tests and the benchmark. Run from the repo root:

    python tools/sweep_oracle.py [sf_dir] [--only qid1,qid2,...]

``--only`` restricts the sweep to a comma-separated query-id subset
(development loop); the pre-handoff run is always the full inventory.
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")


def main() -> int:
    argv = sys.argv[1:]
    only: set[str] | None = None
    if "--only" in argv:
        i = argv.index("--only")
        only = set(argv[i + 1].split(","))
        argv = argv[:i] + argv[i + 2 :]
    sf = argv[0] if argv else "/root/testdata/sf0.1"
    import duckdb
    from pyspark.sql import SparkSession

    from iceberg_poc_spark.session import default_master

    spark = (
        SparkSession.builder.master(default_master())
        .config("spark.sql.session.timeZone", "America/New_York")
        .appName("oracle-sweep")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as E

    q, o = E.queries(), E.oracle_sql()
    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )
    fails = []
    ids = sorted(o) if only is None else sorted(set(o) & only)
    for qid in ids:
        try:
            sdf = q[qid](spark, sf)
            s = sorted(tuple(map(str, r)) for r in sdf.collect())
            atab = con.execute(o[qid]).arrow()
            d = sorted(
                tuple(str(row[c]) for c in sdf.columns)
                for row in atab.to_pylist()
            )
            ok = s == d
        except Exception as e:  # noqa: BLE001 - report, keep sweeping
            ok = False
            print(f"{qid} ERROR {type(e).__name__}: {str(e)[:200]}", flush=True)
        if not ok:
            fails.append(qid)
            print(f"{qid} FAIL", flush=True)
            try:  # self-documenting diff: a transient/state-dependent
                # failure must leave enough evidence to root-cause
                ss, dd = set(s), set(d)
                print(
                    f"{qid} rows spark={len(s)} duck={len(d)}; "
                    f"only_spark={sorted(ss - dd)[:3]} "
                    f"only_duck={sorted(dd - ss)[:3]}",
                    flush=True,
                )
            except Exception:
                pass
    print(f"checked {len(ids)} at {sf}; failed: {fails or 'none'}")
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
