"""Driver-style oracle checker: runs every queries() entry on Spark and its
oracle_sql() on DuckDB, compares row count, column names, and
order-insensitive value multisets. The oracles are self-contained VALUES
SQL, so DuckDB reads no table; ``sf_dir`` is only passed on to the queries,
whose signature takes it. Usage:

    python tools/check_oracles.py [sf_dir] [name ...]
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")


def norm(v):
    import math
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 6)
    if isinstance(v, bool):
        return int(v)
    return v


def main():
    import duckdb
    import __spark_entry__ as e
    from joern_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark()
    con = duckdb.connect()

    qs, oracles = e.queries(), e.oracle_sql()
    failed = []
    import time
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        df = fn(spark, sf_dir)
        cols = [c.lower() for c in df.columns]
        rows = [tuple(norm(v) for v in r) for r in df.collect()]
        spark_wall = time.time() - t0
        res = con.execute(oracles[name])
        ocols = [d[0].lower() for d in res.description]
        orows = [tuple(norm(v) for v in r) for r in res.fetchall()]
        ok_cols = sorted(cols) == sorted(ocols)
        # driver compares columns sorted by name
        import collections
        perm = [cols.index(c) for c in sorted(cols)] if ok_cols else None
        operm = [ocols.index(c) for c in sorted(ocols)] if ok_cols else None
        sm = collections.Counter(tuple(r[i] for i in perm) for r in rows) if ok_cols else None
        om = collections.Counter(tuple(r[i] for i in operm) for r in orows) if ok_cols else None
        ok = ok_cols and sm == om
        status = "OK " if ok else "FAIL"
        print(f"{name:26s} {status} spark={len(rows)} duck={len(orows)} "
              f"cols={'=' if ok_cols else f'{cols} vs {ocols}'}  ({spark_wall:.1f}s)")
        if not ok:
            failed.append(name)
            if ok_cols:
                extra = list((sm - om).items())[:3]
                miss = list((om - sm).items())[:3]
                print("   spark-extra:", extra)
                print("   duck-extra :", miss)
    if failed:
        print("FAILED:", failed)
        sys.exit(1)
    print("all ok")


if __name__ == "__main__":
    main()
