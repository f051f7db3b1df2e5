"""Engine-side digest verification for output-quadratic pair queries
(r10): at sf1 the two pair-dump queries emit ~200M rows — collecting
both engines' row sets (the normal harness) is infeasible, but every
output column is an INTEGER, so the full multiset can be compared
EXACTLY without collection: each engine computes
count(*) + two order-insensitive polynomial multiset digests
(Horner fold of the sorted-by-name columns mod two distinct primes,
summed — the same double-witness trick the CC convergence certificate
uses; a false match needs simultaneous collisions mod both primes).
Pure bigint arithmetic, bit-identical across engines; one extra
aggregation instead of a 200M-row collect.

Usage: python tools/bigpair_digest.py [sf_dir] query [query ...]
Writes DIGEST_<name>.json next to nothing — prints one JSON line per
query; the caller merges into the correctness artifact.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

# (prime, inner multiplier, outer multiplier) — two independent digests
DIGESTS = [
    (1_000_000_007, 1_000_003, 65_599),
    (998_244_353, 1_000_033, 77_377),
]


def _digest_expr(cols: list[str], p: int, m1: int, m2: int) -> str:
    """Per-row Horner fold of the named integer columns mod p, then a
    final spread multiply — the same SQL text evaluates identically in
    Spark and DuckDB (bigint %, *, + on non-negative operands)."""
    acc = "CAST(0 AS BIGINT)"
    for c in sorted(cols):
        acc = f"((({acc}) * {m1} + CAST({c} AS BIGINT)) % {p})"
    return f"SUM((({acc}) * {m2}) % {p})"


def main() -> int:
    args = sys.argv[1:]
    sf_dir = "/tmp/sf1_soak"
    if args and Path(args[0]).is_dir():
        sf_dir, args = args[0], args[1:]

    import duckdb

    from real_time_e_commerce_analytics_lakehouse_spark.operators.simsearch import (
        release_cached,
    )
    from real_time_e_commerce_analytics_lakehouse_spark.plans import QUERIES
    from real_time_e_commerce_analytics_lakehouse_spark.session import (
        TESTDATA_TABLES,
        get_spark,
    )

    spark = get_spark()
    failed = []
    for name in args:
        q = QUERIES[name]
        sdf = q.builder(spark, sf_dir)
        cols = sdf.columns
        exprs = [f"COUNT(*) AS n"] + [
            _digest_expr(cols, p, m1, m2) + f" AS d{i}"
            for i, (p, m1, m2) in enumerate(DIGESTS)
        ]
        t0 = time.time()
        srow = sdf.selectExpr(*exprs).collect()[0]
        release_cached(sdf)
        spark.catalog.clearCache()
        t_spark = round(time.time() - t0, 1)

        con = duckdb.connect()
        con.execute("SET TimeZone='UTC'")
        con.execute(
            "SET temp_directory = '/tmp/duckspill_digest'"
        )
        for t in TESTDATA_TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{sf_dir}/{t}.parquet')"
            )
        t0 = time.time()
        orow = con.execute(
            "SELECT "
            + ", ".join(
                ["CAST(COUNT(*) AS BIGINT)"]
                + [
                    "CAST("
                    + _digest_expr(cols, p, m1, m2)
                    + " AS BIGINT)"
                    for (p, m1, m2) in DIGESTS
                ]
            )
            + f" FROM ({q.oracle}) __t"
        ).fetchone()
        con.close()
        t_duck = round(time.time() - t0, 1)

        got = tuple(srow)
        want = tuple(orow)
        ok = got == want
        print(
            json.dumps(
                {
                    "query": name,
                    "pass": ok,
                    "rows": int(got[0]),
                    "spark": list(map(int, got)),
                    "duckdb": list(map(int, want)),
                    "spark_s": t_spark,
                    "duckdb_s": t_duck,
                    "sf_dir": sf_dir,
                }
            ),
            flush=True,
        )
        if not ok:
            failed.append(name)
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
