"""Local replica of the driver's differential correctness gate.

Runs every registered query on Spark and its oracle on DuckDB over the
same parquet tables, then compares row count, schema (column names), and
an order-insensitive value hash. Usage:

    python tools/check_correctness.py [sf_dir] [query ...]

Exit code != 0 on any mismatch. This is the tight iteration loop for
plans/ development; the pytest suite wraps it for CI.
"""

from __future__ import annotations

import json
import math
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import duckdb

from real_time_e_commerce_analytics_lakehouse_spark.operators.simsearch import (
    release_cached,
)
from real_time_e_commerce_analytics_lakehouse_spark.plans import QUERIES
from real_time_e_commerce_analytics_lakehouse_spark.session import TESTDATA_TABLES, get_spark

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def _canon(v: object) -> object:
    """Canonicalize a cell for order-insensitive comparison."""
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # round away last-bit noise; queries already round explicitly
        return round(v, 9)
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return str(v)


def _rowset(rows: list[tuple], columns: list[str]) -> list[tuple]:
    """Sort columns by name, canonicalize cells, sort rows."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(
        (tuple(_canon(r[i]) for i in order) for r in rows),
        key=lambda t: tuple((x is None, str(x)) for x in t),
    )


def run_duckdb(sql: str, sf_dir: str) -> tuple[list[tuple], list[str]]:
    con = duckdb.connect()
    # private spill dir: concurrent harness processes sharing a cwd
    # race on the default ./.tmp temp storage (observed: one process's
    # exit cleanup deletes another's live spill file -> fatal
    # duckdb::IOException); large-SF oracles DO spill
    import os as _os
    import tempfile as _tf

    con.execute(
        "SET temp_directory = "
        f"'{_tf.gettempdir()}/duckspill_{_os.getpid()}'"
    )
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return cur.fetchall(), cols


def check(name: str, sf_dir: str, spark) -> tuple[bool, str]:
    q = QUERIES[name]
    sdf = q.builder(spark, sf_dir)
    try:
        srows = [tuple(r) for r in sdf.collect()]
    finally:
        # release the builder's cache leases: this harness (and the
        # pytest wrapper, which asserts nothing stays behind) runs the
        # whole registry in ONE session, so an unreleased persist would
        # stay pinned for every later query (r4 review)
        release_cached(sdf)
    scols = sdf.columns
    if q.oracle is None:
        return True, f"rows-only ({len(srows)} rows)"
    orows, ocols = run_duckdb(q.oracle, sf_dir)
    if sorted(scols) != sorted(ocols):
        return False, f"SCHEMA spark={sorted(scols)} duckdb={sorted(ocols)}"
    if len(srows) != len(orows):
        return False, f"ROWCOUNT spark={len(srows)} duckdb={len(orows)}"
    s, o = _rowset(srows, scols), _rowset(orows, ocols)
    if s != o:
        diffs = [i for i in range(len(s)) if s[i] != o[i]][:3]
        detail = "; ".join(
            f"row{i}: spark={s[i]} duckdb={o[i]}" for i in diffs
        )
        return False, f"VALUES ({len(diffs)}+ diffs) {detail}"
    return True, f"ok ({len(srows)} rows)"


def main() -> int:
    args = sys.argv[1:]
    json_out, round_no = None, None
    if "--json" in args:
        i = args.index("--json")
        json_out = args[i + 1]
        args = args[:i] + args[i + 2 :]
    if "--round" in args:
        i = args.index("--round")
        round_no = int(args[i + 1])
        args = args[:i] + args[i + 2 :]
    sf_dir = DEFAULT_SF_DIR
    if args and Path(args[0]).is_dir():
        sf_dir, args = args[0], args[1:]
    names = args or list(QUERIES)
    spark = get_spark()
    failed = []
    results: dict[str, dict] = {}
    for name in names:
        try:
            ok, msg = check(name, sf_dir, spark)
        except Exception as e:  # noqa: BLE001
            ok, msg = False, f"EXCEPTION {type(e).__name__}: {e}"
        spark.catalog.clearCache()  # a leak in one query skews no other
        status = "PASS" if ok else "FAIL"
        print(f"[{status}] {name}: {msg}", flush=True)
        m = re.search(r"\((\d+) rows\)", msg)
        results[name] = {
            "pass": ok,
            "rows": int(m.group(1)) if m else None,
            "msg": None if ok else msg,
        }
        if not ok:
            failed.append(name)
    print(f"\n{len(names) - len(failed)}/{len(names)} passed ({sf_dir})")
    if json_out:
        artifact = {
            "sf_dir": sf_dir,
            "round": round_no,
            "passed": len(names) - len(failed),
            "total": len(names),
            "queries": results,
        }
        Path(json_out).write_text(json.dumps(artifact, indent=1))
        print(f"wrote {json_out}")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
