"""Local replica of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB over the same parquet dir, compares
row count + order-insensitive value hash (columns sorted by name),
prints a per-query verdict.  Usage:

    python tools/check_oracle.py [sf_dir] [query ...]
    python tools/check_oracle.py --retired [sf_dir]   # dropped-twin queries
    python tools/check_oracle.py --skip a,b [sf_dir]  # exclude named rows

``--skip`` exists for large-sf passes where an ORACLE is brute-force by
design (e.g. session_dedup's O(n^2) recursive-CTE pair graph — 4.4G pairs
at sf1's 94k sessions) while the engine side scales fine; the skipped rows
stay verified at the driver's sf0.01.
"""

from __future__ import annotations

import hashlib
import sys

import duckdb

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _normalize(df):  # pandas DataFrame → canonical string rows
    import pandas as pd

    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_float_dtype(s):
            # + 0.0 collapses IEEE -0.0 (prints "-0.0" and breaks hash
            # equality when one engine's round keeps the sign)
            df[c] = s.round(6) + 0.0
        elif pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.dt.strftime("%Y-%m-%d %H:%M:%S.%f")
        elif s.dtype == object:
            def norm(v):
                if v is None or (not isinstance(v, (list, tuple)) and pd.isna(v)):
                    return "NULL"
                if isinstance(v, (list, tuple)):
                    return str(list(v))
                if hasattr(v, "tolist") and not isinstance(v, str):
                    return str(v.tolist())
                return str(v)

            df[c] = s.map(norm)
    if len(df) == 0:
        return hashlib.sha256(b"").hexdigest(), 0
    rows = sorted(df.astype(str).apply("|".join, axis=1).tolist())
    return hashlib.sha256("\n".join(rows).encode()).hexdigest(), len(rows)


def _usage_error(msg: str) -> int:
    print(f"usage: check_oracle.py [--retired] [--skip a,b] [sf_dir] [query ...]\n"
          f"check_oracle.py: error: {msg}", file=sys.stderr)
    return 2


def main() -> int:
    skip: set[str] = set()
    args = []
    it = iter(sys.argv[1:])
    for a in it:
        if a == "--skip":
            names = next(it, None)
            if names is None:
                return _usage_error("--skip needs a comma-separated list of query names")
            skip |= set(names.split(","))
        elif a != "--retired":
            args.append(a)
    retired = "--retired" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entrymod
    from log_analysis_spark.session import get_spark

    if retired:
        qs, oracles = entrymod.retired_queries(), entrymod.retired_oracle_sql()
    else:
        qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    unknown = sorted((skip | only) - set(qs))
    if unknown:
        return _usage_error(
            f"no such {'retired' if retired else 'contract'} query: "
            f"{', '.join(unknown)}; valid names: {', '.join(sorted(qs))}"
        )

    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    failures = checked = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name in skip:
            print(f"skip {name}: excluded by --skip")
            continue
        checked += 1
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            failures += 1
            continue
        if name not in oracles:
            print(f"weak {name}: rows={len(sdf)} (no oracle — rows-only check)")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            failures += 1
            continue
        sh, sn = _normalize(sdf)
        oh, on = _normalize(odf)
        scols, ocols = sorted(sdf.columns), sorted(odf.columns)
        if scols != ocols:
            print(f"FAIL {name}: columns {scols} vs {ocols}")
            failures += 1
        elif sn != on:
            print(f"FAIL {name}: rowcount {sn} vs {on}")
            failures += 1
        elif sh != oh:
            print(f"FAIL {name}: value hash mismatch ({sn} rows)")
            failures += 1
        else:
            print(f"ok   {name}: {sn} rows")
    print(f"\n{failures} failures / {checked} queries")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
