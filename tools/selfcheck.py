"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on
DuckDB over the same sf dir, then compares row count, column names,
order-insensitive values (rows sorted by all columns, columns sorted
by name), AND canonical column TYPES. The typed comparison exists
because the driver's value-hash is type-sensitive (VERDICT r6 #1/#4:
DuckDB widens SUM(BIGINT) to HUGEINT, which hash-diverges from
Spark's BIGINT even when every value is equal — Python-level value
comparison alone cannot see that). Reports per-query PASS/FAIL with
first diffs.

Usage: python tools/selfcheck.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

from vfs_spark.schema import TABLES  # noqa: E402


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:
            return 0.0
        return v
    if hasattr(v, "isoformat"):  # datetime/date
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, bytes):
        return v.hex()
    return v


# DuckDB type-name → Spark simpleString. Types with no entry (HUGEINT,
# UHUGEINT, UBIGINT, ...) have no Spark twin and canonicalize to
# themselves — guaranteeing a mismatch against any Spark column, which
# is exactly the driver-typed-hash behavior we mirror.
_DUCK_TO_SPARK = {
    "TINYINT": "tinyint",
    "SMALLINT": "smallint",
    "INTEGER": "int",
    "BIGINT": "bigint",
    "FLOAT": "float",
    "DOUBLE": "double",
    "VARCHAR": "string",
    "BOOLEAN": "boolean",
    "DATE": "date",
    "TIMESTAMP": "timestamp",
    # NB: TIMESTAMP WITH TIME ZONE deliberately has NO entry (ADVICE
    # r7): a tz-aware oracle column canonicalizes to "timestamp with
    # time zone" ≠ any Spark simpleString, so a naive-vs-aware
    # divergence is flagged HERE instead of slipping through to the
    # driver's type-sensitive hash. Oracles that genuinely mean the
    # naive timestamptz instant must cast to TIMESTAMP explicitly.
    "BLOB": "binary",
}


def _canon_duck(tstr: str) -> str:
    t = str(tstr).strip()
    if t.endswith("[]"):
        return f"array<{_canon_duck(t[:-2])}>"
    if t.upper().startswith("DECIMAL"):
        return t.lower().replace(" ", "")
    return _DUCK_TO_SPARK.get(t.upper(), t.lower())


def _type_problems(sdf, rel) -> list[str]:
    """Driver-typed-hash mirror: canonical per-column type comparison.
    Catches e.g. DuckDB HUGEINT (SUM over BIGINT) vs Spark BIGINT —
    equal values, divergent typed hash (VERDICT r6 #1)."""
    stypes = {f.name: f.dataType.simpleString() for f in sdf.schema.fields}
    dtypes = {c: _canon_duck(t) for c, t in zip(rel.columns, rel.types)}
    bad = []
    for c in sorted(set(stypes) & set(dtypes)):
        if stypes[c] != dtypes[c]:
            bad.append(f"type[{c}]: spark={stypes[c]} duck={dtypes[c]}")
    return bad


def _rows_to_set(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        tuple(_norm(r[i]) for i in order) for r in rows
    ), [cols[i] for i in order]


def check(spark, con, name, fn, sql, sf_dir, results=None):
    t0 = time.time()
    sdf = fn(spark, sf_dir)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    t_spark = time.time() - t0
    t0 = time.time()
    rel = con.sql(sql)
    dcols = rel.columns
    drows = rel.fetchall()
    t_duck = time.time() - t0

    problems = []
    if sorted(scols) != sorted(dcols):
        problems.append(f"schema: spark={sorted(scols)} duck={sorted(dcols)}")
    problems.extend(_type_problems(sdf, rel))
    if len(srows) != len(drows):
        problems.append(f"rowcount: spark={len(srows)} duck={len(drows)}")
    if not problems:
        sset, _ = _rows_to_set(scols, srows)
        dset, _ = _rows_to_set(dcols, drows)
        if sset != dset:
            diffs = [
                (a, b) for a, b in zip(sset, dset) if a != b
            ][:3]
            only_s = [r for r in sset if r not in set(dset)][:2]
            problems.append(f"values: first diffs {diffs or only_s}")
    status = "PASS" if not problems else "FAIL"
    print(
        f"{status}  {name:28s} rows={len(srows):6d} spark={t_spark:5.1f}s duck={t_duck:4.1f}s "
        + ("; ".join(problems) if problems else "")
    )
    if results is not None:
        results[name] = {
            "status": status,
            "rows": len(srows),
            "spark_s": round(t_spark, 2),
            "duck_s": round(t_duck, 2),
            "problems": problems,
        }
    return not problems


def main():
    args = sys.argv[1:]
    json_path = None
    if "--json" in args:
        i = args.index("--json")
        if i + 1 >= len(args):
            sys.exit("usage: selfcheck.py [sf_dir] [query ...] --json PATH")
        json_path = args[i + 1]
        args = args[:i] + args[i + 2 :]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    from vfs_spark.session import get_spark
    from vfs_spark.queries import QUERIES, ORACLES

    spark = get_spark("selfcheck")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    ok = fail = rows_only = 0
    results: dict[str, dict] = {}
    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        if name not in ORACLES:
            try:
                n = fn(spark, sf_dir).count()
                print(f"ROWS  {name:28s} rows={n:6d} (no oracle)")
                results[name] = {"status": "ROWS_ONLY", "rows": n, "problems": []}
                rows_only += 1
            except Exception as e:  # noqa: BLE001
                print(f"FAIL  {name:28s} EXC {type(e).__name__}: {e}")
                results[name] = {
                    "status": "FAIL",
                    "problems": [f"{type(e).__name__}: {str(e)[:300]}"],
                }
                fail += 1
            continue
        try:
            if check(spark, con, name, fn, ORACLES[name], sf_dir, results):
                ok += 1
            else:
                fail += 1
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name:28s} EXC {type(e).__name__}: {str(e)[:300]}")
            results[name] = {
                "status": "FAIL",
                "problems": [f"{type(e).__name__}: {str(e)[:300]}"],
            }
            fail += 1
    print(f"\n{ok} pass, {fail} fail, {rows_only} rows-only")
    if json_path:
        import json

        with open(json_path, "w") as f:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "summary": {"pass": ok, "fail": fail, "rows_only": rows_only},
                    "results": results,
                },
                f,
                indent=1,
                sort_keys=True,
            )
    sys.exit(1 if fail else 0)


if __name__ == "__main__":
    main()
