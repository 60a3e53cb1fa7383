"""Local replica of the driver's correctness gate: run every queries()
DataFrame program AND its oracle_sql() through DuckDB on the same parquet,
compare row-count + schema-insensitive sorted values.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _kind(type_name: str) -> str:
    """Collapse a Spark dtype / DuckDB type string to a comparison kind.

    The driver's value hasher serializes typed values, so a DuckDB
    HUGEINT/DECIMAL column vs a Spark BIGINT column hash-mismatches even
    when numerically identical (r04 dq_rules_orders and r05
    text_bpe_merge_step were both this class).  String-normalizing the
    cells can't see it; comparing type kinds does.
    """
    t = type_name.lower()
    if "decimal" in t or "hugeint" in t or "int128" in t:
        return "decimal"
    if t in ("tinyint", "smallint", "int", "integer", "bigint", "long",
             "short", "byte", "int8", "int16", "int32", "int64",
             "ubigint", "uinteger", "usmallint", "utinyint"):
        return "int"
    if t in ("float", "double", "real", "float32", "float64"):
        return "float"
    if t in ("string", "varchar", "text", "str"):
        return "str"
    if t in ("boolean", "bool"):
        return "bool"
    if "timestamp" in t or t == "datetime":
        return "timestamp"
    if t == "date":
        return "date"
    if t.startswith(("array", "list")) or "[]" in t:
        return "array"
    return t.split("(")[0].split("<")[0]


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # round to 9 significant-ish decimals to absorb float formatting noise,
        # NOT arithmetic differences (we engineer those away with decimal math)
        return f"{v:.9g}"
    if isinstance(v, bool):
        return str(v)
    return str(v)


def _normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(_norm_cell(r[i]) for i in order))
    out.sort(key=lambda t: tuple("" if x is None else x for x in t))
    return out


def main() -> int:
    import duckdb

    from __spark_entry__ import oracle_sql, queries
    from vertica_hadoop_integration__spark.session import get_session

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = get_session("correctness-check")
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs, oracles = queries(), oracle_sql()
    n_pass = n_fail = n_rowsonly = 0
    for name, fn in sorted(qs.items()):
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            srows = [tuple(r) for r in sdf.collect()]
            scols = list(sdf.columns)
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(srows)} rows")
            n_rowsonly += 1
            continue
        try:
            rel = con.sql(oracles[name])
            ocols = list(rel.columns)
            otypes = dict(zip(ocols, (str(t) for t in rel.types)))
            orows = rel.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            continue
        problems = []
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"columns spark={sorted(scols)} oracle={sorted(ocols)}")
        else:
            stypes = dict(sdf.dtypes)
            for col in scols:
                sk, ok = _kind(stypes[col]), _kind(otypes[col])
                if sk != ok:
                    problems.append(
                        f"type-kind {col}: spark={stypes[col]}({sk}) "
                        f"oracle={otypes[col]}({ok})")
        if not problems:
            sn, on = _normalize(srows, scols), _normalize(orows, ocols)
            if sn != on:
                for i, (a, b) in enumerate(zip(sn, on)):
                    if a != b:
                        problems.append(f"first value diff @ sorted-row {i}: spark={a} oracle={b}")
                        break
                else:
                    problems.append("value diff (length mismatch after zip)")
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            n_fail += 1
        else:
            print(f"PASS {name} ({len(srows)} rows)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
