"""Audit: for every (query, oracle) pair, compare the Spark result schema
against the DuckDB oracle result types at the type-KIND level.

The driver's value hasher serializes typed values; a DuckDB HUGEINT or
DECIMAL column vs a Spark BIGINT column hashes differently even when the
values are numerically identical (r04 dq_rules_orders, r05
text_bpe_merge_step were both this class).  The local string-normalizing
gate can't see it, so this audit flags any kind mismatch up front.

Usage: python tools/audit_oracle_types.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _kind(type_name: str) -> str:
    t = type_name.lower()
    if "decimal" in t or "hugeint" in t or "int128" in t:
        return "decimal"
    if t in ("tinyint", "smallint", "int", "integer", "bigint", "long",
             "short", "byte", "int8", "int16", "int32", "int64",
             "ubigint", "uinteger", "usmallint", "utinyint", "number"):
        return "int"
    if t in ("float", "double", "real", "float32", "float64"):
        return "float"
    if t in ("string", "varchar", "text", "str"):
        return "str"
    if t in ("boolean", "bool"):
        return "bool"
    if "timestamp" in t:
        return "timestamp"
    if t == "date":
        return "date"
    if t.startswith(("array", "list")) or "[]" in t:
        return "array"
    if t.startswith(("map", "struct", "binary", "blob")):
        return t.split("(")[0].split("<")[0]
    return t


def main() -> int:
    import duckdb

    from __spark_entry__ import oracle_sql, queries
    from vertica_hadoop_integration__spark.session import get_session

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_session("oracle-type-audit")
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs, oracles = queries(), oracle_sql()
    n_mismatch = 0
    for name in sorted(oracles):
        try:
            sdf = qs[name](spark, sf_dir)
            stypes = dict(sdf.dtypes)
        except Exception as e:  # noqa: BLE001
            print(f"ERR {name}: spark: {e}")
            n_mismatch += 1
            continue
        try:
            rel = con.sql(oracles[name])
            otypes = dict(zip(rel.columns, (str(t) for t in rel.types)))
        except Exception as e:  # noqa: BLE001
            print(f"ERR {name}: duckdb: {e}")
            n_mismatch += 1
            continue
        for col in sorted(set(stypes) | set(otypes)):
            sk = _kind(stypes[col]) if col in stypes else "<missing>"
            ok = _kind(otypes[col]) if col in otypes else "<missing>"
            if sk != ok:
                print(f"MISMATCH {name}.{col}: spark={stypes.get(col)}({sk}) "
                      f"duckdb={otypes.get(col)}({ok})")
                n_mismatch += 1
            # Banned class (r09 jsonl_probe_* isolation, reports/NOTES.md
            # r10 entry): the driver's typed value hasher serializes a
            # DuckDB HUGEINT / HUGEINT-derived DECIMAL(38,0) aggregate
            # differently from Spark's BigDecimal even when values and
            # kinds agree — BIGINT cells through the identical pipeline
            # hash green.  Retype to BIGINT (bit_xor/mod) or a
            # lower-precision DECIMAL CAST on both sides.
            o_raw = (otypes.get(col) or "").upper().replace(" ", "")
            if o_raw in ("HUGEINT", "INT128", "DECIMAL(38,0)"):
                print(f"BANNED-TYPE {name}.{col}: duckdb={otypes[col]} "
                      f"(HUGEINT-derived DECIMAL(38,0) class, see "
                      f"reports/NOTES.md r10)")
                n_mismatch += 1
    print(f"\n{n_mismatch} kind mismatches across {len(oracles)} oracles")
    return 1 if n_mismatch else 0


if __name__ == "__main__":
    raise SystemExit(main())
