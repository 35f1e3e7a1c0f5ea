"""Local stand-in for the driver's correctness gate: run every
``queries()`` entry via Spark and the matching ``oracle_sql()`` via DuckDB
at sf0.01, compare row count + column names + order-insensitive values.

Usage: python scripts/check_oracle.py [name ...]
"""

from __future__ import annotations

import math
import sys
from pathlib import Path

import duckdb
from pyspark.sql.types import DecimalType

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SF_DIR = "/root/testdata/sf0.01"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        r = round(v, 6)
        return "0" if r == 0 else f"{r:.6g}"
    if isinstance(v, int):
        return str(v)
    return str(v)


def canon(rows: list[dict]) -> list[tuple]:
    if not rows:
        return []
    cols = sorted(rows[0].keys())
    return sorted(tuple(norm(r[c]) for c in cols) for r in rows)


def boundary_type_errors(spark_schema, columns, types) -> list[str]:
    """One error per oracle-boundary column typed DECIMAL in Spark, or
    HUGEINT / UHUGEINT / DECIMAL in the DuckDB relation (``rel.columns``,
    ``rel.types``). The driver's hasher serializes these types differently
    per engine (round-4 ``band_df_report``, round-5 ``pack_sequences``), so
    such a column must be cast at the boundary, in both queries."""
    errs = [
        f"spark column {f.name} is {f.dataType.simpleString()}"
        for f in spark_schema.fields
        if isinstance(f.dataType, DecimalType)
    ]
    errs += [
        f"duckdb column {c} is {t}"
        for c, t in zip(columns, types)
        if t.id in ("hugeint", "uhugeint", "decimal")
    ]
    return errs


def main() -> int:
    import __spark_entry__ as entry_mod
    from data_profiler_spark.session import get_spark

    only = set(sys.argv[1:])
    spark = get_spark(app_name="oracle_check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, SF_DIR)
            srows = [r.asDict() for r in sdf.collect()]
            scols = sorted(sdf.columns)
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            failures += 1
            continue
        if name not in oracles:
            print(f"SKIP {name}: no oracle (rows={len(srows)})")
            continue
        try:
            rel = con.sql(oracles[name])
            ocols = sorted(c.lower() for c in rel.columns)
            orows = [dict(zip([c.lower() for c in rel.columns], row)) for row in rel.fetchall()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            failures += 1
            continue
        lint = boundary_type_errors(sdf.schema, rel.columns, rel.types)
        for err in lint:
            print(f"FAIL {name}: {err}")
        failures += len(lint)
        ok = True
        if [c.lower() for c in scols] != ocols:
            print(f"FAIL {name}: schema spark={scols} duckdb={ocols}")
            ok = False
        elif len(srows) != len(orows):
            print(f"FAIL {name}: rowcount spark={len(srows)} duckdb={len(orows)}")
            ok = False
        else:
            cs, co = canon(srows), canon(orows)
            if cs != co:
                diff = [(a, b) for a, b in zip(cs, co) if a != b][:3]
                print(f"FAIL {name}: value mismatch; first diffs: {diff}")
                ok = False
        if not ok:
            failures += 1
        elif not lint:
            print(f"OK   {name} ({len(srows)} rows)")
    print(f"\n{'ALL OK' if failures == 0 else f'{failures} FAILURES'}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
