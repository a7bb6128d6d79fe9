"""Generate self-contained DuckDB oracle SQL for the verbatim corpus.

For each vendored reference file the oracle is the *same verbatim text*
wrapped in a mechanical canonicalization shell (see corpus_ref.canonicalize —
the Spark side applies the identical transforms via DataFrame ops):

    WITH ref_<suite>_<t> AS (SELECT * FROM read_parquet('<fixture>')), ...
    SELECT round(CAST(a000 AS DOUBLE), 4) AS c000, ... FROM (
      <templated verbatim query text>
    ) __q(a000, a001, ...)

Output schemas are discovered via DuckDB DESCRIBE. Queries DuckDB cannot
parse are reported and skipped (they stay rows-only in the registry).

Usage: python tools/gen_ref_oracles.py [tpcds|tpch] [name ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from iceberg_benchmark_java_spark import corpus_ref as cr

NUMERIC = ("DECIMAL", "DOUBLE", "FLOAT", "REAL", "TINYINT", "SMALLINT",
           "INTEGER", "BIGINT", "HUGEINT", "UTINYINT", "USMALLINT",
           "UINTEGER", "UBIGINT")
TEMPORAL = ("DATE", "TIMESTAMP", "TIME")


def transform(alias: str, duck_type: str) -> str:
    t = duck_type.upper()
    if t.startswith(NUMERIC):
        return f"round(CAST({alias} AS DOUBLE), 4)"
    if t.startswith(TEMPORAL):
        return f"CAST({alias} AS VARCHAR)"
    return alias


def build_oracle(con, suite: str, name: str) -> str:
    raw = cr.corpus_sql(suite, name).strip().rstrip(";")
    templated = cr.duck_dialect(cr.template(suite, raw))
    schema = con.execute(f"DESCRIBE {templated}").fetchall()
    n = len(schema)
    aliases = [f"a{i:03d}" for i in range(n)]
    selects = ",\n  ".join(
        f"{transform(a, row[1])} AS c{i:03d}" for i, (a, row) in enumerate(zip(aliases, schema))
    )
    _, fdir, _tables = cr.SUITES[suite]
    ctes = ",\n".join(
        f"{cr._view(suite, t)} AS (SELECT * FROM read_parquet('{os.path.join(fdir, t + '.parquet')}'))"
        for t in cr.used_tables(suite, raw)
    )
    return (
        f"-- auto-generated by tools/gen_ref_oracles.py; inner text is the\n"
        f"-- verbatim reference file corpus/{suite}_ref/{name}.sql\n"
        f"WITH\n{ctes}\n"
        f"SELECT\n  {selects}\nFROM (\n{templated}\n) __q({', '.join(aliases)})\n"
    )


def main() -> int:
    suites = [s for s in ("tpcds", "tpch") if not sys.argv[1:] or s in sys.argv[1:]]
    only = {a for a in sys.argv[1:] if a not in ("tpcds", "tpch")}
    con = duckdb.connect()
    fails = []
    for suite in suites:
        out_dir = os.path.join(cr.CORPUS, f"{suite}_ref_oracles")
        os.makedirs(out_dir, exist_ok=True)
        cr.duck_connect_and_register(con, suite)
        for name in cr.query_names(suite):
            if only and name not in only:
                continue
            try:
                oracle = build_oracle(con, suite, name)
                # sanity: the self-contained text must parse standalone
                duckdb.connect().execute(f"DESCRIBE {oracle}")
            except Exception as e:
                fails.append((suite, name, str(e).splitlines()[0][:200]))
                continue
            with open(cr.oracle_path(suite, name), "w") as f:
                f.write(oracle)
            print(f"OK    {suite}/{name}")
    for suite, name, err in fails:
        print(f"FAIL  {suite}/{name}: {err}")
    print(f"\n{len(fails)} failures")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
