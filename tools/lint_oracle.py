"""Static dtype lint for ``oracle_sql()``: bind every oracle in DuckDB
(LIMIT-0 execution over the sf views, no data scanned beyond binding)
and flag any OUTPUT column whose DuckDB type is HUGEINT / UHUGEINT /
UBIGINT.

Why this class specifically: DuckDB widens ``SUM(<integral>)`` and a
few other aggregates to HUGEINT, and ``fetchdf()`` converts HUGEINT to
float64 — while the Spark side of the same query stays int64.  The
driver's value hash is dtype-sensitive, so every such column is a
latent hash red even when all values are numerically identical.  This
exact class shipped 1 red in round 8 (``dup_ngram_fraction``) and 9
latent reds in round 9; the fix is always ``CAST(... AS BIGINT)`` at
the oracle's output.  The lint makes the class unwritable: it runs in
the round-closing gate (``check_oracle.py`` invokes it before the
replay) and fails loudly on any finding.

Usage: python tools/lint_oracle.py [sf_dir]
Exit status = number of offending oracles.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb

BAD_TYPES = {"HUGEINT", "UHUGEINT", "UBIGINT"}


def lint(sf_dir: str = "/root/testdata/sf0.001") -> dict[str, list[str]]:
    """Return {query_name: [offending 'col: TYPE' strings]} for every
    oracle whose output schema contains a hash-unsafe integer type."""
    import __spark_entry__ as entry_mod
    from networkframe_spark.sources import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM"
            f" read_parquet('{sf_dir}/{t}.parquet')"
        )
    findings: dict[str, list[str]] = {}
    for name, sql in entry_mod.oracle_sql().items():
        # LIMIT 0 wrapper: binds + plans the full query (so the output
        # schema is exact) without materializing rows.  WITH/RECURSIVE
        # CTEs are legal inside a DuckDB subquery, so the wrap is safe
        # for every oracle shape in the registry.
        cur = con.execute(f"SELECT * FROM ({sql}) LIMIT 0")
        bad = [
            f"{col[0]}: {col[1]}"
            for col in cur.description
            if str(col[1]).upper() in BAD_TYPES
        ]
        if bad:
            findings[name] = bad
    return findings


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    findings = lint(sf_dir)
    for name, cols in findings.items():
        print(f"LINT  {name}: uncast wide-int output column(s): {cols}")
    print(f"{len(findings)} oracle(s) with hash-unsafe output dtypes")
    return len(findings)


if __name__ == "__main__":
    raise SystemExit(main())
