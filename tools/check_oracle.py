"""Local replica of the driver's correctness gate: run every
``queries()`` entry through Spark and its ``oracle_sql()`` through
DuckDB on the same parquet tables; compare row count, column names,
and order-insensitive values.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb
import pandas as pd

import __spark_entry__ as entry_mod
from networkframe_spark.session import get_spark
from networkframe_spark.sources import TABLES


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"row count {len(spark_pdf)} vs {len(duck_pdf)}")
    scols, dcols = sorted(spark_pdf.columns), sorted(duck_pdf.columns)
    if scols != dcols:
        problems.append(f"columns {scols} vs {dcols}")
        return problems
    if problems:
        return problems
    a, b = normalize(spark_pdf), normalize(duck_pdf)
    for c in a.columns:
        av, bv = a[c], b[c]
        # The driver's value hash is dtype-sensitive: an int64 Spark
        # column vs a float64 oracle column (e.g. DuckDB SUM(BIGINT)
        # -> HUGEINT -> float64) hashes differently even when every
        # value is numerically identical.  Flag the int-vs-float
        # boundary instead of silently casting it away.
        ak, bk = av.dtype.kind, bv.dtype.kind
        int_kinds, float_kinds = {"i", "u", "b"}, {"f"}
        if (ak in int_kinds and bk in float_kinds) or (
            ak in float_kinds and bk in int_kinds
        ):
            problems.append(
                f"col {c}: dtype mismatch spark={av.dtype} vs oracle={bv.dtype}"
                " (int-vs-float — driver hash would reject; cast the oracle)"
            )
        try:
            if av.dtype.kind == "f" or bv.dtype.kind == "f":
                af = av.astype(float)
                bf = bv.astype(float)
                exact = ((af == bf) | (af.isna() & bf.isna())).all()
                if not exact:
                    close = (
                        ((af - bf).abs() < 1e-9) | (af.isna() & bf.isna())
                    ).all()
                    bad = (~((af == bf) | (af.isna() & bf.isna()))).sum()
                    if close:
                        problems.append(f"col {c}: {bad} float-noise diffs (<1e-9)")
                    else:
                        idx = (~((af == bf) | (af.isna() & bf.isna()))).idxmax()
                        problems.append(
                            f"col {c}: {bad} value diffs, e.g. {af[idx]} vs {bf[idx]}"
                        )
            else:
                if not (av.astype(str).fillna("∅") == bv.astype(str).fillna("∅")).all():
                    bad = (av.astype(str) != bv.astype(str)).sum()
                    idx = (av.astype(str) != bv.astype(str)).idxmax()
                    problems.append(
                        f"col {c}: {bad} value diffs, e.g. {av[idx]!r} vs {bv[idx]!r}"
                    )
        except Exception as e:  # noqa: BLE001
            problems.append(f"col {c}: compare error {e}")
    return problems


def main() -> int:
    argv = list(sys.argv[1:])
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        json_out = argv[i + 1]
        del argv[i : i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    results: dict[str, dict] = {}
    # gate step 0 — static dtype lint over the WHOLE oracle registry
    # (even when replaying a subset): any uncast HUGEINT/UBIGINT
    # output column is a latent driver-hash red (bit rounds 8 and 9);
    # fail before spending a second of Spark time.
    from lint_oracle import lint as _lint_oracles

    lint_findings = _lint_oracles(sf_dir)
    if lint_findings:
        for lname, lcols in lint_findings.items():
            print(
                f"LINT  {lname}: oracle lint — uncast wide-int output {lcols}"
            )
        print(f"\n{len(lint_findings)} lint findings — replay skipped")
        if json_out:
            import json as _json

            with open(json_out, "w") as f:
                _json.dump(
                    {
                        "sf_dir": sf_dir,
                        "n_queries": 0,
                        "n_ok": 0,
                        "n_fail": 0,
                        "n_lint": len(lint_findings),
                        "lint_findings": lint_findings,
                        "results": {},
                    },
                    f,
                    indent=1,
                )
            print(f"wrote {json_out}")
        return 1
    spark = get_spark("oracle_check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error {str(e).splitlines()[0][:160]}")
            failures += 1
            results[name] = {
                "status": "fail",
                "err": f"spark: {str(e).splitlines()[0][:160]}",
            }
            continue
        t_spark = time.time() - t0
        if name not in oracles:
            print(f"rows-only  {name}: {len(spark_pdf)} rows ({t_spark:.1f}s)")
            results[name] = {
                "status": "rows_only",
                "spark_rows": len(spark_pdf),
                "spark_sec": round(t_spark, 1),
            }
            continue
        try:
            duck_pdf = con.execute(oracles[name]).fetchdf()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error {str(e).splitlines()[0][:160]}")
            failures += 1
            results[name] = {
                "status": "fail",
                "err": f"duckdb: {str(e).splitlines()[0][:160]}",
            }
            continue
        problems = compare(spark_pdf, duck_pdf)
        if problems:
            failures += 1
            print(f"FAIL  {name}: {'; '.join(problems)} ({t_spark:.1f}s)")
            results[name] = {"status": "fail", "err": "; ".join(problems)}
        else:
            print(f"ok    {name}: {len(spark_pdf)} rows ({t_spark:.1f}s)")
            results[name] = {
                "status": "ok",
                "spark_rows": len(spark_pdf),
                "oracle_rows": len(duck_pdf),
                "spark_sec": round(t_spark, 1),
            }
    spark.stop()
    print(f"\n{failures} failures")
    if json_out:
        import json as _json

        ok = sum(1 for r in results.values() if r["status"] == "ok")
        with open(json_out, "w") as f:
            _json.dump(
                {
                    "sf_dir": sf_dir,
                    "n_queries": len(results),
                    "n_ok": ok,
                    "n_fail": failures,
                    "n_lint": 0,
                    "lint_findings": lint_findings,
                    "results": results,
                },
                f,
                indent=1,
            )
        print(f"wrote {json_out}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
