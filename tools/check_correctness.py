"""Local mimic of the driver's correctness gate.

Runs every __spark_entry__.queries() entry on Spark and its
oracle_sql() on DuckDB at the given sf dir, then compares row count,
column names, and order-insensitive values (exact — floats included,
since the engine is built to agree bit-for-bit via exact decimal sums).

Usage: python tools/check_correctness.py [--json OUT.json] [sf_dir] [query ...]

--json writes per-query results to OUT.json — the in-repo attestation
file for queries the driver's 50-query window defers (ADVICE r4 #3):
oracle parity for every registered query is then evidenced in-repo
(e.g. ATTEST_r5.json) instead of waiting for a future driver round.
"""

from __future__ import annotations

import json
import os
import sys

import duckdb
import pandas as pd


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems: list[str] = []
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"rowcount spark={len(spark_pdf)} duck={len(duck_pdf)}")
    s_cols, d_cols = sorted(spark_pdf.columns), sorted(duck_pdf.columns)
    if s_cols != d_cols:
        problems.append(f"columns spark={s_cols} duck={d_cols}")
        return problems
    s = spark_pdf[s_cols].sort_values(s_cols, ignore_index=True)
    d = duck_pdf[d_cols].sort_values(d_cols, ignore_index=True)
    if len(s) != len(d):
        return problems
    for col in s_cols:
        sv, dv = s[col], d[col]
        try:
            # The driver hashes STRINGIFIED values, so a dtype-kind skew
            # between the engines' pandas frames diverges even when the
            # values compare numerically equal — int64 2 stringifies
            # '2', float64 2.0 stringifies '2.0'. This is exactly how
            # the label_noise trio stayed red through r9-r10 while this
            # gate passed: DuckDB returns SUM(INTEGER) as HUGEINT,
            # which pandas renders float64, while Spark returned
            # BIGINT. Flag any int-vs-float kind pairing UNLESS the
            # float side carries NaNs (pandas itself widens a nullable
            # int column to float64, identically on both sides' paths
            # only when both have NULLs — asymmetric NULLs change the
            # row multiset and are caught by the value compare).
            kinds = {sv.dtype.kind, dv.dtype.kind}
            if kinds == {"i", "f"}:
                fside = sv if sv.dtype.kind == "f" else dv
                if not fside.isna().any():
                    problems.append(
                        f"col {col}: dtype kind skew spark={sv.dtype} duck={dv.dtype}"
                        " (stringified-hash hazard: '2' vs '2.0')"
                    )
            if sv.dtype.kind == "f" or dv.dtype.kind == "f":
                sv, dv = sv.astype(float), dv.astype(float)
                neq = ~((sv == dv) | (sv.isna() & dv.isna()))
                if neq.any():
                    md = (sv[neq] - dv[neq]).abs().max()
                    problems.append(f"col {col}: {int(neq.sum())} diffs, max abs {md}")
                # the driver hashes stringified values, under which
                # -0.0 != 0.0 even though they compare == above (bit
                # the r5 driver on embedding_covariance) — check the
                # sign bit of zeros explicitly
                import numpy as np

                zsign = (
                    (sv.values == 0)
                    & (dv.values == 0)
                    & (np.signbit(sv.values) != np.signbit(dv.values))
                )
                if zsign.any():
                    problems.append(
                        f"col {col}: {int(zsign.sum())} zero-sign (-0.0 vs 0.0) diffs"
                    )
            else:
                sv2, dv2 = sv.astype(str), dv.astype(str)
                neq = sv2 != dv2
                if neq.any():
                    i = neq.idxmax()
                    problems.append(
                        f"col {col}: {int(neq.sum())} diffs, first @{i}: spark={sv2[i]!r} duck={dv2[i]!r}"
                    )
        except Exception as e:  # noqa: BLE001
            problems.append(f"col {col}: compare error {e}")
    return problems


def main() -> int:
    args = sys.argv[1:]
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        json_out = args[i + 1]
        args = args[:i] + args[i + 2 :]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entrymod
    from capstone_etl_spark.session import get_spark, release_caches

    spark = get_spark("correctness-check", cpus=8, shuffle_partitions=8)
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings".split()
    ):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    failures = 0
    results: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            results[name] = {"pass": False, "err": f"spark: {e}"}
            failures += 1
            continue
        finally:
            # queries cache/checkpoint their multi-consumer lineages;
            # release them so one query's cache can't mask or skew the
            # next and the gate's memory stays flat across all queries.
            # Uses the engine's own registry (not a blanket clearCache)
            # so an untracked cache site shows up in the leak check.
            release_caches()
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(spark_pdf)} rows, no oracle)")
            results[name] = {"pass": True, "rows": len(spark_pdf), "rows_only": True}
            continue
        try:
            duck_pdf = con.execute(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            results[name] = {"pass": False, "err": f"duckdb: {e}"}
            failures += 1
            continue
        problems = compare(name, spark_pdf, duck_pdf)
        if problems:
            failures += 1
            print(f"FAIL {name}: " + "; ".join(problems))
            results[name] = {"pass": False, "err": "; ".join(problems)}
        else:
            print(f"PASS {name} ({len(spark_pdf)} rows)")
            results[name] = {"pass": True, "rows": len(spark_pdf)}
    leaked = spark.sparkContext._jsc.getPersistentRDDs().size()
    if leaked:
        failures += 1
        print(f"FAIL cache-hygiene: {leaked} relations still persisted after release_caches()")
    if json_out:
        with open(json_out, "w") as f:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "n_queries": len(results),
                    "n_failures": failures,
                    "cache_hygiene_leaked": leaked,
                    "results": results,
                },
                f,
                indent=1,
                sort_keys=True,
            )
        print(f"wrote {json_out} ({len(results)} queries)")
    print(f"\n{failures} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
