"""Per-query profiler: bench.py's measurement path on named queries.

    SPARK_GRAFT_SF_DIR=<dir> python tools/profile_queries.py q1 q2 ...
    python tools/profile_queries.py --fork q1 q2 ...   # fresh JVM each
    python tools/profile_queries.py --warm q1 ...      # also a warm re-run

Warm-up, forcing, timing and counters are bench.py's own (`warm_up`,
`measure`, `force`, `exec_totals`), so seconds and jobs/stages/tasks/
shuffle counters compare with BENCH_full_r*.json. --fork separates
cold fresh-session time from the bench's long-session time, so
session-accumulation effects (JIT/code cache, GC pressure) can be told
apart from plan cost. Prints one JSON line {q: sec, q__warm: sec,
q__metrics: counters}. Formatted plans: tools/dump_query_plan.py.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import measure, warm_up


def main() -> None:
    args = sys.argv[1:]
    warm = "--warm" in args  # run each query twice, report both
    names = [a for a in args if not a.startswith("--")]
    out: dict = {}

    if "--fork" in args:
        for n in names:
            r = subprocess.run(
                [sys.executable, os.path.abspath(__file__)] + (["--warm"] if warm else []) + [n],
                capture_output=True, text=True,
            )
            line = [l for l in r.stdout.splitlines() if l.startswith("{")]
            if line:
                out.update(json.loads(line[-1]))
            else:
                out[n] = None
                print(r.stdout[-2000:], r.stderr[-2000:], file=sys.stderr)
            print(f"# {n}: {out.get(n)}", file=sys.stderr)
        print(json.dumps(out))
        return

    from capstone_etl_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("profile")
    warm_up(spark, sf_dir, names[0] if names else None)
    for n in names:
        out[n], rows, out[n + "__metrics"] = measure(spark, n, sf_dir)
        if warm:
            out[n + "__warm"] = measure(spark, n, sf_dir)[0]
        print(f"# {n}: {out[n]}s ({rows} rows)" + (f" warm {out[n + '__warm']}s" if warm else ""),
              file=sys.stderr)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
