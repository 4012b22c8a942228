"""Seeded end-to-end benchmark of the capstone_etl_spark engine.

    python3 perfbench/run.py --workload reference_etl --seed 1 --seconds 6 --trace 0

Run from the repository root. One run, in one process on
local[<cores>]:

1. generates the workload's tables from --seed under .perfbench_work/;
2. sets up three times: get_spark, then one untimed warm pass. The
   first set-up also launches the JVM; the later ones stop the session
   and start a new one. The first warm pass's results are checked
   against the engine's DuckDB oracles, and the second fixes each
   call's count + xxhash64;
3. runs timed passes, each after a host probe, until --seconds have
   passed and at least MIN_PASSES are done, requiring every call to
   reproduce that count + xxhash64.

With --trace 0 the last stdout line carries the end-to-end metrics.
With --trace 1 the timed window alternates untraced and traced passes;
the line carries the per-layer metrics, and the spans go to
.perfbench_traces/<workload>-seed<seed>.json. The line before the last
holds the config fingerprint and every pass's time.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from workloads import ALL_QUERIES, SINK_ORACLES, WORKLOADS, Workload  # noqa: E402

SETUP_REPS = 3
MIN_PASSES = 4
PROBE_JOBS = 3
DRIVER_MEM = "2g"
LAYERS = ("session", "sources", "operators", "streaming", "sinks")
PROGRAM_FILES = ("__spark_entry__.py", "capstone_etl_spark/__init__.py", "tools/check_correctness.py")


def median(xs):
    return statistics.median(xs) if xs else 0.0


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the data files under `path` (no checksums or
    _SUCCESS markers)."""
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            total += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return total, files


def host_probe(spark) -> float:
    """Wall seconds of fixed Spark work that no engine change can touch,
    shaped like a pass of engine calls: PROBE_JOBS small jobs, each a
    shuffle and an aggregation over a generated range."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    for i in range(PROBE_JOBS):
        spark.range(0, 200_000, 1, spark.sparkContext.defaultParallelism).select(
            ((F.col("id") + i) % 97).alias("k"), F.md5(F.col("id").cast("string")).alias("s")
        ).groupBy("k").agg(F.sum(F.xxhash64("s").cast("decimal(38,0)"))).collect()
    return time.perf_counter() - t0


class Bench:
    def __init__(self, workload: Workload, seed: int, work: Path, trace: bool):
        self.w = workload
        self.seed = seed
        self.data_dir = str(work / "data")
        self.out_dir = str(work / "out")
        self.trace = trace
        self.cpus = len(os.sched_getaffinity(0))
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.reference: dict[str, tuple[int, str]] = {}
        # row counts of the results the oracle check saw
        self.checked_rows: dict[str, int] = {}
        self.tracer = None
        self.passes = 0
        self.collected: dict = {}

    # -- one pass ------------------------------------------------------

    def _span(self, name):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def _tag(self, spark, tag):
        from spans import job_tag

        return job_tag(spark, tag) if self.tracer else contextlib.nullcontext()

    def _fail(self, what: str) -> None:
        self.failed += 1
        self.problems.append(what)
        print(f"# FAIL {what}", file=sys.stderr)

    def _check(self, key: str, got) -> None:
        """`got` is a collected pandas frame on the oracle-checked pass,
        else a (count, hash) pair that must equal the first one seen and
        count the rows the oracle check saw."""
        if not isinstance(got, tuple):
            self.collected[key] = got
            return
        ref = self.reference.setdefault(key, got)
        if got != ref:
            self._fail(f"{key}: count/hash {got} != reference {ref}")
        elif key in self.checked_rows and got[0] != self.checked_rows[key]:
            self._fail(f"{key}: {got[0]} rows, the oracle-checked pass had {self.checked_rows[key]}")

    def _force(self, df, collect: bool = False):
        """Materialise every column of `df`: count + summed xxhash64, or,
        with collect, the whole result as a pandas frame."""
        from pyspark.sql import functions as F

        if collect:
            return df.toPandas()

        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.xxhash64(*[F.col(c).cast("string") for c in df.columns]).cast("decimal(38,0)")
            ).alias("h"),
        ).collect()[0]
        return int(row["n"]), str(row["h"])

    def _write(self, spark, rel: str) -> str:
        """What sinks.write_outputs does for one of its relations: build
        the composed `<rel>_output` and write it as parquet (sorted
        within partitions by its first column) and as JSON lines."""
        from capstone_etl_spark.operators import outputs
        from capstone_etl_spark.sinks import write_parquet
        from capstone_etl_spark.sinks.writers import write_collection

        df = getattr(outputs, f"{rel}_output")(spark, self.data_dir)
        path = f"{self.out_dir}/{rel}.parquet"
        with self._span("sinks.write_parquet"):
            write_parquet(df, path, sort_within_partitions=[df.columns[0]])
        with self._span("sinks.write_collection"):
            write_collection(df, f"{self.out_dir}/{rel}.json", fmt="json")
        return path

    def run_pass(self, spark, traced: bool = False, collect: bool = False) -> dict:
        """One pass over the workload's calls. Returns the pass wall time
        and, when traced, per-call timings and counters. With collect,
        results are gathered for the oracle check instead of hashed."""
        from capstone_etl_spark.session import release_caches
        from pyspark.sql.types import ArrayType, MapType, StructType

        from spans import tagged_counters

        NESTED = (ArrayType, MapType, StructType)

        self.passes += 1
        calls: dict[str, dict] = {}
        t_pass = time.perf_counter()
        for q in self.w.queries:
            self.attempted += 1
            tag = f"pb{self.passes}-{q}"
            rec = calls[q] = {}
            try:
                with self._tag(spark, tag), self._span(f"operators.{q}"):
                    t0 = time.perf_counter()
                    df = self.queries[q](spark, self.data_dir)
                    t1 = time.perf_counter()
                    got = self._force(df, collect)
                    rec["call_s"], rec["action_s"] = t1 - t0, time.perf_counter() - t1
                self._check(q, got)
            except Exception:  # noqa: BLE001 - a failed call is counted, the run goes on
                self._fail(f"{q}: {traceback.format_exc(limit=3)}")
            with self._span("session.release_caches"):
                t0 = time.perf_counter()
                rec["released"] = release_caches()
                rec["release_s"] = time.perf_counter() - t0
            if traced:
                rec.update(tagged_counters(spark, tag))
        if self.w.sink:
            self.attempted += 1
            tag = f"pb{self.passes}-sink"
            rec = calls["sink"] = {}
            written = {}
            try:
                with self._tag(spark, tag):
                    t0 = time.perf_counter()
                    for rel in self.w.sink:
                        written[rel] = self._write(spark, rel)
                    rec["write_s"] = time.perf_counter() - t0
            except Exception:  # noqa: BLE001
                self._fail(f"sink: {traceback.format_exc(limit=3)}")
            with self._span("session.release_caches"):
                t0 = time.perf_counter()
                rec["released"] = release_caches()
                rec["release_s"] = time.perf_counter() - t0
            if traced:
                rec.update(tagged_counters(spark, tag))
        wall = time.perf_counter() - t_pass
        if self.w.sink:
            # outside the pass: read every written relation back
            rec["bytes"], rec["files"] = dir_bytes(self.out_dir)
            for rel in self.w.sink:
                if rel in written:
                    back = spark.read.parquet(written[rel])
                    if collect:
                        # the oracle renders arrays and maps as strings;
                        # the scalar columns compare as they are
                        back = back.select(
                            [f.name for f in back.schema.fields if not isinstance(f.dataType, NESTED)]
                        )
                    self._check(f"sink:{rel}", self._force(back, collect))
                else:
                    self._fail(f"sink:{rel}: not written")
        return {"wall": wall, "calls": calls}

    # -- set-up and correctness ----------------------------------------

    def setup(self) -> list[dict]:
        """SETUP_REPS set-ups; each is get_spark plus one warm pass. The
        first warm pass collects every result for the DuckDB check; the
        second fixes the reference count/hash of every call. The first
        set-up also launches the JVM, so it is never the median."""
        from capstone_etl_spark.session import get_spark

        reps = []
        spark = None
        for i in range(SETUP_REPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = get_spark("perfbench", cpus=self.cpus)
            start_s = time.perf_counter() - t0
            p = self.run_pass(spark, collect=i == 0)
            reps.append({"start_s": start_s, "warm_s": p["wall"], "setup_s": start_s + p["wall"]})
            if i == 0:
                self.output_bytes = self.check_correctness(p)
        self.spark = spark
        host_probe(spark)  # warms the probe up before the timed window
        return reps

    def check_correctness(self, warm: dict) -> int:
        """Compare each collected query result, and each written
        relation's scalar columns, with its DuckDB oracle. Returns the
        output bytes: what the sink wrote, or else the query results
        rendered as CSV."""
        import duckdb

        from tools.check_correctness import compare

        con = duckdb.connect()
        for t, files in self.w.tables.items():
            src = f"{self.data_dir}/{t}.parquet" + ("/*.parquet" if files > 1 else "")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
        checks = [(q, q, None) for q in self.w.queries]
        if self.w.sink:
            checks += [(f"sink:{rel}", SINK_ORACLES[rel], rel) for rel in self.w.sink]
        csv_bytes = 0
        for key, q, rel in checks:
            got = self.collected.pop(key, None)
            if got is None:
                continue  # the call failed and is already counted
            duck = con.execute(self.oracles[q]).df()
            self.checked_rows[key] = len(got)
            if rel is None:
                csv_bytes += len(got.to_csv(index=False).encode())
            else:
                cols = [c for c in got.columns if c in duck.columns]
                got, duck = got[cols], duck[cols]
            for p in compare(q, got, duck):
                self._fail(f"oracle {key}: {p}")
        con.close()
        return warm["calls"]["sink"]["bytes"] if self.w.sink else csv_bytes

    # -- the run -------------------------------------------------------

    def timed(self, deadline: float, traced: bool) -> tuple[list[float], list[dict]]:
        """Timed passes until the deadline and at least MIN_PASSES (per
        kind, when traced passes alternate with untraced ones)."""
        from spans import stream_listener

        plain, traced_walls, traced_passes = [], [], []
        while len(plain) < MIN_PASSES or time.perf_counter() < deadline:
            probe = host_probe(self.spark)
            plain.append(self.run_pass(self.spark))
            plain[-1]["probe"] = probe
            if traced:
                with stream_listener(self.spark) as lis, self._traced_pass() as spans:
                    p = self.run_pass(self.spark, traced=True)
                p["stream"] = lis.progress
                p["spans"] = spans
                traced_walls.append(p["wall"])
                traced_passes.append(p)
        return plain, traced_walls, traced_passes

    @contextlib.contextmanager
    def _traced_pass(self):
        """Spans around the engine's own layer calls for one pass: the
        names in `targets` are swapped for recording wrappers."""
        from capstone_etl_spark.sources import tables
        from capstone_etl_spark.streaming import run_to_memory, stage_events
        from spans import Tracer, patched

        self.tracer = Tracer(f"{self.w.name}-seed{self.seed}-pass{self.passes + 1}")
        targets = {
            "sources.load_table": tables.load_table,
            "streaming.stage_events": stage_events,
            "streaming.run_to_memory": run_to_memory,
        }
        try:
            with patched(self.tracer, targets), self.tracer.span("pass"):
                yield self.tracer.spans
        finally:
            self.all_spans.extend(self.tracer.spans)
            self.tracer = None

    def run(self, seconds: int) -> dict:
        import __spark_entry__

        self.queries = __spark_entry__.queries()
        self.oracles = __spark_entry__.oracle_sql()
        self.all_spans: list[dict] = []
        reps = self.setup()
        t0 = time.perf_counter()
        plain, traced_walls, traced_passes = self.timed(t0 + seconds, self.trace)
        self.result = {
            "setup": reps,
            "plain": plain,
            "traced": traced_walls,
            "traced_passes": traced_passes,
        }
        if self.trace:
            self.result["scans"] = self.forced_scans()
        return self.result

    def forced_scans(self) -> dict:
        """One forced scan of each generated table through load_table,
        under its own job tag."""
        from capstone_etl_spark.sources.tables import load_table
        from spans import Tracer, job_tag, tagged_counters

        tracer = Tracer(f"{self.w.name}-seed{self.seed}-scans")
        out = {"scan_s": 0.0, "scan_tasks": 0, "input_bytes": 0}
        for t in self.w.tables:
            tag = f"scan-{t}"
            with job_tag(self.spark, tag), tracer.span("sources.scan", table=t):
                t0 = time.perf_counter()
                self._force(load_table(self.spark, self.data_dir, t))
                out["scan_s"] += time.perf_counter() - t0
            c = tagged_counters(self.spark, tag)
            out["scan_tasks"] += c["tasks"]
            out["input_bytes"] += c["input_bytes"]
        self.all_spans.extend(tracer.spans)
        return out

    def fingerprint(self, rows: dict, input_bytes: int) -> dict:
        import pyspark

        return {
            "workload": self.w.name,
            "seed": self.seed,
            "cpus": self.cpus,
            "shuffle_partitions": int(self.spark.conf.get("spark.sql.shuffle.partitions")),
            "driver_memory": DRIVER_MEM,
            "spark_version": pyspark.__version__,
            "input_rows": rows,
            "input_files": dict(self.w.tables),
            "input_bytes": input_bytes,
            "queries": list(self.w.queries),
            "sink": list(self.w.sink),
        }


def end_to_end(b: Bench, input_bytes: int) -> dict:
    r = b.result
    return {
        # a ratio of medians: one slow probe must not move it
        "job_per_probe": {
            "value": median([p["wall"] for p in r["plain"]]) / median([p["probe"] for p in r["plain"]]),
            "unit": "ratio",
        },
        "setup_s": {"value": median([x["setup_s"] for x in r["setup"]]), "unit": "s"},
        "output_bytes_per_input_byte": {"value": b.output_bytes / input_bytes, "unit": "ratio"},
    }


def per_layer(b: Bench) -> dict:
    from spans import COUNTER_KEYS, jvm_peak_mb, self_seconds, stream_totals

    r = b.result
    per_pass = []
    for p in r["traced_passes"]:
        calls = p["calls"]
        qcalls = [calls[q] for q in b.w.queries if "call_s" in calls[q]]
        m = {
            "operators.call_s": sum(c["call_s"] for c in qcalls),
            "operators.action_s": sum(c["action_s"] for c in qcalls),
            "session.release_s": sum(c["release_s"] for c in calls.values()),
            "session.released": sum(c["released"] for c in calls.values()),
        }
        for k in COUNTER_KEYS:
            if k != "input_bytes":
                m[f"operators.{k}"] = sum(calls[q].get(k, 0) for q in b.w.queries)
        busy = m["operators.call_s"] + m["operators.action_s"]
        m["operators.slot_busy_frac"] = m["operators.executor_run_s"] / (busy * b.cpus) if busy else 0.0
        for q in ALL_QUERIES:
            c = calls.get(q, {})
            m[f"operators.{q}.s"] = c.get("call_s", 0.0) + c.get("action_s", 0.0)
            m[f"operators.{q}.tasks"] = c.get("tasks", 0)
        st = stream_totals(p["stream"])
        stream_call_s = sum(c["call_s"] for q, c in calls.items() if q.startswith("stream_") and "call_s" in c)
        st["outside_trigger_s"] = max(stream_call_s - st["trigger_s"], 0.0) if st["batches"] else 0.0
        m.update({f"streaming.{k}": v for k, v in st.items()})
        sink = calls.get("sink", {})
        m["sinks.write_s"] = sink.get("write_s", 0.0)
        m["sinks.bytes_written"] = sink.get("bytes", 0)
        m["sinks.files_written"] = sink.get("files", 0)
        m["sinks.jobs"] = sink.get("jobs", 0)
        m["sinks.tasks"] = sink.get("tasks", 0)
        own = self_seconds(p["spans"])
        for layer in LAYERS:
            m[f"{layer}.self_s"] = own.get(layer, 0.0)
        per_pass.append(m)
    out = {k: median([m[k] for m in per_pass]) for k in per_pass[0]}
    reps = r["setup"]
    out["session.start_s"] = reps[0]["start_s"]
    out["session.warm_s"] = median([x["warm_s"] for x in reps])
    out["session.jvm_peak_mb"] = jvm_peak_mb(b.spark)
    out.update({f"sources.{k}": v for k, v in r["scans"].items()})
    out["trace.untraced_job_s"] = median([p["wall"] for p in r["plain"]])
    out["trace.probe_s"] = median([p["probe"] for p in r["plain"]])
    out["trace.traced_job_s"] = median(r["traced"])
    out["trace.overhead_s"] = out["trace.traced_job_s"] - out["trace.untraced_job_s"]
    out["error_rate"] = b.failed / b.attempted
    return out


def unit_of(name: str) -> str:
    if name.endswith(("_s", ".s")):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith("_mb"):
        return "MiB"
    if name.endswith(("_frac", "error_rate")):
        return "ratio"
    return "count"


def configure_env(work: Path) -> None:
    """Keep every file Spark, the JVM and the engine write under `work`,
    and size the session to this host."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} "
        f"--conf spark.sql.warehouse.dir={work / 'warehouse'} pyspark-shell"
    )


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [f for f in PROGRAM_FILES if not (ROOT / f).is_file()]
    if missing:
        print(f"perfbench: the engine is not here ({', '.join(missing)} missing under {ROOT})", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    work = ROOT / ".perfbench_work"
    shutil.rmtree(work, ignore_errors=True)
    configure_env(work)
    try:
        from gen import generate

        w = WORKLOADS[args.workload]
        rows = generate(args.seed, str(work / "data"), w.tables)
        input_bytes = dir_bytes(str(work / "data"))[0]
        b = Bench(w, args.seed, work, bool(args.trace))
        try:
            b.run(args.seconds)
            metrics = per_layer(b) if args.trace else end_to_end(b, input_bytes)
            fp = b.fingerprint(rows, input_bytes)
        finally:
            if hasattr(b, "spark"):
                stop_spark(b.spark)
        plain = [p["wall"] for p in b.result["plain"]]
        detail = {
            "config": fp,
            "job_s": {
                "median": median(plain),
                "samples": len(plain),
                # the highest percentile with >= 10 samples above it
                "percentile": None if len(plain) < 11 else round(100 * (1 - 10 / len(plain)), 1),
                "all": plain,
                "probe": [p["probe"] for p in b.result["plain"]],
            },
            "setup": b.result["setup"],
            "problems": b.problems,
        }
        if args.trace:
            traces = ROOT / ".perfbench_traces"
            traces.mkdir(exist_ok=True)
            with open(traces / f"{w.name}-seed{args.seed}.json", "w") as f:
                passes = [{"wall": p["wall"], "calls": p["calls"]} for p in b.result["traced_passes"]]
                json.dump({"config": fp, "metrics": metrics, "passes": passes, "spans": b.all_spans}, f)
        print(json.dumps(detail))
        print(
            json.dumps(
                {
                    "correct": b.failed == 0,
                    "attempted": b.attempted,
                    "failed": b.failed,
                    "metrics": {
                        k: v if isinstance(v, dict) else {"value": v, "unit": unit_of(k)}
                        for k, v in metrics.items()
                    },
                }
            )
        )
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
