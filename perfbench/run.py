"""The repository benchmark: one workload, one driver process, one result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  One run:

1. generates the corpus from ``--seed`` (perfbench/gen.py) under
   ``perfbench/.work/`` and points every Spark, JVM and Python scratch
   directory there;
2. imports the program, launches the driver JVM with a session on
   ``local[N]``, N = min(4, nproc), imports the registry and checks that
   every workload name resolves in it;
3. compares each workload query once with its DuckDB twin from
   ``oracle_sql()``, with the comparison of tools/check_oracles.py; its
   Spark side is the fresh JVM's cold pass.  setup_s = the program's import
   + the session start + the registry import + the cold pass.  Then reads
   the driver JVM's memory, after this fixed amount of work;
4. runs the workload's untimed warm-up passes;
5. runs whole passes over the workload's queries (plan build + noop-sink
   execution), in an order shuffled by the seed, until ``--seconds`` have
   passed and there are at least ``MIN_PASSES`` passes.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` alternates
untraced and traced passes, then runs the reference's cancellation sweep
(tools/cancel_bench.py's protocol), and prints the per-layer metrics
(spans.py), including the traced passes' wall-time overhead.  Every run
writes its full record, per query and per layer, to ``perfbench/results/``.
The last stdout line is the JSON summary ``{"correct", "attempted",
"failed", "metrics"}``.
"""

from __future__ import annotations

import time

_T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import pyarrow.parquet as pq  # noqa: E402

import gen  # noqa: E402
import spans as tracing  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

MIN_PASSES = 3
CANCEL_ROWS = 500_000
CANCEL_WAITS_MS = tuple(range(10, 61))

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "query_geomean_ms": "ms",
    "jvm_retained_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s",
    "registry.import_s": "s",
    "io.table_calls": "count",
    "io.table_s": "s",
    "io.table_memo_hit_ratio": "ratio",
    "build.s": "s",
    "build.self_s": "s",
    "build.py4j_calls": "count",
    "build.jobs": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_run_ms": "ms",
    "exec.driver_gap_ms": "ms",
    "exec.exchange_bytes": "B",
    "exec.fetch_wait_ms": "ms",
    "exec.broadcast_build_ms": "ms",
    "exec.spill_bytes": "B",
    "exec.scan_rows": "count",
    "exec.scan_files": "count",
    "sink.files": "count",
    "sink.bytes": "B",
    "sink.rows": "count",
    "sink.write_ms": "ms",
    "cancel.latency_ms": "ms",
    "cancel.requests_per_race": "count",
    "cancel.interrupted_ratio": "ratio",
    "trace.overhead_pct": "%",
    "jvm_peak_rss_mb": "MB",
}

# per-query layer figures, summed over a traced pass
_PASS_SUMS = [
    k for k in PER_LAYER
    if k.split(".")[0] in ("io", "build", "catalyst", "exec", "sink")
    and k != "io.table_memo_hit_ratio"
]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def materialize(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def host_cpu() -> tuple[int, int]:
    """(steal, total) jiffies of the CPU line of /proc/stat."""
    with open("/proc/stat") as f:
        values = [int(v) for v in f.readline().split()[1:]]
    return values[7], sum(values)


def prepare_environment(work: str, cpus: int) -> None:
    """Keep every scratch file of Spark, the JVM and the program's
    ``tempfile`` calls inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # the program's own driver memory, so VmHWM follows what it touches
    os.environ.pop("SPARK_GRAFT_DRIVER_MEM", None)
    # every JVM, spark-submit's launcher too, would keep a perf-data file
    # under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f"--driver-java-options -Djava.io.tmpdir={tmp}",
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "--conf spark.ui.showConsoleProgress=false",
        "pyspark-shell",
    ])


def same_result(check_oracles, spark_side, duck_side) -> bool:
    """tools/check_oracles.py's verdict on two (columns, sorted rows)."""
    (scols, srows), (dcols, drows) = spark_side, duck_side
    return (
        scols == dcols
        and len(srows) == len(drows)
        and all(
            check_oracles.cells_equal(a, b)
            for sr, dr in zip(srows, drows)
            for a, b in zip(sr, dr)
        )
    )


class Bench:
    """One run of one workload; holds the session and every measurement."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 work: str) -> None:
        self.spec = WORKLOADS[workload]
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.rng = random.Random(seed)
        self.tracer = tracing.Tracer()
        self.attempted = 0
        self.failures: list[dict] = []
        self.record: dict = {"workload": workload, "seed": seed,
                             "seconds": seconds, "trace": int(trace)}
        self.spark = None
        self.probe = None

    # ---- bookkeeping ------------------------------------------------------

    def fail(self, op: str, name: str, error: str) -> None:
        self.failures.append({"op": op, "name": name, "error": error})
        print(f"[perfbench] FAILED {op} {name}: {error}", file=sys.stderr)

    def error_rate(self) -> float:
        """Failed operations (exceptions, oracle mismatches, lost cancel
        races) over attempted ones."""
        return len(self.failures) / self.attempted

    def attempt(self, op: str, name: str, fn):
        """Run one operation; an exception is recorded and counted, never
        dropped.  Returns (ok, value)."""
        self.attempted += 1
        try:
            return True, fn()
        except Exception:
            self.fail(op, name, traceback.format_exc())
            return False, None

    # ---- set-up -----------------------------------------------------------

    def start(self) -> None:
        t = time.perf_counter()
        self.data = gen.write(
            os.path.join(self.work, "data"), self.spec.sf, self.seed
        )
        self.record["data_s"] = time.perf_counter() - t

        t = time.perf_counter()
        from datafusion_test_spark import io as dfts_io
        from datafusion_test_spark import session  # noqa: F401

        self.record["import_s"] = time.perf_counter() - t
        if self.trace:
            # before registry import: operators bind `from ..io import table`
            self.tracer.wrap_io_table(dfts_io)

    def import_registry(self) -> None:
        from datafusion_test_spark import registry

        t = time.perf_counter()
        self.queries = registry.queries()
        self.oracles = registry.oracle_sql()
        self.record["registry_import_s"] = time.perf_counter() - t
        self.check_membership(registry)

    def check_membership(self, registry) -> None:
        """Every name of every workload must resolve in the registry and
        have a DuckDB twin; otherwise fail loudly, naming any module the
        registry skipped on import."""
        named = {n for spec in WORKLOADS.values() for n in spec.queries}
        missing = sorted(
            n for n in named if n not in self.queries or n not in self.oracles
        )
        if missing:
            broken = {}
            for mod in registry._MODULES:
                try:
                    importlib.import_module(mod)
                except Exception as exc:
                    broken[mod] = repr(exc)
            raise RuntimeError(
                f"workload names missing from registry.queries()/oracle_sql(): "
                f"{missing}; registry modules that fail to import: {broken}"
            )
        self.record["registry_entries"] = len(self.queries)
        self.record["entries_in_no_workload"] = len(set(self.queries) - named)
        print(f"[perfbench] registry entries: {len(self.queries)}, "
              f"in no workload: {self.record['entries_in_no_workload']}")

    def oracle_check(self) -> None:
        """Compare every workload query with its DuckDB twin (outside any
        timed region), reusing tools/check_oracles.py's comparison."""
        sys.path.insert(0, os.path.join(ROOT, "tools"))
        import check_oracles
        import duckdb

        from datafusion_test_spark.io import TABLES

        con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(self.data, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        t0 = time.perf_counter()
        spark_s = 0.0
        for name in self.spec.queries:
            def compare(name=name):
                nonlocal spark_s
                t = time.perf_counter()
                spark_side = check_oracles.rows_of_spark(
                    self.queries[name](self.spark, self.data)
                )
                spark_s += time.perf_counter() - t
                duck_side = check_oracles.rows_of_duck(con, self.oracles[name])
                return same_result(check_oracles, spark_side, duck_side)

            ok, same = self.attempt("oracle", name, compare)
            if ok and not same:
                self.fail("oracle", name, "result differs from its DuckDB twin")
        con.close()
        self.record["oracle_s"] = time.perf_counter() - t0
        # the Spark side of the oracle check: the fresh JVM's cold pass
        self.record["cold_pass_s"] = spark_s

    def start_session(self) -> None:
        from datafusion_test_spark.session import get_session

        t = time.perf_counter()
        self.spark = get_session("perfbench")
        self.record["session_start_s"] = time.perf_counter() - t
        self.record["process_to_session_s"] = (
            time.perf_counter() - _T_PROCESS - self.record["data_s"])

    def setup_s(self) -> float:
        """Process start to a warm session: the program's import, the driver
        JVM launch, the registry import and the cold pass."""
        r = self.record
        return (r["import_s"] + r["session_start_s"] + r["registry_import_s"]
                + r["cold_pass_s"])

    def warm_up(self) -> None:
        for _ in range(self.spec.warmup_passes):
            for name in self.spec.queries:
                self.attempt("warmup", name, lambda name=name: self.run_query(name))

    # ---- timed passes -----------------------------------------------------

    def run_query(self, name: str) -> float:
        """Build and execute one query; returns its latency in ms."""
        t = time.perf_counter()
        materialize(self.queries[name](self.spark, self.data))
        return (time.perf_counter() - t) * 1000

    def traced_query(self, name: str, tag: str) -> dict:
        """One query inside spans; returns its layer figures."""
        sc = self.spark.sparkContext
        tr = self.tracer
        # credit this query with no execution of the untraced work before it
        self.probe.skip_seen()
        with tr.span("query", query=name):
            sc.setJobGroup(f"{tag}-build", name)
            with tr.span("build") as b:
                b["wall0"] = time.time() * 1000
                df = self.queries[name](self.spark, self.data)
                b["wall1"] = time.time() * 1000
            with tr.span("catalyst") as c:
                c.update(self.probe.phases(df))
            sc.setJobGroup(f"{tag}-exec", name)
            with tr.span("exec") as x:
                x["wall0"] = time.time() * 1000
                materialize(df)
                x["wall1"] = time.time() * 1000
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        self.probe.settle()
        bj = self.probe.jobs(f"{tag}-build")
        xj = self.probe.jobs(f"{tag}-exec")
        sql, executions = self.probe.sql_metrics()
        self.credits.append({"tag": tag, "query": name,
                             "build_jobs": bj["job_ids"],
                             "exec_jobs": xj["job_ids"],
                             "executions": executions})
        io_spans = [s for s in tr.spans if s["name"] == "io.table"
                    and s["parent"] == b["id"]]
        io_s = sum(s["t1"] - s["t0"] for s in io_spans)
        build_s = b["t1"] - b["t0"]
        build_job_s = tracing.covered_ms(
            bj["intervals"], b["wall0"], b["wall1"]) / 1000
        layer = {
            "io.table_calls": len(io_spans),
            "io.table_s": io_s,
            "io.memo_calls": sum("memo_hit" in s for s in io_spans),
            "io.memo_hits": sum(bool(s.get("memo_hit")) for s in io_spans),
            "build.s": build_s,
            "build.self_s": build_s - io_s - build_job_s,
            "build.py4j_calls": b["py4j_calls"],
            "build.jobs": bj["jobs"],
            "exec.s": x["t1"] - x["t0"],
            "exec.jobs": xj["jobs"],
            "exec.stages": xj["stages"],
            "exec.tasks": xj["tasks"],
            "exec.task_run_ms": xj["task_run_ms"],
            "exec.driver_gap_ms": (x["wall1"] - x["wall0"]) - tracing.covered_ms(
                xj["intervals"], x["wall0"], x["wall1"]),
            **{k: v for k, v in c.items() if k.startswith("catalyst.")},
        }
        for key, value in sql.items():
            layer[key] = layer.get(key, 0.0) + value
        return layer

    def passes(self) -> None:
        """Whole shuffled passes until ``seconds`` have passed and the
        minimum pass and sample counts are met.  With tracing, passes
        alternate untraced / traced."""
        names = list(self.spec.queries)
        walls: dict[bool, list] = {False: [], True: []}
        samples: list[float] = []
        per_query: dict[str, list] = {n: [] for n in names}
        self.pass_layers: list[dict] = []
        self.credits: list[dict] = []
        deadline = time.perf_counter() + self.seconds

        def enough() -> bool:
            return (
                time.perf_counter() >= deadline
                and len(walls[False]) >= MIN_PASSES
                and (not self.trace or len(walls[True]) >= MIN_PASSES)
            )

        steal0, total0 = host_cpu()
        i = 0
        while not enough():
            traced = self.trace and i % 2 == 1
            order = names[:]
            self.rng.shuffle(order)
            totals: dict[str, float] = {}
            self.tracer.enabled = traced
            t = time.perf_counter()
            for name in order:
                if traced:
                    ok, layer = self.attempt(
                        "query", name,
                        lambda name=name: self.traced_query(name, f"pb{i}-{name}"))
                    if ok:
                        per_query[name].append(layer)
                        for k, v in layer.items():
                            totals[k] = totals.get(k, 0.0) + v
                else:
                    ok, ms = self.attempt(
                        "query", name, lambda name=name: self.run_query(name))
                    if ok:
                        samples.append(ms)
                        per_query[name].append({"latency_ms": ms})
            walls[traced].append(time.perf_counter() - t)
            self.tracer.enabled = False
            if traced:
                self.pass_layers.append(totals)
            i += 1
        steal1, total1 = host_cpu()
        self.samples = samples
        self.record["wall_s"] = statistics.median(walls[False])
        latencies = [[s["latency_ms"] for s in per_query[n] if "latency_ms" in s]
                     for n in names]
        self.record["query_geomean_ms"] = statistics.geometric_mean(
            statistics.median(lat) for lat in latencies if lat)
        # passes shorter than a clock tick read no jiffies at all
        self.record["host_steal_pct"] = (
            100.0 * (steal1 - steal0) / max(total1 - total0, 1))
        self.record["pass_wall_s"] = walls[False]
        self.record["samples"] = len(samples)
        self.record["per_query"] = per_query
        if self.trace:
            self.record["traced_pass_wall_s"] = walls[True]
            self.record["sql_credit"] = self.credits
            self.record["trace_overhead_pct"] = 100.0 * (
                statistics.median(walls[True]) / statistics.median(walls[False])
                - 1.0
            )

    # ---- cancellation sweep (traced runs) ---------------------------------

    def cancel_sweep(self) -> None:
        """tools/cancel_bench.py's protocol: the reference's generated table
        in executor memory, ``SELECT DISTINCT A,B,C,D,E``, one race per
        wait in 10..60 ms (seeded order).  A race the query wins is a
        failed operation."""
        from pyspark.storagelevel import StorageLevel

        from datafusion_test_spark.cancel import cancel_once

        path = os.path.join(self.work, "cancel.parquet")
        pq.write_table(gen.cancel_table(CANCEL_ROWS, self.seed), path)
        base = self.spark.read.parquet(path).persist(StorageLevel.MEMORY_ONLY)
        base.count()

        def heavy():
            return base.select("A", "B", "C", "D", "E").distinct()

        materialize(heavy())
        waits = list(CANCEL_WAITS_MS)
        self.rng.shuffle(waits)
        self.tracer.enabled = True
        races = []
        for w in waits:
            def race(w=w):
                with self.tracer.span("cancel", wait_ms=w) as s:
                    before = self.tracer.cancel_requests
                    _, ms, interrupted = cancel_once(self.spark, heavy, w)
                    s.update(latency_ms=ms, interrupted=interrupted,
                             requests=self.tracer.cancel_requests - before)
                if not interrupted:
                    raise RuntimeError(
                        f"query finished before the cancel at {w} ms took effect")
                return s

            ok, s = self.attempt("cancel", f"wait{w}ms", race)
            if ok:
                races.append(s)
        self.tracer.enabled = False
        base.unpersist()
        self.record["cancel_ms"] = [s["latency_ms"] for s in races]
        self.cancel = {
            "cancel.latency_ms": statistics.median(
                s["latency_ms"] for s in races) if races else 0.0,
            "cancel.requests_per_race": statistics.mean(
                s["requests"] for s in races) if races else 0.0,
            "cancel.interrupted_ratio": len(races) / len(waits),
        }

    # ---- results ----------------------------------------------------------

    def jvm_peak_rss_mb(self) -> float:
        pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM not found for the driver JVM")

    def jvm_retained_mb(self) -> float:
        """Heap left after a full collection plus non-heap in use (metaspace,
        code cache): the memory the program holds, whatever size G1 has
        grown the heap to.  Two collections apart: after the first, Spark's
        ContextCleaner drops the blocks of broadcasts no longer reachable."""
        jvm = self.spark.sparkContext._jvm
        memory = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        for _ in range(2):
            memory.gc()
            time.sleep(0.3)
        used = (memory.getHeapMemoryUsage().getUsed()
                + memory.getNonHeapMemoryUsage().getUsed())
        return used / 2**20

    def per_layer(self) -> dict:
        out = {k: statistics.median(p.get(k, 0.0) for p in self.pass_layers)
               for k in _PASS_SUMS}
        memo_calls = sum(p.get("io.memo_calls", 0) for p in self.pass_layers)
        memo_hits = sum(p.get("io.memo_hits", 0) for p in self.pass_layers)
        out.update(self.cancel)
        out.update({
            "session.start_s": self.record["session_start_s"],
            "registry.import_s": self.record["registry_import_s"],
            "io.table_memo_hit_ratio": memo_hits / memo_calls if memo_calls else 0.0,
            "trace.overhead_pct": self.record["trace_overhead_pct"],
            "jvm_peak_rss_mb": self.record["jvm_peak_rss_mb"],
        })
        return out

    def run(self) -> dict:
        from pyspark import SparkContext

        self.start()
        self.start_session()
        self.import_registry()
        if self.trace:
            self.tracer.wrap_gateway(self.spark.sparkContext)
            self.tracer.wrap_cancel(SparkContext)
        self.oracle_check()
        self.record["setup_s"] = self.setup_s()
        self.record["jvm_peak_rss_mb"] = self.jvm_peak_rss_mb()
        self.record["jvm_retained_mb"] = self.jvm_retained_mb()
        self.warm_up()
        if self.trace:
            self.probe = tracing.JvmProbe(self.spark)
        self.passes()
        if self.trace:
            self.cancel_sweep()
        self.record["jvm_peak_rss_end_mb"] = self.jvm_peak_rss_mb()
        units = PER_LAYER if self.trace else END_TO_END
        values = self.per_layer() if self.trace else self.record
        self.record["metrics"] = {
            k: {"value": values[k], "unit": units[k]} for k in units
        }
        if self.trace:
            self.record["spans"] = self.tracer.spans
        return self.record

    def close(self) -> None:
        """Stop the session, then end the driver JVM and wait for it."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.proc.stdin.close()  # the JVM exits on EOF
            gateway.proc.wait(timeout=120)


def machine(load1_start: float, cpus: int, env_cpus: str | None) -> dict:
    return {
        "nproc": nproc(),
        "local_cpus": cpus,
        "SPARK_GRAFT_CPUS": env_cpus,
        "load1_start": load1_start,
        "load1_end": os.getloadavg()[0],
        # ROADMAP aim 1: a run started at load1 >= 1 is no speed evidence
        "load1_high": load1_start >= 1.0,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    load1_start = os.getloadavg()[0]
    env_cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if not os.path.isdir(os.path.join(ROOT, "datafusion_test_spark")):
        print(f"perfbench: no datafusion_test_spark package beside {HERE}; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    cpus = min(4, nproc())
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-",
                            dir=os.path.join(HERE, ".work"))
    prepare_environment(work, cpus)
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace), work)
    try:
        record = bench.run()
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)
    record["machine"] = machine(load1_start, cpus, env_cpus)
    record["attempted"] = bench.attempted
    record["failed"] = len(bench.failures)
    record["error_rate"] = bench.error_rate()
    record["failures"] = bench.failures
    record["correct"] = not bench.failures
    results = os.path.join(HERE, "results")
    os.makedirs(results, exist_ok=True)
    path = os.path.join(
        results, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    )
    with open(path, "w") as f:
        json.dump(record, f)
    m = record["machine"]
    print(f"[perfbench] {args.workload} seed={args.seed} "
          f"record={os.path.relpath(path, ROOT)} nproc={m['nproc']} "
          f"local[{cpus}] load1={m['load1_start']:.2f}->{m['load1_end']:.2f}"
          + (" LOAD1_HIGH" if m["load1_high"] else ""))
    print(f"error_rate {record['error_rate']} ratio "
          f"({record['failed']}/{record['attempted']})")
    print(f"host: steal {record['host_steal_pct']:.1f}% over the timed passes")
    for name, metric in record["metrics"].items():
        print(f"{name} {metric['value']} {metric['unit']}")
    print(json.dumps({
        "correct": record["correct"],
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": record["metrics"],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
