"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One process, Spark at ``local[nproc]``,
one closed-loop client that issues the next operation only after the
previous result is collected. The run generates its inputs from
``--seed`` (not timed), sets up Spark (``setup_s``), runs the workload's
operations (``wall_s``), then checks every output against an oracle.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the
workload traced, prints the per-layer metrics and writes the spans to
``.perfbench_runs/``. Every temporary file lives in
``.perfbench_runs/tmp-<pid>`` and is removed at exit. See
``perfbench/README.md`` for the workloads and metric map.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import ctypes  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS_DIR = os.path.join(ROOT, ".perfbench_runs")
sys.path[:0] = [ROOT, HERE]

import bronze_gen  # noqa: E402
import tables_gen  # noqa: E402
import workloads  # noqa: E402
from spans import Tracer  # noqa: E402

WORKLOADS = ("daily_elt", "relational", "llm_text", "llm_media")
SF = 0.01  # battery table scale (lineitem rows = 6M x SF)
TINY_SF = 0.001
TINY_ELT_SIZES = {"deals": 40, "tickets": 40, "entries": 400, "parts": 2}
PASS_SECONDS = 10  # a battery repeats its list once per PASS_SECONDS of --seconds
DRIVER_MEM = "1g"
PHASES = {
    "queries.build": "build", "queries.collect": "collect",
    "pipeline.load_stg": "load_stg", "pipeline.normalize_core": "normalize_core",
    "audit.run_audit": "audit",
}
SPARK_COUNTERS = ("jobs", "stages", "tasks", "run_s", "cpu_s", "offcpu_s", "gc_s", "busy_frac",
                  "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "input_mb", "output_mb",
                  "failed_tasks")
END_TO_END = {"setup_s": "s", "wall_s": "s", "op_p50_s": "s", "op_tail_s": "s",
              "peak_rss_mb": "MB"}


def per_layer_units() -> dict[str, str]:
    units = {"session.get_spark_s": "s", "session.warmup_s": "s",
             "queries.build_s": "s", "queries.collect_s": "s"}
    for ph in dict.fromkeys(PHASES.values()):
        for c in SPARK_COUNTERS:
            units[f"spark.{ph}.{c}"] = (
                "s" if c.endswith("_s") else "MB" if c.endswith("_mb")
                else "fraction" if c == "busy_frac" else "count")
    units |= {
        "llm.python_s": "s", "llm.python_init_s": "s", "llm.arrow_sent_mb": "MB",
        "llm.arrow_recv_mb": "MB",
        "pipeline.load_stg_s": "s", "pipeline.normalize_core_s": "s", "pipeline.day1_s": "s",
        "pipeline.day2_s": "s", "pipeline.jobs_per_entity": "count",
        "sources.bronze_records": "count", "sources.bronze_mb": "MB", "sources.scan_tasks": "count",
        "operators.merge_s": "s", "operators.rows_written_per_changed_row": "ratio",
        "operators.bytes_written_per_input_byte": "ratio",
        "operators.stored_bytes_per_input_byte": "ratio",
        "audit.run_audit_s": "s", "audit.jobs": "count",
        "spark.error_log_lines": "count",
        "bench.inputgen_s": "s", "bench.trace_overhead_frac": "fraction",
        "bench.untraced_gap_s": "s",
    }
    return units


# -- process tree memory --------------------------------------------------------


# kcmp(2) syscall number, and its "same address space" type.
KCMP_SYSCALL = {"x86_64": 312, "aarch64": 272}.get(platform.machine())
KCMP_VM = 1


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants
    (driver Python, the JVM, Python workers), sampled from /proc.

    A child that shares its parent's address space is not counted: the
    JVM starts helper commands with vfork, and until the exec the child
    reports the whole JVM's RSS, which would double the sample."""

    def __init__(self, interval: float = 0.2):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_bytes = 0
        self._halt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._libc = ctypes.CDLL(None, use_errno=True)

    def _shares_vm(self, parent: int, child: int) -> bool:
        if KCMP_SYSCALL is None:
            return False
        return self._libc.syscall(KCMP_SYSCALL, parent, child, KCMP_VM, 0, 0) == 0

    def _tree_rss(self) -> int:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        ppid = int(f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    continue
                children.setdefault(ppid, []).append(int(d))
        total, stack = 0, [(None, os.getpid())]
        while stack:
            parent, pid = stack.pop()
            try:
                if parent is None or not self._shares_vm(parent, pid):
                    with open(f"/proc/{pid}/statm") as f:
                        total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
            stack.extend((pid, c) for c in children.get(pid, ()))
        return total

    def run(self) -> None:
        while not self._halt.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._halt.wait(self.interval)

    def stop(self) -> float:
        self._halt.set()
        self.join()
        return max(self.peak_bytes, self._tree_rss()) / 2**20


# -- inputs ---------------------------------------------------------------------


def make_inputs(workload: str, seed: int, tmp: str, passes: int, *, tiny: bool = False) -> dict:
    """Generate the seeded inputs; the program sees only these files.
    ``tiny`` is the self-test's scale."""
    if workload == "daily_elt":
        sizes = TINY_ELT_SIZES if tiny else workloads.ELT_SIZES
        lake = bronze_gen.BronzeLake(seed=seed, **sizes)
        return {"bronze": lake, "lake_root": os.path.join(tmp, "lake")}
    sf_dir = os.path.join(tmp, "tables")
    info = tables_gen.generate(sf_dir, sf=TINY_SF if tiny else SF, seed=seed)
    order = [n for p in range(passes) for n in workloads.battery_order(workload, seed + 7919 * p)]
    return {"sf_dir": sf_dir, "order": order, "tables": info}


# -- Spark set-up ---------------------------------------------------------------


def spark_env(tmp: str) -> None:
    """Point every scratch path at ``tmp`` and put the package on the
    Python workers' import path, whatever the working directory."""
    cores = len(os.sched_getaffinity(0))
    os.environ |= {
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        # Every JVM (the launcher and the driver): scratch files in tmp,
        # no hsperfdata file under /tmp.
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": " ".join([
            f"--conf spark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
            "--conf spark.ui.retainedJobs=100000 --conf spark.ui.retainedStages=100000",
            "--conf spark.ui.showConsoleProgress=false",
            "pyspark-shell",
        ]),
    }
    tempfile.tempdir = tmp


def start_spark(workload: str, tmp: str, inputs: dict) -> tuple[object, dict]:
    """``get_spark`` and a first job. A battery then gets the rest of
    bench.py's warm-ups (Arrow Python worker, localCheckpoint) and one
    query of its tag set that is not among its operations, which takes
    the first-use cost of the scans and kernels its operations use.
    ``daily_elt`` instead warms the JSON reader and parquet writer with a
    tiny round trip."""
    from pyspark.sql import functions as F

    from data_lake_skyfit_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    t1 = time.perf_counter()
    spark.range(1000).groupBy(F.col("id") % 7).count().collect()
    if workload != "daily_elt":
        from data_lake_skyfit_spark.queries import registry

        spark.range(32).mapInPandas(lambda it: it, "id long").collect()
        spark.range(32).localCheckpoint(eager=False).count()
        registry()[workloads.WARMUP_QUERY[workload]].fn(spark, inputs["sf_dir"]).collect()
    else:  # no Python kernels or checkpoints on this path
        warm = os.path.join(tmp, "warmup")
        spark.range(64).selectExpr("id", "cast(id as string) s").write.json(warm + "/j")
        spark.read.json(warm + "/j").write.parquet(warm + "/p")
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()
    return spark, {"session.get_spark_s": t1 - t0, "session.warmup_s": time.perf_counter() - t1}


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)
    to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        gateway.shutdown()
    finally:  # also when a signal broke the gateway connection mid-call
        if proc is not None:
            proc.stdin.close()  # the gateway server exits at EOF on stdin
            proc.wait(timeout=60)


# -- one pass -------------------------------------------------------------------


def run_pass(workload: str, spark, tracer: Tracer, inputs: dict) -> dict:
    """Run the workload's operations; return ops, wall time and whatever
    the checks need."""
    if workload == "daily_elt":
        return workloads.run_daily_elt(spark, tracer, inputs["lake_root"], inputs["bronze"])
    t0 = time.perf_counter()
    ops = workloads.run_battery(spark, tracer, inputs["sf_dir"], inputs["order"])
    return {"ops": ops, "wall_s": time.perf_counter() - t0}


def check_pass(workload: str, spark, inputs: dict, out: dict) -> int:
    """Mark wrong outputs as failed operations; return ops attempted."""
    if workload == "daily_elt":
        return workloads.check_daily_elt(spark, inputs["lake_root"], inputs["bronze"], out)
    workloads.check_battery(inputs["sf_dir"], out["ops"])
    return len(inputs["order"])


def tail_percentile(n: int) -> float:
    """Highest percentile with at least ten operations beyond it, never
    below the median."""
    return max(0.5, (n - 10) / n) if n else 0.5


def nearest_rank(values: list[float], q: float) -> float:
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def end_to_end_metrics(setup_s: float, out: dict, peak_rss_mb: float) -> tuple[dict, str]:
    """The untraced run's metrics, and a note naming the tail percentile."""
    times = [op["s"] for op in out["ops"] if "s" in op]
    q = tail_percentile(len(times))
    p50 = statistics.median(times)
    metrics = {
        "setup_s": setup_s,
        "wall_s": out["wall_s"],
        "op_p50_s": p50,
        # The median of an even count averages the two middle values, so
        # the nearest-rank p50 can sit below it.
        "op_tail_s": max(nearest_rank(times, q), p50),
        "peak_rss_mb": peak_rss_mb,
    }
    return metrics, f"op_tail_s is p{100 * q:.0f} of {len(times)} operations"


def result_line(metrics: dict, units: dict, attempted: int, failed: int) -> str:
    return json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    })


# -- per-layer metrics ----------------------------------------------------------


def layer_metrics(workload: str, tracer: Tracer, out: dict, inputs: dict, cores: int) -> dict:
    units = per_layer_units()
    m = dict.fromkeys(units, 0.0)
    spans = tracer.spans
    by_id = {s["id"]: s for s in spans}

    def phase_of(span: dict) -> str | None:
        while span is not None:
            if span["name"] in PHASES:
                return PHASES[span["name"]]
            span = by_id.get(span["parent"])
        return None

    def dur(s: dict) -> float:
        return s["end"] - s["start"]

    for ph in dict.fromkeys(PHASES.values()):
        top = [s for s in spans if s["name"] in PHASES and PHASES[s["name"]] == ph]
        inside = [s for s in spans if "spark" in s and phase_of(s) == ph]
        for c in ("jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s", "shuffle_read_mb",
                  "shuffle_write_mb", "spill_mb", "input_mb", "output_mb", "failed_tasks"):
            m[f"spark.{ph}.{c}"] = sum(s["spark"][c] for s in inside)
        m[f"spark.{ph}.offcpu_s"] = m[f"spark.{ph}.run_s"] - m[f"spark.{ph}.cpu_s"]
        wall = sum(dur(s) for s in top)
        m[f"spark.{ph}.busy_frac"] = m[f"spark.{ph}.run_s"] / (wall * cores) if wall else 0.0

    def total(name: str) -> float:
        return sum(dur(s) for s in spans if s["name"] == name)

    def jobs_under(name: str) -> float:
        return sum(s["spark"]["jobs"] for s in spans
                   if "spark" in s and _has_ancestor(s, name, by_id))

    m["queries.build_s"] = total("queries.build")
    m["queries.collect_s"] = total("queries.collect")
    for s in spans:
        for k, v in s.get("python", {}).items():
            m[f"llm.{k}"] += v
    m["bench.untraced_gap_s"] = out["wall_s"] - sum(op["s"] for op in out["ops"])
    if workload == "daily_elt":
        bronze = inputs["bronze"]
        m["pipeline.load_stg_s"] = total("pipeline.load_stg")
        m["pipeline.normalize_core_s"] = total("pipeline.normalize_core")
        m["pipeline.day1_s"] = total("pipeline.day1")
        m["pipeline.day2_s"] = total("pipeline.day2")
        entity_days = sum(1 for s in spans if s["name"] == "pipeline.load_stg")
        m["pipeline.jobs_per_entity"] = (
            (jobs_under("pipeline.load_stg") + jobs_under("pipeline.normalize_core")) / entity_days
            if entity_days else 0.0)
        m["sources.bronze_records"] = bronze.records(1) + bronze.records(2)
        m["sources.bronze_mb"] = out["landed_bytes"] / 2**20
        scans = [s for s in spans if "spark" in s and _has_ancestor(s, "pipeline.load_stg", by_id)]
        m["sources.scan_tasks"] = sum(s["spark"]["input_tasks"] for s in scans) / max(entity_days, 1)
        writes = [s for s in spans if s["name"] in ("operators.merge", "operators.overwrite")]
        m["operators.merge_s"] = sum(dur(s) for s in writes if s["name"] == "operators.merge")
        written = [s for s in spans if "spark" in s and any(
            _has_ancestor(s, w, by_id) for w in ("operators.merge", "operators.overwrite"))]
        m["operators.rows_written_per_changed_row"] = (  # STG and CORE each take every change
            sum(s["spark"]["output_records"] for s in written) / (2 * bronze.changed_keys))
        m["operators.bytes_written_per_input_byte"] = (
            sum(s["spark"]["output_mb"] for s in written) * 2**20 / out["landed_bytes"])
        m["operators.stored_bytes_per_input_byte"] = sum(
            _tree_bytes(os.path.join(inputs["lake_root"], layer)) for layer in ("stg", "core")
        ) / out["landed_bytes"]
        m["audit.run_audit_s"] = total("audit.run_audit")
        m["audit.jobs"] = jobs_under("audit.run_audit")
    return m


def _has_ancestor(span: dict, name: str, by_id: dict) -> bool:
    while span is not None:
        if span["name"] == name:
            return True
        span = by_id.get(span["parent"])
    return False


def _tree_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


# -- main -----------------------------------------------------------------------


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    traced = bool(args.trace)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # clean up on termination too

    import data_lake_skyfit_spark  # noqa: F401 — fail before any work if the package is missing

    os.makedirs(RUNS_DIR, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"tmp-{os.getpid()}-", dir=RUNS_DIR)
    stderr_log = os.path.join(tmp, "stderr.log")
    saved_stderr = os.dup(2)
    spark = None
    try:
        t_gen = time.perf_counter()
        passes = 1 if args.workload == "daily_elt" else max(1, args.seconds // PASS_SECONDS)
        inputs = make_inputs(args.workload, args.seed, tmp, passes)
        inputgen_s = time.perf_counter() - t_gen
        if args.workload != "daily_elt":
            t = inputs["tables"]
            print(f"input: sf{SF} tables, {sum(t['rows'].values())} rows, "
                  f"{t['bytes'] / 2**20:.1f} MB; {len(inputs['order'])} operations")

        # The JVM inherits fd 2: its log lines land in stderr_log.
        with open(stderr_log, "wb") as f:
            os.dup2(f.fileno(), 2)
        spark_env(tmp)
        rss = RssSampler()
        rss.start()
        spark, session = start_spark(args.workload, tmp, inputs)
        setup_s = time.perf_counter() - T_START - inputgen_s
        cores = spark.sparkContext.defaultParallelism

        run_id = f"{args.workload}-s{args.seed}"
        tracer = Tracer(spark, run_id, enabled=traced)
        log_start = os.path.getsize(stderr_log)
        out = run_pass(args.workload, spark, tracer, inputs)
        log_end = os.path.getsize(stderr_log)
        peak_rss_mb = rss.stop()
        if args.workload == "daily_elt":
            lake = inputs["bronze"]
            print(f"input: bronze lake, {lake.records(1)} + {lake.records(2)} records on days "
                  f"1 + 2, {out['landed_bytes'] / 2**20:.2f} MB of jsonl.gz")
        attempted = check_pass(args.workload, spark, inputs, out)
        ops = out["ops"]
        failed = attempted - min(attempted, sum(1 for op in ops if op["error"] is None))

        if traced:
            problems = tracer.check_tree()
            if problems:
                raise RuntimeError(f"malformed span tree: {problems[:3]}")
            metrics = layer_metrics(args.workload, tracer, out, inputs, cores)
            metrics |= session
            metrics["bench.inputgen_s"] = inputgen_s
            # Untraced wall estimated as traced wall minus the tracer's own
            # driver time: a second pass in this process would run warm.
            metrics["bench.trace_overhead_frac"] = (
                tracer.overhead_s / (out["wall_s"] - tracer.overhead_s))
            with open(stderr_log, "rb") as f:
                f.seek(log_start)
                metrics["spark.error_log_lines"] = sum(
                    b" ERROR " in line for line in f.read(log_end - log_start).splitlines())
            tracer.dump(os.path.join(RUNS_DIR, f"trace-{run_id}.json"))
            units = per_layer_units()
        else:
            metrics, note = end_to_end_metrics(setup_s, out, peak_rss_mb)
            units = END_TO_END
            print(f"{note}; failed_frac {failed}/{attempted}")
        for op in ops:
            print(f"op {op['name']} {op.get('s', float('nan')):.3f}s"
                  + (f" FAILED {op['error']}" if op["error"] is not None else ""))
    except BaseException:
        os.dup2(saved_stderr, 2)
        if os.path.exists(stderr_log):  # the JVM's last words, before the log is removed
            with open(stderr_log, "rb") as f:
                sys.stderr.write(f.read()[-8000:].decode(errors="replace"))
        raise
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            os.dup2(saved_stderr, 2)
            shutil.rmtree(tmp, ignore_errors=True)

    print(result_line(metrics, units, attempted, failed))
    return 0


if __name__ == "__main__":
    sys.exit(main())
