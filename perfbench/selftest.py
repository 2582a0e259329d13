"""Self-test of the benchmark at a tiny scale (sf0.001 tables, a small
bronze lake). Run from the root of a checkout:

    python3 perfbench/selftest.py

One Spark session runs one traced pass of every workload and checks that

- each battery's operations and warm-up query belong to its tag set;
- the generators are deterministic in the seed;
- every end-to-end and per-layer metric in ``BENCHMARK.json`` is produced
  with its unit and a finite value, for every workload;
- the unmodified run has no failed operation, and an injected wrong
  result counts as exactly one failed operation;
- the span tree is well-formed: children sit inside their parents and
  every self time is >= 0.

Prints one line per check and exits non-zero if any fails.
"""

from __future__ import annotations

import copy
import filecmp
import json
import math
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import run  # noqa: E402
from spans import Tracer  # noqa: E402

FAILURES: list[str] = []


def check(ok: bool, what: str) -> None:
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        FAILURES.append(what)


def check_line(workload: str, kind: str, metrics: dict, units: dict, attempted: int,
               failed: int) -> None:
    line = json.loads(run.result_line(metrics, units, attempted, failed))
    got = line["metrics"]
    missing = sorted(set(units) - set(got))
    bad = sorted(k for k, v in got.items() if not v["unit"] or not isinstance(v["value"], (int, float))
                 or not math.isfinite(v["value"]))
    check(not missing and not bad and set(line) == {"correct", "attempted", "failed", "metrics"},
          f"{workload}: {kind} metrics complete with units (missing {missing}, bad {bad})")


def check_generators(tmp: str) -> None:
    a, b, c = (os.path.join(tmp, d) for d in ("a", "b", "c"))
    for d, seed in ((a, 5), (b, 5), (c, 6)):
        run.tables_gen.generate(d, sf=run.TINY_SF, seed=seed)
    names = sorted(os.listdir(a))
    same = filecmp.cmpfiles(a, b, names, shallow=False)[0] == names
    differ = filecmp.cmpfiles(a, c, ["lineitem.parquet"], shallow=False)[0] == []
    check(same and differ, "tables: same seed gives same files, another seed other data")
    lakes = [run.bronze_gen.BronzeLake(seed=s, **run.TINY_ELT_SIZES) for s in (5, 5, 6)]
    check(lakes[0].runs == lakes[1].runs and lakes[0].runs != lakes[2].runs,
          "bronze: same seed gives same records, another seed other records")


def check_tag_sets() -> None:
    from data_lake_skyfit_spark.queries import registry

    queries = registry()
    for workload, names in run.workloads.BATTERIES.items():
        warm = run.workloads.WARMUP_QUERY[workload]
        outside = [n for n in (*names, warm) if not run.workloads.in_tag_set(workload, queries[n].tags)]
        check(not outside and warm not in names,
              f"{workload}: operations and warm-up query are in its tag set {outside}")


def main() -> int:
    check_tag_sets()
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e_units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer_units = {m["name"]: m["unit"] for m in bench["per_layer"]}
    check(e2e_units == run.END_TO_END, "BENCHMARK.json end_to_end matches run.py")
    check(layer_units == run.per_layer_units(), "BENCHMARK.json per_layer matches run.py")

    os.makedirs(run.RUNS_DIR, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="selftest-", dir=run.RUNS_DIR)
    spark = None
    try:
        check_generators(os.path.join(tmp, "gen"))
        run.spark_env(tmp)
        inputs = {w: run.make_inputs(w, 1, os.path.join(tmp, w), 1, tiny=True)
                  for w in run.WORKLOADS}
        spark, session = run.start_spark("relational", tmp, inputs["relational"])
        cores = spark.sparkContext.defaultParallelism
        for workload in run.WORKLOADS:
            tracer = Tracer(spark, f"selftest-{workload}", enabled=True)
            out = run.run_pass(workload, spark, tracer, inputs[workload])
            attempted = run.check_pass(workload, spark, inputs[workload], out)
            errors = [f"{op['name']}: {op['error']}" for op in out["ops"] if op["error"]]
            failed = attempted - (len(out["ops"]) - len(errors))
            check(failed == 0, f"{workload}: {attempted} operations, none failed {errors[:3]}")
            problems = tracer.check_tree()
            check(not problems, f"{workload}: span tree well-formed {problems[:3]}")

            metrics, _ = run.end_to_end_metrics(1.0, out, 1.0)
            check_line(workload, "end-to-end", metrics, e2e_units, attempted, failed)
            metrics = run.layer_metrics(workload, tracer, out, inputs[workload], cores) | session
            metrics |= {"bench.inputgen_s": 0.0, "bench.trace_overhead_frac": 0.0,
                        "spark.error_log_lines": 0}
            check_line(workload, "per-layer", metrics, layer_units, attempted, failed)

            if workload == "daily_elt":
                bronze = copy.copy(inputs[workload]["bronze"])
                bronze.expected = copy.deepcopy(bronze.expected)
                key = next(iter(bronze.expected["pd_deals"]))
                bronze.expected["pd_deals"][key] = "injected wrong title"
                run.workloads.check_daily_elt(spark, inputs[workload]["lake_root"], bronze, out)
                wrong = [op["name"] for op in out["ops"] if op["error"]]
            else:
                op = copy.deepcopy(next(op for op in out["ops"] if op["rows"]))
                op["rows"].append(op["rows"][0])  # one extra row
                run.workloads.check_battery(inputs[workload]["sf_dir"], [op])
                wrong = [op["name"]] if op["error"] else []
            check(len(wrong) == 1, f"{workload}: injected wrong result fails one operation {wrong}")
    finally:
        if spark is not None:
            run.stop_spark(spark)
        shutil.rmtree(tmp, ignore_errors=True)
    print(f"{len(FAILURES)} check(s) failed" if FAILURES else "all checks passed")
    return 1 if FAILURES else 0


if __name__ == "__main__":
    sys.exit(main())
