"""The benchmark's workloads: which operations each issues, how they are
timed and traced, and how their outputs are checked.

A battery workload runs a fixed list of registry queries, drawn from the
workload's tag set, in an order shuffled by the seed; one operation is
one query's ``fn`` (build) plus ``collect``. ``daily_elt`` runs
``pipeline.run_daily`` twice over a generated bronze lake; one operation
is one entity-day ``load_stg`` or ``normalize_core`` call, or the day-2
audit. Outputs are checked after the timed region. A query result must equal
its DuckDB oracle under the parity test's normalisation; the ELT lake
must hold the generator's keys with their latest values, and the audit
must pass.
"""

from __future__ import annotations

import contextlib
import random
import time

# Tag rules: which registry entries belong to each battery.
def in_tag_set(workload: str, tags: tuple[str, ...]) -> bool:
    if "no-bench" in tags:
        return False
    llm = any(t.startswith("llm-") for t in tags)
    return {
        "relational": not llm,
        "llm_text": llm and "llm-multimodal" not in tags,
        "llm_media": "llm-multimodal" in tags,
    }[workload]


# Fixed operation lists, a few seconds of work each at 4 cores, chosen to
# span each tag set's layers.
BATTERIES: dict[str, tuple[str, ...]] = {
    # Catalyst + parquet scans: aggregates, joins (broadcast, skew-salted,
    # star, semi, as-of), windows, grouping sets.
    "relational": (
        "pricing_summary", "top_customers_by_revenue", "multiway_star_join",
        "window_analytics", "semi_join_active_parts", "grouping_sets_revenue",
        "skew_salted_join_revenue", "asof_join_last_purchase",
    ),
    # Dedup, text kernels, ANN, curation: build-bound (checkpoints, driver
    # count jobs) plus mapInPandas kernels.
    "llm_text": (
        "dedup_minhash_lsh", "dedup_exact", "text_quality_scores", "text_language_id",
        "ann_topk_cosine", "ann_ivf_topk", "curation_importance_scores",
        "sequence_packing", "text_sentence_dedup",
    ),
    # One decoder family each: PNG, JPEG, VP8 (lossy WebP), AV1 (AVIF),
    # H.264, FLAC, audio VAD, and perceptual-hash media dedup.
    "llm_media": (
        "multimodal_decode_png", "multimodal_decode_jpeg", "multimodal_decode_webp_lossy",
        "multimodal_decode_avif", "multimodal_decode_h264_multiref", "multimodal_decode_flac",
        "multimodal_audio_vad", "image_neardup_hamming",
    ),
}

# Run once in set-up, untimed: a query of each tag set outside its list
# (for relational, bench.py's warm-up, which scans every table).
WARMUP_QUERY = {
    "relational": "union_audit_counts",
    "llm_text": "text_token_counts",
    "llm_media": "multimodal_decode_ppm",
}

# daily_elt: entity sizes (day-1 keys) and bronze parts per run. Entries
# are half the reference's average daily increment: ~110M entries over its
# 2020-2026 year partitions is ~46k a day (BASELINE.md, SURVEY.md §1.4),
# halved so that the 4 + 22 x 2 runs of the two listed workloads fit the
# benchmark's time budget. At this size about half of the entries load is
# per-record work (README.md). The reference states no Pipedrive or
# Zendesk volumes; deals and tickets stay small and are the workload's
# overhead-bound tables.
ELT_SIZES = {"deals": 500, "tickets": 500, "entries": 23000, "parts": 4}
# CORE column compared with the generator's latest value, per entity.
CHECKED = {
    "zd_tickets": (("ticket_id",), "status"),
    "pd_deals": (("deal_id", "scope"), "title"),
}


def battery_order(workload: str, seed: int) -> list[str]:
    names = list(BATTERIES[workload])
    random.Random(seed).shuffle(names)
    return names


# -- batteries ------------------------------------------------------------------


def run_battery(spark, tracer, sf_dir: str, names: list[str]) -> list[dict]:
    """Run each query once, closed loop; return one record per operation."""
    from data_lake_skyfit_spark.queries import registry

    queries = registry()
    ops = []
    for name in names:
        op = {"name": name, "error": None}
        with tracer.span("op", op=name) as span:
            try:
                with tracer.span("queries.build"):
                    df = queries[name].fn(spark, sf_dir)
                with tracer.span("queries.collect"):
                    rows = df.collect()
                op["columns"], op["rows"] = df.columns, [tuple(r) for r in rows]
            except Exception as e:  # noqa: BLE001 — a failed operation is counted, not fatal
                op["error"] = f"{type(e).__name__}: {str(e)[:300]}"
        op["s"] = span["end"] - span["start"]
        if op["error"] is None:
            span["python"] = tracer.python_node_metrics(df)
        # Free localCheckpoint blocks between operations, as bench.py
        # does, so each query starts from the same executor memory.
        for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist()
        ops.append(op)
    return ops


def check_battery(sf_dir: str, ops: list[dict]) -> None:
    """Mark each operation whose result differs from its DuckDB oracle."""
    from data_lake_skyfit_spark.queries import registry
    from tests.test_oracle_parity import _duck_con, _normalize_rows

    queries = registry()
    con = _duck_con(sf_dir)
    for op in ops:
        if op["error"] is not None:
            continue
        try:
            res = con.execute(queries[op["name"]].oracle)
        except Exception as e:  # noqa: BLE001 — a broken oracle fails the operation
            op["error"] = f"oracle: {type(e).__name__}: {str(e)[:300]}"
            continue
        cols = [d[0] for d in res.description]
        if sorted(cols) != sorted(op["columns"]):
            op["error"] = f"columns {op['columns']} != oracle {cols}"
        elif _normalize_rows(op["columns"], op["rows"]) != _normalize_rows(cols, res.fetchall()):
            op["error"] = "rows differ from the oracle"
    con.close()


# -- daily_elt ------------------------------------------------------------------


@contextlib.contextmanager
def _elt_spans(tracer, ops: list[dict]):
    """Wrap the layer entry points ``run_daily`` calls in spans.

    ``run_audit`` only builds a lazy report; ``run_daily`` collects it
    just before returning, so the audit operation's span runs from the
    ``run_audit`` call until ``run_daily`` returns.
    """
    from data_lake_skyfit_spark import pipeline
    from data_lake_skyfit_spark.operators.merge import ParquetTable
    from data_lake_skyfit_spark.operators.normalize import Lakehouse

    originals = {
        (Lakehouse, "load_stg"): Lakehouse.load_stg,
        (Lakehouse, "normalize_core"): Lakehouse.normalize_core,
        (ParquetTable, "merge"): ParquetTable.merge,
        (ParquetTable, "overwrite"): ParquetTable.overwrite,
        (pipeline, "run_audit"): pipeline.run_audit,
    }

    def op_wrapper(phase, fn):
        def wrapped(self, spec, *a, **k):
            op = {"name": f"{phase}:{spec.name}", "entity": spec.name, "error": None}
            ops.append(op)
            with tracer.span(f"pipeline.{phase}", entity=spec.name) as span:
                try:
                    return fn(self, spec, *a, **k)
                except Exception as e:
                    op["error"] = f"{type(e).__name__}: {str(e)[:300]}"
                    raise
                finally:
                    op["s"] = time.perf_counter() - span["start"]
        return wrapped

    def layer_wrapper(name, fn):
        def wrapped(*a, **k):
            with tracer.span(name):
                return fn(*a, **k)
        return wrapped

    def audit_wrapper(*a, **k):
        op = {"name": "audit", "entity": None, "error": None}
        ops.append(op)
        op["span"] = tracer.begin("audit.run_audit")
        return originals[(pipeline, "run_audit")](*a, **k)

    Lakehouse.load_stg = op_wrapper("load_stg", originals[(Lakehouse, "load_stg")])
    Lakehouse.normalize_core = op_wrapper("normalize_core", originals[(Lakehouse, "normalize_core")])
    ParquetTable.merge = layer_wrapper("operators.merge", originals[(ParquetTable, "merge")])
    ParquetTable.overwrite = layer_wrapper("operators.overwrite", originals[(ParquetTable, "overwrite")])
    pipeline.run_audit = audit_wrapper
    try:
        yield
    finally:
        for (owner, attr), fn in originals.items():
            setattr(owner, attr, fn)


def run_daily_elt(spark, tracer, lake_root: str, bronze) -> dict:
    """Day 1 lands and runs ``run_daily`` without the audit; day 2 lands
    and runs it again, audit included. Landing is input generation and
    is excluded from ``wall_s``."""
    from data_lake_skyfit_spark import pipeline
    from data_lake_skyfit_spark.operators.normalize import Lakehouse

    ops: list[dict] = []
    out = {"ops": ops, "days": {}, "results": {}, "landed_bytes": 0}
    lake = Lakehouse(spark, lake_root)
    with _elt_spans(tracer, ops):
        for day in (1, 2):
            out["landed_bytes"] += bronze.land(lake_root, day)
            n_before = len(ops)
            with tracer.span(f"pipeline.day{day}") as span:
                error = None
                try:
                    out["results"][day] = pipeline.run_daily(lake, audit=day == 2)
                except Exception as e:  # noqa: BLE001 — counted in failed_frac
                    error = out["results"][day] = e
                for op in ops[n_before:]:
                    if "span" in op:  # the audit operation ends as run_daily returns
                        rec = op.pop("span")
                        tracer.end(rec)
                        op["s"] = rec["end"] - rec["start"]
                        if error is not None:
                            op["error"] = f"{type(error).__name__}: {str(error)[:300]}"
            out["days"][day] = span["end"] - span["start"]
            for op in ops[n_before:]:
                op["day"] = day
    out["wall_s"] = sum(out["days"].values())
    return out


def check_daily_elt(spark, lake_root: str, bronze, out: dict) -> int:
    """Mark failed operations; return how many operations were expected.

    Each day should run ``load_stg`` and ``normalize_core`` once per
    generated entity, and day 2 then one audit. An expected operation
    that never ran counts as failed. An entity whose CORE table differs
    from the generator fails its day-2 ``normalize_core``; a failed audit
    check fails the audit.
    """
    from pyspark.sql import functions as F

    from data_lake_skyfit_spark.operators.normalize import Lakehouse
    from data_lake_skyfit_spark.specs.base import get_spec

    ops = out["ops"]
    entities = sorted(bronze.expected)
    expected_ops = 2 * 2 * len(entities) + 1
    lake = Lakehouse(spark, lake_root)
    for day, result in out["results"].items():
        day_ops = [op for op in ops if op.get("day") == day]
        audits = [op for op in day_ops if op["name"] == "audit"]
        if not isinstance(result, Exception) and not result.ok and audits:
            audits[0]["error"] = f"audit checks failed: {result.failed_checks[:3]}"
    for entity in entities:
        last = [op for op in ops if op["name"] == f"normalize_core:{entity}" and op.get("day") == 2]
        if not last or last[0]["error"] is not None:
            continue
        try:
            core = lake.core_table(get_spec(entity)).read(spark)
            want = bronze.expected[entity]
            if entity == "evo_entries":
                n, n_keys = core.agg(F.count("*"), F.countDistinct("entry_id")).first()
                problem = None if n == n_keys == want else f"{n} rows, {n_keys} keys, want {want}"
            else:
                keys, col = CHECKED[entity]
                got = {(r[0] if len(keys) == 1 else tuple(r[:-1])): r[-1]
                       for r in core.select(*keys, col).collect()}
                n_rows = core.count()
                problem = None if got == want and n_rows == len(want) else (
                    f"{n_rows} rows, {len(set(got) ^ set(want))} keys differ, "
                    f"{sum(got.get(k) != v for k, v in want.items())} values differ")
        except Exception as e:  # noqa: BLE001 — an unreadable table fails the entity
            problem = f"{type(e).__name__}: {str(e)[:300]}"
        if problem is not None:
            last[0]["error"] = f"CORE check: {problem}"
    return expected_ops
