"""``queries`` workload: registry queries from all ten operator modules,
one in flight at a time, in a seeded order.

An untimed first pass collects every query and checks its result hash
against ``expected.json``; it also fills the JVM's code caches. Timed
passes then build and materialize each query (noop sink, as bench.py
does) until ``seconds`` have elapsed, with at least one pass.
"""

from __future__ import annotations

import gc
import json
import os
import random
import statistics
import sys
import time

from perfbench.checks import query_matches, result_digest
from perfbench.tracing import EXEC_COUNTERS, Tracer, peak_rss_mb, plan_seconds

HERE = os.path.dirname(os.path.abspath(__file__))
SF_DIR = os.path.join(HERE, "data", "sf0.001")
EXPECTED = os.path.join(HERE, "expected.json")

MODULES = ("blocks", "dedup", "documents", "extraction", "jsonops",
           "multimodal", "relational", "similarity", "textops", "trainprep")

# Every tenth query of each operator module, by sorted name: all ten
# operator modules are covered, and the untimed pass plus one timed
# pass fit the run's time budget.
QUERY_SET = (
    "q34_blocks_page_text",
    "q20_exact_dedup",
    "q14_scalar_refinement",
    "q31_extract_polizas",
    "q35_notification_encode",
    "q38_image_features",
    "q01_pricing_summary", "q103_funnel_conversion", "q116_cumulative_distinct",
    "q45_events_sliding", "q66_small_qty_revenue", "q83_nation_presence",
    "q107_matryoshka_audit",
    "q102_inverted_index", "q85_length_histogram",
    "q101_rag_chunking",
)

def _materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def verify_pass(spark, order: list[str], queries: dict, expected: dict) -> int:
    """Collect every query once and compare it with the committed
    expectation; return the number of queries that raised or differed."""
    failed = 0
    for name in order:
        try:
            df = queries[name](spark, SF_DIR)
            if not query_matches(expected[name], result_digest(df.columns, df.collect())):
                failed += 1
        except Exception:  # noqa: BLE001 — a raising query is a failed unit
            failed += 1
        gc.collect()
    return failed


def run(spark, seed: int, seconds: float, tracer: Tracer | None) -> dict:
    from sbs_suptech_etl_v2_spark.registry import QUERIES

    with open(EXPECTED, encoding="utf-8") as fh:
        expected = json.load(fh)["queries"]
    rng = random.Random(f"perfbench-queries:{seed}")
    sc = spark.sparkContext
    failed = verify_pass(spark, rng.sample(QUERY_SET, len(QUERY_SET)), QUERIES, expected)
    print(f"verify pass done, {failed} failed", file=sys.stderr)
    attempted = len(QUERY_SET)
    if tracer is not None:
        tracer.install(spark)

    times: list[float] = []
    pass_times: list[float] = []
    layers: dict[str, float] = {}
    ok = 0
    t_window = time.perf_counter()
    while not pass_times or time.perf_counter() - t_window < seconds:
        p = len(pass_times)
        pass_total = 0.0
        for name in rng.sample(QUERY_SET, len(QUERY_SET)):
            attempted += 1
            group = f"perfbench:{p}:{name}"
            sc.setJobGroup(f"{group}:build", name)
            try:
                builder = QUERIES[name]
                if tracer is None:
                    t0 = time.perf_counter()
                    _materialize(builder(spark, SF_DIR))
                    dt = time.perf_counter() - t0
                else:
                    dt = _traced_query(spark, tracer, builder, name, group, layers)
            except Exception:  # noqa: BLE001 — a raising query is a failed unit
                failed += 1
                continue
            finally:
                gc.collect()
            print(f"{name} {dt:.4f}", file=sys.stderr)
            ok += 1
            times.append(dt)
            pass_total += dt
        pass_times.append(pass_total)
    for prop in ("spark.jobGroup.id", "spark.job.description",
                 "spark.job.interruptOnCancel"):
        sc.setLocalProperty(prop, None)

    passes = len(pass_times)
    result = dict(
        attempted=attempted, failed=failed,
        end_to_end=dict(
            unit_geomean_s=statistics.geometric_mean(times) if times else 0.0,
            pass_s=statistics.median(pass_times),
            units_per_s=ok / sum(times) if times else 0.0,
        ),
        samples=len(times),
        unit_p50_s=statistics.median(times) if times else 0.0,
    )
    if tracer is not None:
        per_pass = {k: v / passes for k, v in layers.items()}
        per_pass["jvm_peak_rss_mb"] = peak_rss_mb(sc._jvm.ProcessHandle.current().pid())
        per_pass["driver_peak_rss_mb"] = peak_rss_mb()
        result["per_layer"] = per_pass
        result["traced_s"] = sum(times)
    return result


def _traced_query(spark, tracer: Tracer, builder, name: str, group: str,
                  layers: dict[str, float]) -> float:
    """One traced build+materialize; returns its duration and adds the
    query's counters to ``layers``."""
    sc = spark.sparkContext
    module = builder.__module__.rsplit(".", 1)[-1]
    calls0 = tracer.py4j_calls
    n_spans = len(tracer.spans)
    with tracer.span("query", request=name) as q:
        with tracer.span(f"registry.{module}.build"):
            df = builder(spark, SF_DIR)
        sc.setJobGroup(f"{group}:exec", name)
        with tracer.span(f"registry.{module}.exec"):
            _materialize(df)
    calls = tracer.py4j_calls - calls0
    with tracer.overhead():
        build_jobs = tracer.group_jobs(sc, f"{group}:build")
        jobs = build_jobs + tracer.group_jobs(sc, f"{group}:exec")
        counters = tracer.stage_counters(sc, jobs)
        counters.update(tracer.python_counters(spark, jobs))
        plan = plan_seconds(df)
    spans = tracer.spans[n_spans:]
    build = sum(s.end - s.start for s in spans if s.name.endswith(".build"))
    execute = sum(s.end - s.start for s in spans if s.name.endswith(".exec"))
    ckpt = [s for s in spans if s.name == "checkpoint"]

    def add(key: str, value: float) -> None:
        layers[key] = layers.get(key, 0.0) + value

    add("build_s", build)
    add("exec_s", execute)
    add("plan_s", plan)
    add("py4j_calls", calls)
    add("builder_jobs", len(build_jobs))
    add("checkpoint_calls", len(ckpt))
    add("checkpoint_s", sum(s.end - s.start for s in ckpt))
    for key in EXEC_COUNTERS:
        add(key, counters[key])
    if module in MODULES:
        add(f"{module}.build_s", build)
        add(f"{module}.exec_s", execute)
        add(f"{module}.jobs", len(jobs))
    return q.end - q.start
