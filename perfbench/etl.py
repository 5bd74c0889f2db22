"""``etl-microbatch`` workload: batches of 10 generated requests (the
reference's Kafka poll cap) through ``run_document_etl`` into one lake,
one batch in flight at a time.

The first batch is untimed and holds a single domain, so two of the
plan's three flows run empty; it also fills the JVM's code caches.
Timed batches follow until ``seconds`` have elapsed, with at least one;
each holds all three domains in a seeded mix, so every timed batch
runs the same three flows. Every batch, timed or not, is checked
document by document.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

import pyarrow.parquet as pq

from perfbench.checks import check_batch, read_chunks
from perfbench.gen import REQUEST_SCHEMA, make_batch
from perfbench.ports import CountingPortFactory, SpoolClient, read_port_calls
from perfbench.tracing import EXEC_COUNTERS, Tracer, peak_rss_mb, union_length

BATCH_SIZE = 10


def lake_metadata(lake: str) -> dict[str, dict[str, str]]:
    path = os.path.join(lake, "metadata")
    if not os.path.isdir(path):
        return {}
    rows = pq.read_table(path).to_pylist()
    return {r["record_id"]: dict(r["metadata"] or []) for r in rows}


def run(spark, workdir: str, seed: int, seconds: float, tracer: Tracer | None) -> dict:
    from sbs_suptech_etl_v2_spark.operators.documents import NOTIFICATION_TYPE
    from sbs_suptech_etl_v2_spark.plans.document_etl import run_document_etl
    from sbs_suptech_etl_v2_spark.sinks.writers import NotificationBatchWriter

    sc = spark.sparkContext
    lake = os.path.join(workdir, "lake")
    times: list[float] = []
    correct_docs = 0
    attempted = failed = 0
    layers: dict[str, float] = {}
    t_window = None
    batch = 0
    while t_window is None or time.perf_counter() - t_window < seconds:
        timed = batch > 0
        docs = make_batch(seed, batch, BATCH_SIZE, single_domain=not timed)
        requests = spark.createDataFrame([d.row for d in docs], REQUEST_SCHEMA)
        spool = os.path.join(workdir, f"spool-{batch}")
        calls = os.path.join(workdir, f"calls-{batch}")
        os.makedirs(spool)
        notifier = NotificationBatchWriter(client_factory=SpoolClient(spool))
        port = None
        if tracer is not None:
            os.makedirs(calls)
            port = CountingPortFactory(calls)
        group = f"perfbench:etl:{batch}"
        sc.setJobGroup(group, f"batch {batch}")
        attempted += len(docs)
        if timed and t_window is None:
            if tracer is not None:
                tracer.install(spark)
            t_window = time.perf_counter()
        try:
            calls0 = tracer.py4j_calls if tracer is not None else 0
            t0 = time.perf_counter()
            if tracer is not None and timed:
                with tracer.span("plans.document_etl", request=f"batch-{batch}") as span:
                    results = run_document_etl(spark, requests, lake, notifier, port)
            else:
                results = run_document_etl(spark, requests, lake, notifier, port)
            dt = time.perf_counter() - t0
            calls_made = tracer.py4j_calls - calls0 if tracer is not None else 0
            flags = {r["record_id"]: r["success"] for r in results.collect()}
        except Exception:  # noqa: BLE001 — a raising batch fails all its documents
            failed += len(docs)
            batch += 1
            continue
        print(f"batch {batch} {'timed' if timed else 'untimed'} {dt:.4f}", file=sys.stderr)
        chunks = read_chunks(spool)
        bad = check_batch(docs, flags, lake_metadata(lake),
                          os.path.join(lake, "txt"), chunks, NOTIFICATION_TYPE)
        failed += len(bad)
        if timed:
            times.append(dt)
            correct_docs += len(docs) - len(bad)
            if tracer is not None:
                layers["py4j_calls"] = layers.get("py4j_calls", 0.0) + calls_made
                _trace_batch(spark, tracer, span, group, docs, calls, chunks,
                             lake, layers)
        batch += 1
    sc.setLocalProperty("spark.jobGroup.id", None)

    n = len(times)
    result = dict(
        attempted=attempted, failed=failed,
        end_to_end=dict(
            unit_geomean_s=statistics.geometric_mean(times) if times else 0.0,
            pass_s=sum(times),
            units_per_s=correct_docs / sum(times) if times else 0.0,
        ),
        samples=n,
        unit_p50_s=statistics.median(times) if times else 0.0,
    )
    if tracer is not None:
        per_batch = {k: v / max(n, 1) for k, v in layers.items()}
        per_batch["jvm_peak_rss_mb"] = peak_rss_mb(sc._jvm.ProcessHandle.current().pid())
        per_batch["driver_peak_rss_mb"] = peak_rss_mb()
        result["per_layer"] = per_batch
        result["traced_s"] = sum(times)
    return result


def _trace_batch(spark, tracer: Tracer, span, group: str, docs, calls_dir: str,
                 chunks, lake: str, layers: dict[str, float]) -> None:
    sc = spark.sparkContext
    with tracer.overhead():
        port_calls = read_port_calls(calls_dir)
        for method, t0, t1 in port_calls:
            tracer.add_remote_span(f"ports.{method}", t0, t1, span)
        jobs = tracer.group_jobs(sc, group)
        counters = tracer.stage_counters(sc, jobs)
        counters.update(tracer.python_counters(spark, jobs))
        lake_rows = pq.ParquetDataset(os.path.join(lake, "metadata")).read().num_rows
    children = [s for s in tracer.spans if s.parent == span.id]

    def total(name: str) -> float:
        return sum(s.end - s.start for s in children if s.name == name)

    def add(key: str, value: float) -> None:
        layers[key] = layers.get(key, 0.0) + value

    extracted = sum(1 for d in docs if d.row[-1])
    ckpt = [s for s in children if s.name == "checkpoint"]
    sinks = total("sinks.k1_write") + total("sinks.k2_merge") + total("sinks.k3_notify")
    add("port_calls", len(port_calls))
    add("port_calls_per_doc", len(port_calls) / extracted if extracted else 0.0)
    add("port_s", sum(t1 - t0 for _, t0, t1 in port_calls))
    add("k1_write_s", total("sinks.k1_write"))
    add("k2_merge_s", total("sinks.k2_merge"))
    add("k3_notify_s", total("sinks.k3_notify"))
    add("k3_chunks", len(chunks))
    add("lake_rows", lake_rows)
    add("checkpoint_calls", len(ckpt))
    add("checkpoint_s", sum(s.end - s.start for s in ckpt))
    add("exec_s", sinks + total("checkpoint"))
    # self time of the plan span: driver-side plan construction plus
    # any action not wrapped in a child span
    self_s = (span.end - span.start) - union_length(
        [(max(c.start, span.start), min(c.end, span.end)) for c in children])
    add("etl_self_s", self_s)
    add("build_s", self_s)
    for key in EXEC_COUNTERS:
        add(key, counters[key])

