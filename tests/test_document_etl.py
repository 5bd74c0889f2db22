"""Golden end-to-end test of the composed document-ETL plan.

Twelve requests across the three domains run the full
Extract→Transform→Load→Notify composition against deterministic
fixture contents; assertions cover routing, the [B] content split,
extracted fields in the merged metadata, per-row artifacts, and
chunked notifications (SURVEY §5 golden-output strategy). Further
tests pin the one-pass shape (one call per sink per batch), batches
that leave flows empty, and cache release when a sink raises.
"""

from __future__ import annotations

import json
import os

import pytest

from sbs_suptech_etl_v2_spark.plans import document_etl
from sbs_suptech_etl_v2_spark.plans.document_etl import run_document_etl
from sbs_suptech_etl_v2_spark.sinks.writers import NotificationBatchWriter

REQUEST_SCHEMA = (
    "record_id string, parent_id string, key string, session_id string, "
    "document_type string, period_month string, period_year string, "
    "content binary"
)


def _polizas_text(i: int) -> str:
    return (
        f"POLIZA DE SEGURO POL-{i} | Asegurado: CLIENTE {i} | "
        f"Vigencia desde el 01/03/2021 hasta el 01/03/2022"
    )


def _tasaciones_text(i: int) -> str:
    return (
        f"INFORME DE TASACION | Perito: ING {i} | Fecha de tasacion: 05/02/2019 | "
        f"Valor comercial: S/ 250000 | Valor de realizacion: S/ 225000 | "
        f"Propietario: SOC {i}"
    )


def _inscripciones_text(i: int) -> str:
    return (
        f"Partida N {1000 + i} presentado el 06/12/2021 a favor de BANCO {i}"
    )


def _requests(spark):
    rows = []
    for i in range(12):
        dtype = ["POLICY", "REGISTRATION", "APPRAISAL", "DEFAULT"][i % 4]
        text = {
            "POLICY": _polizas_text,
            "DEFAULT": _polizas_text,  # fall-through to pólizas
            "REGISTRATION": _inscripciones_text,
            "APPRAISAL": _tasaciones_text,
        }[dtype](i)
        rows.append(
            (
                f"rec_{i}",
                f"par_{i % 3}",
                f"Polizas/Mayo 2023/doc_{i}.pdf",
                f"s{i % 2}",
                dtype,
                "Mayo",
                "2023",
                text.encode("utf-8"),
            )
        )
    return spark.createDataFrame(rows, REQUEST_SCHEMA)


def test_full_document_etl_plan(spark, tmp_path):
    lake = str(tmp_path / "lake")
    notifier = NotificationBatchWriter()
    results = run_document_etl(spark, _requests(spark), lake, notifier)
    rows = {r["record_id"]: r for r in results.collect()}

    # routing: REGISTRATION -> inscripciones, APPRAISAL -> tasaciones,
    # POLICY and DEFAULT both fall through to pólizas
    assert rows["rec_0"]["flow"] == "polizas"
    assert rows["rec_3"]["flow"] == "polizas"  # DEFAULT fall-through
    assert rows["rec_1"]["flow"] == "inscripciones"
    assert rows["rec_2"]["flow"] == "tasaciones"
    assert len(rows) == 12 and all(r["success"] for r in rows.values())

    # K1 artifacts: one txt per document
    txt = tmp_path / "lake" / "txt"
    assert sorted(p.name for p in txt.iterdir()) == sorted(
        f"rec_{i}.txt" for i in range(12)
    )
    assert "POLIZA DE SEGURO POL-0" in (txt / "rec_0.txt").read_text()

    # K2 metadata: extracted fields + refined periods, all strings
    meta = {
        r["record_id"]: dict(r["metadata"])
        for r in spark.read.parquet(f"{lake}/metadata").collect()
    }
    assert meta["rec_0"]["policy_number"] == "POL-0"
    assert meta["rec_0"]["policy_name"] == "CLIENTE 0"
    assert meta["rec_0"]["period_month"] == "5"  # C2: Mayo -> "5"
    assert meta["rec_0"]["period_year"] == "2023"
    assert meta["rec_2"]["commercial_value"] == "250000"
    assert meta["rec_1"]["inscription_number"] == "1001"
    assert meta["rec_1"]["inscription_date"] == "06/12/2021"

    # K3 notifications: 12 successes, every chunk ≤10 (per-partition
    # chunking — executors send independently), nested JSON body
    sent = [e for b in notifier.sent_batches for e in b]
    assert len(sent) == 12
    assert all(len(b) <= 10 for b in notifier.sent_batches)
    assert sorted(e["Id"] for e in sent) == sorted(f"rec_{i}" for i in range(12))
    body = json.loads(notifier.sent_batches[0][0]["MessageBody"])
    assert body["type"].startswith("regulatory-compliance")
    assert set(body["data"]) == {"recordId", "parentId"}


def test_port_executes_once_per_request(spark, tmp_path):
    """The LLM port must run exactly once per request across the whole
    composed plan (K1 write + K2 merge + notify + caller actions).

    Guards against the reference's double-execution bug [B]
    (workflow_orchestator.py:82-83): before the persist() fix the three
    actions re-ran the mapInPandas port ~3x per flow. Each port call
    drops a uniquely-named marker file from the executor; the total
    must equal the request count.
    """
    import os
    import uuid as uuid_mod

    calls_dir = str(tmp_path / "calls")
    os.makedirs(calls_dir)

    def factory():
        from sbs_suptech_etl_v2_spark.ports.transformer import FakeTransformer

        class CountingTransformer(FakeTransformer):
            def _mark(self):
                path = os.path.join(calls_dir, uuid_mod.uuid4().hex)
                with open(path, "w") as fh:
                    fh.write("1")

            def llm_caller_polizas(self, content):
                self._mark()
                return super().llm_caller_polizas(content)

            def llm_caller_inscripciones(self, content):
                self._mark()
                return super().llm_caller_inscripciones(content)

            def llm_caller_tasaciones(self, content):
                self._mark()
                return super().llm_caller_tasaciones(content)

        return CountingTransformer()

    results = run_document_etl(
        spark,
        _requests(spark),
        str(tmp_path / "lake"),
        NotificationBatchWriter(),
        port_factory=factory,
    )
    # two extra caller-side actions on the returned frame: still no re-run
    assert results.count() == 12
    assert len(results.collect()) == 12
    assert len(os.listdir(calls_dir)) == 12  # exactly one port call per request


def test_failed_extract_produces_no_notification(spark, tmp_path):
    empty_content = spark.createDataFrame(
        [("rec_x", "p", "k", "s", "POLICY", "Mayo", "2023", b"")],
        "record_id string, parent_id string, key string, session_id string, "
        "document_type string, period_month string, period_year string, "
        "content binary",
    )
    notifier = NotificationBatchWriter()
    results = run_document_etl(spark, empty_content, str(tmp_path / "lake"), notifier)
    rows = results.collect()
    assert len(rows) == 1 and rows[0]["success"] is False
    assert notifier.sent_batches == []  # A11 gate held


def _lake_state(spark, tmp_path, notifier):
    """(txt artifact names, lake metadata by record, notified ids)."""
    txt = tmp_path / "lake" / "txt"
    names = sorted(p.name for p in txt.iterdir()) if txt.is_dir() else []
    meta_path = str(tmp_path / "lake" / "metadata")
    meta = {}
    if os.path.isdir(meta_path):
        meta = {
            r["record_id"]: dict(r["metadata"])
            for r in spark.read.parquet(meta_path).collect()
        }
    sent = sorted(e["Id"] for b in notifier.sent_batches for e in b)
    return names, meta, sent


def test_one_call_per_sink_and_exact_metadata(spark, tmp_path, monkeypatch):
    """A batch spanning all three domains makes exactly one K1 write, one
    K2 merge and one notify; each domain's metadata map holds exactly
    its own fields (no NULL column from another domain leaks in)."""
    calls: dict[str, int] = {}

    def count(owner, name):
        fn = getattr(owner, name)

        def wrapper(*args, **kwargs):
            calls[name] = calls.get(name, 0) + 1
            return fn(*args, **kwargs)

        monkeypatch.setattr(owner, name, wrapper)

    count(document_etl, "write_text_artifacts")
    count(document_etl, "merge_metadata")
    count(NotificationBatchWriter, "__call__")
    lake = str(tmp_path / "lake")
    run_document_etl(spark, _requests(spark), lake, NotificationBatchWriter())
    assert calls == {
        "write_text_artifacts": 1,
        "merge_metadata": 1,
        "__call__": 1,
    }

    meta = {
        r["record_id"]: dict(r["metadata"])
        for r in spark.read.parquet(f"{lake}/metadata").collect()
    }
    period = {"period_month": "5", "period_year": "2023"}
    assert meta["rec_0"] == {
        "document_type": "POLICY",
        **period,
        "policy_number": "POL-0",
        "policy_name": "CLIENTE 0",
        "policy_start_date": "01/03/2021",
        "policy_end_date": "01/03/2022",
    }
    assert meta["rec_1"] == {
        "document_type": "REGISTRATION",
        **period,
        "inscription_number": "1001",
        "legal_name": "BANCO 1",
        "inscription_date": "06/12/2021",
    }
    assert meta["rec_2"] == {
        "document_type": "APPRAISAL",
        **period,
        "expert_warranty_name": "ING 2",
        "tasacion_date": "05/02/2019",
        "commercial_value": "250000",
        "realization_value": "225000",
        "tasacion_owner": "SOC 2",
    }


def test_invalid_periods_refine_to_absent_metadata(spark, tmp_path):
    """C2/C3 in the plan: an unknown month and a non-4-digit year refine
    to NULL, so every domain's lake row drops both period keys, while a
    valid period beside them refines to "5"/"2023"."""
    texts = {
        "POLICY": _polizas_text,
        "REGISTRATION": _inscripciones_text,
        "APPRAISAL": _tasaciones_text,
    }
    rows = [
        (f"bad_{i}", "p", "k", "s", dtype, "Birmingham", "20 23", texts[dtype](i).encode())
        for i, dtype in enumerate(texts)
    ]
    rows.append(("good", "p", "k", "s", "POLICY", " Mayo ", "2023", _polizas_text(9).encode()))
    notifier = NotificationBatchWriter()
    run_document_etl(
        spark, spark.createDataFrame(rows, REQUEST_SCHEMA), str(tmp_path / "lake"), notifier
    )
    _, meta, sent = _lake_state(spark, tmp_path, notifier)
    assert sorted(meta) == ["bad_0", "bad_1", "bad_2", "good"]
    for rid in ("bad_0", "bad_1", "bad_2"):
        assert "period_month" not in meta[rid] and "period_year" not in meta[rid], meta[rid]
        assert meta[rid]["document_type"] in texts
    assert meta["good"]["period_month"] == "5"
    assert meta["good"]["period_year"] == "2023"
    assert sent == ["bad_0", "bad_1", "bad_2", "good"]


@pytest.mark.parametrize(
    "dtype,flow,text",
    [
        ("APPRAISAL", "tasaciones", _tasaciones_text),
        (None, "polizas", _polizas_text),  # a NULL type falls through too
    ],
)
def test_single_domain_batch(spark, tmp_path, dtype, flow, text):
    """Two of the three flows run empty; the empty-payload request fails
    alone and leaves no artifact, lake row or notification."""
    payloads = {"d_0": text(0).encode(), "d_1": b"", "d_2": text(2).encode()}
    requests = spark.createDataFrame(
        [(rid, "p", "k", "s", dtype, "Mayo", "2023", c) for rid, c in payloads.items()],
        REQUEST_SCHEMA,
    )
    notifier = NotificationBatchWriter()
    results = run_document_etl(spark, requests, str(tmp_path / "lake"), notifier)
    assert {r["record_id"]: (r["flow"], r["success"]) for r in results.collect()} == {
        "d_0": (flow, True),
        "d_1": (flow, False),
        "d_2": (flow, True),
    }
    names, meta, sent = _lake_state(spark, tmp_path, notifier)
    assert names == ["d_0.txt", "d_2.txt"]
    assert sorted(meta) == ["d_0", "d_2"]
    assert sent == ["d_0", "d_2"]


def test_all_payloads_empty_batch(spark, tmp_path):
    """Every extraction fails: every request still comes back routed,
    with success=False, and no sink receives a row."""
    rows = [
        ("e_0", "p", "k", "s", "POLICY", "Mayo", "2023", b""),
        ("e_1", "p", "k", "s", "REGISTRATION", "Mayo", "2023", b""),
        ("e_2", "p", "k", "s", "APPRAISAL", "Mayo", "2023", b""),
        ("e_3", "p", "k", "s", "DEFAULT", "Mayo", "2023", None),
    ]
    notifier = NotificationBatchWriter()
    results = run_document_etl(
        spark, spark.createDataFrame(rows, REQUEST_SCHEMA), str(tmp_path / "lake"), notifier
    )
    assert {r["record_id"]: (r["flow"], r["success"]) for r in results.collect()} == {
        "e_0": ("polizas", False),
        "e_1": ("inscripciones", False),
        "e_2": ("tasaciones", False),
        "e_3": ("polizas", False),
    }
    assert _lake_state(spark, tmp_path, notifier) == ([], {}, [])


def test_sink_failure_releases_port_cache(spark, tmp_path):
    """A raising sink must not leave the persisted port output cached.

    Compares RDD ids, not just counts: the context cleaner may release
    an earlier test's checkpoint while this one runs."""

    def failing_notifier(batch_df, batch_id):
        raise RuntimeError("notification service down")

    def persistent_rdd_ids() -> set[int]:
        keys = spark.sparkContext._jsc.sc().getPersistentRDDs().keys().iterator()
        ids = set()
        while keys.hasNext():
            ids.add(keys.next())
        return ids

    before = persistent_rdd_ids()
    with pytest.raises(RuntimeError, match="notification service down"):
        run_document_etl(
            spark, _requests(spark), str(tmp_path / "lake"), failing_notifier
        )
    assert persistent_rdd_ids() <= before
