"""Fast tests of the benchmark itself (sf0.001, tiny batches).

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

Run from the repository root.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402
from perfbench.checks import check_batch, query_matches, result_digest  # noqa: E402
from perfbench.tracing import Span, self_times, union_length  # noqa: E402

NOTIFY_TYPE = "regulatory-compliance-prompts.insert-metadata"


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


# -- generator ----------------------------------------------------------

def test_same_seed_same_inputs():
    for single in (False, True):
        a = [d.row for d in gen.make_batch(7, 3, 50, single)]
        assert a == [d.row for d in gen.make_batch(7, 3, 50, single)]
        assert a != [d.row for d in gen.make_batch(8, 3, 50, single)]
        assert a != [d.row for d in gen.make_batch(7, 4, 50, single)]


def test_generator_covers_the_input_shapes():
    docs = [d for b in range(200) for d in gen.make_batch(1, b, 10, b % 2 == 0)]
    types = {d.row[4] for d in docs}
    assert types == set(gen.DOCUMENT_TYPES)
    assert any(not d.row[-1] and not d.success for d in docs)  # empty payloads
    assert any(len(d.row[-1]) > 900_000 for d in docs)  # ~1 MB documents
    months = {d.row[5] for d in docs}
    assert months & set(gen.NUMERIC_MONTHS) and months & set(gen.INVALID_MONTHS)
    assert any(m.strip().lower() in gen.SPANISH_MONTHS for m in months)
    for b in range(20):
        flows = [gen.DOCUMENT_TYPES[d.row[4]] for d in gen.make_batch(1, b, 10, False)]
        assert min(flows.count(f) for f in ("polizas", "tasaciones", "inscripciones")) >= 2
        single = {d.row[4] for d in gen.make_batch(1, b, 10, True)}
        assert len(single) == 1  # two of the three flows run empty


# -- checkers -------------------------------------------------------------

class _FakeFrame:
    def __init__(self, rows):
        self.columns = ["a", "b"]
        self._rows = rows

    def collect(self):
        return self._rows


def test_query_checker_counts_corrupted_hash_and_raised_query():
    from perfbench.queries import verify_pass

    rows = [{"a": 1, "b": "x"}, {"a": 2, "b": None}]
    good = dict(zip(("hash", "rows"), result_digest(["a", "b"], rows)))

    def raising(spark, sf_dir):
        raise RuntimeError("boom")

    queries = {"ok": lambda s, d: _FakeFrame(rows), "bad": lambda s, d: _FakeFrame(rows),
               "raises": raising, "rows_only": lambda s, d: _FakeFrame(rows)}
    expected = {"ok": good, "bad": dict(good, hash="0" * 32), "raises": good,
                "rows_only": {"rows": 2}}
    assert query_matches(good, result_digest(["b", "a"], list(reversed(rows))))
    failed = verify_pass(None, list(queries), queries, expected)
    assert failed == 2
    assert failed / len(queries) > 0  # what fail_share reports


def _clean_outputs(docs, tmp_path):
    """The lake, K1 files and K3 chunks a correct ETL run produces."""
    txt = tmp_path / "txt"
    txt.mkdir()
    ok = [d for d in docs if d.success]
    for d in ok:
        (txt / f"{d.row[0]}.txt").write_text(d.k1_text, encoding="utf-8")
    entries = [{"Id": d.row[0], "MessageBody": json.dumps({
        "sessionId": d.row[3], "type": NOTIFY_TYPE,
        "data": {"recordId": d.row[0], "parentId": d.row[1]}})} for d in ok]
    chunks = [entries[i:i + 10] for i in range(0, len(entries), 10)]
    results = {d.row[0]: d.success for d in docs}
    lake = {d.row[0]: dict(d.metadata) for d in ok}
    return results, lake, str(txt), chunks


def _docs():
    docs = [d for b in range(40) for d in gen.make_batch(5, b, 10, False)]
    return [d for d in docs if len(d.row[-1]) < 100_000][:25] + \
        [d for d in docs if not d.success][:1]


def test_etl_checker_accepts_correct_outputs(tmp_path):
    docs = _docs()
    results, lake, txt, chunks = _clean_outputs(docs, tmp_path)
    assert check_batch(docs, results, lake, txt, chunks, NOTIFY_TYPE) == {}


def test_etl_checker_counts_dropped_notification(tmp_path):
    docs = _docs()
    results, lake, txt, chunks = _clean_outputs(docs, tmp_path)
    dropped = chunks[0].pop(3)["Id"]
    bad = check_batch(docs, results, lake, txt, chunks, NOTIFY_TYPE)
    assert list(bad) == [dropped]


def test_etl_checker_counts_each_kind_of_corruption(tmp_path):
    docs = _docs()
    results, lake, txt, chunks = _clean_outputs(docs, tmp_path)
    ok = [d.row[0] for d in docs if d.success]
    failed = next(d.row[0] for d in docs if not d.success)
    results[ok[0]] = False                          # wrong result flag
    lake[ok[1]]["period_year"] = "1999"             # wrong lake field
    os.remove(os.path.join(txt, f"{ok[2]}.txt"))    # missing K1 artifact
    chunks.append([dict(chunks[0][5])])             # duplicate notification
    chunks.append([{"Id": failed, "MessageBody": "{}"}])  # failed doc notified
    chunks.append(chunks[1] + chunks[2][:1])        # chunk of 11
    bad = check_batch(docs, results, lake, txt, chunks, NOTIFY_TYPE)
    assert {ok[0], ok[1], ok[2], chunks[0][5]["Id"], failed} <= set(bad)
    assert any("chunk of 11" in reason for reason in bad.values())


# -- tracing arithmetic ---------------------------------------------------

def test_union_length():
    assert union_length([]) == 0
    assert union_length([(0, 1), (2, 3)]) == 2
    assert union_length([(0, 2), (1, 3), (5, 5)]) == 3
    assert union_length([(0, 10), (2, 3)]) == 10


def test_self_time_arithmetic():
    spans = [
        Span(0, "batch", 0.0, 10.0, None, "b"),
        Span(1, "k1", 1.0, 4.0, 0, "b"),
        Span(2, "port", 2.0, 5.0, 0, "b"),     # overlaps k1: counted once
        Span(3, "k2", 6.0, 12.0, 0, "b"),      # clipped to the parent
        Span(4, "checkpoint", 7.0, 8.0, 3, "b"),
    ]
    self_s = self_times(spans)
    assert self_s["batch"] == pytest.approx(10 - (4 + 4))
    assert self_s["k1"] == pytest.approx(3)
    assert self_s["k2"] == pytest.approx(6 - 1)
    assert self_s["checkpoint"] == pytest.approx(1)


# -- the command ----------------------------------------------------------

def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "queries", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=170)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


@pytest.mark.parametrize("workload,trace", [("queries", 0), ("etl-microbatch", 1)])
def test_every_metric_is_printed_with_its_unit(workload, trace, monkeypatch, capsys):
    from perfbench import etl, queries, run

    monkeypatch.setattr(queries, "QUERY_SET", ("q01_pricing_summary", "q20_exact_dedup"))
    monkeypatch.setattr(etl, "BATCH_SIZE", 3)
    assert run.main(["--workload", workload, "--seed", "1", "--seconds", "0",
                     "--trace", str(trace)]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    spec = _spec()["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == \
        {m["name"]: m["unit"] for m in spec}
    assert all(isinstance(v["value"], (int, float)) for v in out["metrics"].values())
