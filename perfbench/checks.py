"""Output checkers: registry query results against the committed expected
hashes, and every generated document against its expected ETL outcome.

Both return the number of failed units, which feeds ``fail_share``.
"""

from __future__ import annotations

import json
import os

from parity import _canon, _grid_hash  # the oracle audit's canonicalization

from perfbench.gen import Doc

SQS_BATCH_MAX = 10


def result_digest(columns: list[str], rows) -> tuple[str, int]:
    """(grid hash, row count) of a result under parity.py's rules:
    columns sorted by name, cells canonicalized, rows sorted."""
    cols = sorted(columns)
    grid = sorted(tuple(_canon(r[c]) for c in cols) for r in rows)
    return _grid_hash(cols, grid), len(grid)


def query_matches(expected: dict, digest: tuple[str, int]) -> bool:
    """An oracle-backed entry carries a hash; a rows-only entry (q43)
    only its row count."""
    h, n = digest
    if "hash" in expected:
        return expected["hash"] == h and expected["rows"] == n
    return expected["rows"] == n


def read_chunks(spool_dir: str) -> list[list[dict]]:
    """Every notification chunk the spool client recorded."""
    chunks = []
    for name in sorted(os.listdir(spool_dir)):
        with open(os.path.join(spool_dir, name), encoding="utf-8") as fh:
            chunks.append(json.load(fh))
    return chunks


def check_batch(
    docs: list[Doc],
    results: dict[str, bool],
    lake_meta: dict[str, dict[str, str]],
    txt_dir: str,
    chunks: list[list[dict]],
    notification_type: str,
) -> dict[str, str]:
    """Check every document of one batch; return {record_id: reason}
    for each document whose outcome differs from the expectation.

    ``results`` is the plan's {record_id: success}; ``lake_meta`` the
    lake's metadata map per record; ``chunks`` the K3 sends of this
    batch.
    """
    bad: dict[str, str] = {}
    sent: dict[str, list[dict]] = {}
    for chunk in chunks:
        for entry in chunk:
            sent.setdefault(entry["Id"], []).append(entry)
            if len(chunk) > SQS_BATCH_MAX:
                bad[entry["Id"]] = f"K3 chunk of {len(chunk)} > {SQS_BATCH_MAX}"
    ids = {d.row[0] for d in docs}
    for rid in set(sent) - ids:
        bad[rid] = "K3 notification for an unknown record"
    for d in docs:
        rid, parent, session = d.row[0], d.row[1], d.row[3]
        if rid in bad:
            continue
        if results.get(rid) is not d.success:
            bad[rid] = f"success={results.get(rid)} expected {d.success}"
            continue
        notes = sent.get(rid, [])
        path = os.path.join(txt_dir, f"{rid}.txt")
        if not d.success:
            if notes:
                bad[rid] = "failed document was notified"
            elif rid in lake_meta:
                bad[rid] = "failed document reached the lake"
            elif os.path.exists(path):
                bad[rid] = "failed document has a K1 artifact"
            continue
        if lake_meta.get(rid) != d.metadata:
            bad[rid] = f"lake metadata {lake_meta.get(rid)} expected {d.metadata}"
            continue
        if not os.path.exists(path):
            bad[rid] = "K1 artifact missing"
            continue
        with open(path, encoding="utf-8") as fh:
            if fh.read() != d.k1_text:
                bad[rid] = "K1 artifact text differs"
                continue
        if len(notes) != 1:
            bad[rid] = f"{len(notes)} K3 notifications, expected 1"
            continue
        body = json.loads(notes[0]["MessageBody"])
        want = {"sessionId": session, "type": notification_type,
                "data": {"recordId": rid, "parentId": parent}}
        if body != want:
            bad[rid] = f"K3 body {body} expected {want}"
    return bad
