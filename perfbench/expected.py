"""Regenerate ``perfbench/expected.json``: the expected result of every
registry query on the benchmark's committed sf0.001 tables.

    python3 perfbench/expected.py

The 120 oracle-backed queries are hashed from the DuckDB oracle under
parity.py's canonicalization. The one query without an oracle (q43)
is recorded by its row count only, taken from Spark.
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:] = [ROOT] + [p for p in sys.path
                        if os.path.abspath(p or ".") != os.path.dirname(os.path.abspath(__file__))]

from perfbench.checks import result_digest  # noqa: E402
from perfbench.queries import EXPECTED, SF_DIR  # noqa: E402

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def main() -> int:
    import duckdb

    from sbs_suptech_etl_v2_spark.registry import ORACLE, QUERIES

    out: dict[str, dict] = {}
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{SF_DIR}/{t}.parquet')")
    for name in sorted(ORACLE):
        cur = con.execute(ORACLE[name])
        cols = [d[0] for d in cur.description]
        rows = [dict(zip(cols, r)) for r in cur.fetchall()]
        h, n = result_digest(cols, rows)
        out[name] = {"hash": h, "rows": n}
    con.close()

    missing = sorted(set(QUERIES) - set(ORACLE))
    if missing:
        os.environ["PYTHONPATH"] = ROOT
        from sbs_suptech_etl_v2_spark.session import get_spark

        spark = get_spark(app_name="perfbench-expected", master="local[2]")
        for name in missing:
            out[name] = {"rows": QUERIES[name](spark, SF_DIR).count()}
        spark.stop()

    with open(EXPECTED, "w", encoding="utf-8") as fh:
        json.dump({"sf_dir": "perfbench/data/sf0.001", "queries": out}, fh,
                  indent=1, sort_keys=True)
        fh.write("\n")
    print(f"{len(out)} expectations -> {EXPECTED}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
