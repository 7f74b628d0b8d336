"""Stored results of the registry twins too slow to run in every benchmark run.

    python3 perfbench/twins.py

runs each query of ``STORED`` through its unchanged ``oracle_sql()`` twin
over the benchmark's registry tables (``perfbench/data/sf0.001``) with
``tests/oracle_check.run_oracle`` and writes the result to
``perfbench/data/twins/<query>.parquet``, with ``<query>.json`` beside it
holding the SHA-256 of the twin's SQL and of each table, and the command
above.  The benchmark compares the query against the stored result only
while those hashes still hold; otherwise the check fails and the file has
to be written again with this command.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SF_DIR = os.path.join(HERE, "data", "sf0.001")
TWIN_DIR = os.path.join(HERE, "data", "twins")
COMMAND = "python3 perfbench/twins.py"
# dedup_clusters' twin takes about a minute at sf0.001 on a 4-core host
STORED = ("dedup_clusters",)


def _sha256(data: bytes) -> str:
    return hashlib.sha256(data).hexdigest()


def provenance(sql: str) -> dict:
    """What a stored result depends on: the twin's SQL and the tables."""
    tables = {}
    for name in sorted(os.listdir(SF_DIR)):
        with open(os.path.join(SF_DIR, name), "rb") as f:
            tables[name] = _sha256(f.read())
    return {"sql_sha256": _sha256(sql.encode()), "tables_sha256": tables}


def load(name: str, sql: str):
    """The stored twin result of ``name`` as a pandas frame; ValueError when
    the twin's SQL or the tables changed since it was written."""
    import pandas as pd

    with open(os.path.join(TWIN_DIR, f"{name}.json")) as f:
        meta = json.load(f)
    want = provenance(sql)
    for key in want:
        if meta[key] != want[key]:
            raise ValueError(f"{name}: {key} changed; rerun `{COMMAND}`")
    return pd.read_parquet(os.path.join(TWIN_DIR, f"{name}.parquet"))


def main() -> int:
    sys.path.insert(0, ROOT)
    import __spark_entry__ as entry
    from tests.oracle_check import run_oracle

    oracles = entry.oracle_sql()
    os.makedirs(TWIN_DIR, exist_ok=True)
    for name in STORED:
        t0 = time.perf_counter()
        result = run_oracle(oracles[name], SF_DIR)
        result.to_parquet(os.path.join(TWIN_DIR, f"{name}.parquet"), index=False)
        meta = dict(provenance(oracles[name]), query=name, command=COMMAND, rows=len(result))
        with open(os.path.join(TWIN_DIR, f"{name}.json"), "w") as f:
            json.dump(meta, f, indent=2, sort_keys=True)
            f.write("\n")
        print(f"{name}: {len(result)} rows in {time.perf_counter() - t0:.1f} s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
