"""Correctness fingerprints for the query workloads.

A fingerprint is ``(row count, sha256 of the parity gate's canon
output)``. The expected one comes from the query's DuckDB twin in
``oracle_sql()`` over the same generated tables; the observed one from
the Spark result. ``canon`` and ``run_oracle`` are imported from the
parity gate itself (``tests/test_oracle_parity.py``), so the benchmark
applies exactly the comparison the oracle gate applies.
"""

from __future__ import annotations

import hashlib

import pandas as pd

import __spark_entry__ as entrymod
from tests.test_oracle_parity import canon, run_oracle


def fingerprint(df: pd.DataFrame) -> tuple[int, str]:
    cols, rows = canon(df)
    digest = hashlib.sha256(repr((cols, rows)).encode()).hexdigest()
    return len(rows), digest


def oracle_fingerprints(names: list[str], sf_dir: str) -> dict[str, tuple[int, str]]:
    sqls = entrymod.oracle_sql()
    return {name: fingerprint(run_oracle(sqls[name], sf_dir)) for name in names}
