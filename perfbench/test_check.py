"""Failure counting of the correctness check (no Spark needed)."""

from __future__ import annotations

import os
import sys
from types import SimpleNamespace

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import run  # noqa: E402
import stats  # noqa: E402


def canon(pdf):
    cols = sorted(pdf.columns)
    return cols, sorted(tuple(str(v) for v in row) for row in pdf[cols].itertuples(index=False))


ORACLES = {
    "same": pd.DataFrame({"a": [1, 2]}),
    "empty": pd.DataFrame({"a": []}),
    "differs": pd.DataFrame({"a": [1, 3]}),
    "raised": pd.DataFrame({"a": [1]}),
}


def test_check_counts_mismatches_and_not_exceptions_twice(monkeypatch):
    monkeypatch.setattr(run, "load_driver_check", lambda: SimpleNamespace(canon=canon))
    bench = run.Bench(SimpleNamespace(workload="curation", trace=0, seed=0))
    bench.registry = SimpleNamespace(ORACLE={q: "sql" for q in ORACLES})
    monkeypatch.setattr(bench, "oracle_canon", lambda q, dc: canon(ORACLES[q]))
    # as after a cold pass of five queries, one of which raised
    bench.attempted, bench.failed = 5, 1
    outputs = {
        "same": pd.DataFrame({"a": [2, 1]}),
        "empty": pd.DataFrame({"a": []}),
        "differs": pd.DataFrame({"a": [1, 2]}),
        "raised": RuntimeError("boom"),
        "no_oracle": pd.DataFrame({"a": [7]}),
    }
    verdicts = bench.check_outputs(outputs)
    assert {q: v["status"] for q, v in verdicts.items()} == {
        "same": "ok",
        "empty": "vacuous",
        "differs": "mismatch",
        "raised": "error",
        "no_oracle": "rows-only",
    }
    assert bench.failed == 2  # the exception and the mismatch, once each
    assert stats.error_rate(bench.attempted, bench.failed) == 2 / 5
