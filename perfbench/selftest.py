#!/usr/bin/env python3
"""Checks that the benchmark's correctness checks can fail: deliberately
wrong answers and expectations must be counted. Needs no Spark.

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import sys

import pandas as pd

from common import digest, rejects_wrong, tail
from serve import Model

SEED = {0: "Customer#000000000", 1: "Customer#000000001", 2: "Customer#000000002"}


def _model_checks() -> list[str]:
    bad = []
    m = Model(SEED)
    row = {"id": 1, "content": SEED[1]}
    if not m.check("get", 1, None, row, 0.0, 0.1):
        bad.append("a correct point read was rejected")
    if m.check("get", 1, None, {"id": 1, "content": "wrong"}, 0.0, 0.1):
        bad.append("a point read with wrong content was accepted")
    if m.check("get", 7, None, {"id": 7, "content": "x"}, 0.0, 0.1):
        bad.append("a read of an absent id returning a row was accepted")
    table = [{"id": k, "content": v} for k, v in sorted(SEED.items())]
    if not m.check("list", None, None, table, 0.0, 0.1):
        bad.append("the correct table was rejected")
    if m.check("list", None, None, table[:-1], 0.0, 0.1):
        bad.append("a table missing a row was accepted")
    # acknowledged writes move the expectation
    if not m.check("put", 1, "new", {"id": 1, "content": "new"}, 1.0, 1.1):
        bad.append("a correct PUT was rejected")
    if m.check("get", 1, None, row, 2.0, 2.1):
        bad.append("a read of the pre-PUT value after the PUT was accepted")
    if not m.check("delete", 2, None, None, 3.0, 3.1):
        bad.append("a correct DELETE was rejected")
    if m.check("put", 2, "zombie", {"id": 2, "content": "zombie"}, 4.0, 4.1):
        bad.append("a PUT that re-created a deleted id was accepted")
    if not m.check("post", None, "p", {"id": 3, "content": "p"}, 5.0, 5.1):
        bad.append("a POST with the next IDENTITY key was rejected")
    if m.check("post", None, "q", {"id": 3, "content": "q"}, 6.0, 6.1):
        bad.append("a POST reusing an assigned key was accepted")
    if not m.posts_are_identity(3):
        bad.append("the POSTed keys were not recognised as contiguous")
    m.vals[0] = {"deliberately wrong"}
    table = [{"id": 0, "content": SEED[0]}, {"id": 1, "content": "new"}, {"id": 3, "content": "p"}]
    if m.matches_table(table):
        bad.append("a deliberately wrong expectation matched the table")
    return bad


def _digest_checks() -> list[str]:
    bad = []
    spark_side = pd.DataFrame(
        {
            "id": [2.0, 1.0, float("nan")],  # nullable long arrives as float
            "ts": pd.to_datetime(["2024-01-02 03:04:05.123456", "2024-01-01", None], format="ISO8601"),
            "v": [0.1, 2.5, 3.0],
        }
    )
    duck_side = pd.DataFrame(
        {
            "v": [3.0, 2.5, 0.1],
            "id": pd.array([None, 1, 2], dtype="Int64"),
            "ts": pd.to_datetime(
                [None, "2024-01-01", "2024-01-02 03:04:05.123456"], format="ISO8601"
            ).astype("datetime64[us]"),
        }
    )
    if digest(spark_side) != digest(duck_side):
        bad.append("equal results from Spark and DuckDB digest differently")
    if not rejects_wrong(spark_side, digest(duck_side)):
        bad.append("a corrupted result matched its expected digest")
    changed = spark_side.copy()
    changed.loc[1, "v"] = 2.5000001
    if digest(changed) == digest(spark_side):
        bad.append("a changed value did not change the digest")
    return bad


def _tail_checks() -> list[str]:
    bad = []
    if tail(list(range(100)))[0] != "p90":
        bad.append("100 samples should report p90")
    if tail(list(range(39)))[0] != "max":
        bad.append("39 samples should report the maximum")
    return bad


def main() -> int:
    bad = _model_checks() + _digest_checks() + _tail_checks()
    for b in bad:
        print(f"FAIL: {b}")
    print("selftest:", "FAILED" if bad else "ok")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
