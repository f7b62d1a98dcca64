"""Snapshot of ``dialect.rewrite_statement``: every call the CLI
goldens, the fuzz and probe batteries and the SQLite property sweeps
made, with its output (or the exception type it raised), recorded
before the rewriter's scanners moved onto sqawk_spark/sqllex.py.
Replaying it needs no Spark: each entry must rewrite byte-identically.

An entry may only change together with a rewrite whose new output is
checked against SQLite; the changed entries are named in CHANGES.md."""

from __future__ import annotations

import gzip
import json
import os

from sqawk_spark.dialect import rewrite_statement

CORPUS = os.path.join(
    os.path.dirname(__file__), "data", "rewrite_snapshot.jsonl.gz"
)


def _replay(entry: dict) -> dict:
    columns = entry["columns"]
    try:
        out = rewrite_statement(
            entry["stmt"],
            None if columns is None else set(columns),
            entry["classes"],
        )
    except Exception as e:  # noqa: BLE001 - the type is the snapshot
        return {"error": type(e).__name__}
    return {"out": out}


def test_rewrite_snapshot():
    with gzip.open(CORPUS, "rt") as f:
        entries = [json.loads(line) for line in f]
    assert len(entries) > 1000
    diffs = []
    for e in entries:
        want = {k: e[k] for k in ("out", "error") if k in e}
        got = _replay(e)
        if got != want:
            diffs.append((e["stmt"], want, got))
    assert not diffs, (
        f"{len(diffs)} of {len(entries)} rewrites changed; first: "
        + "\n".join(f"{s!r}\n  want {w}\n  got  {g}" for s, w, g in diffs[:3])
    )
