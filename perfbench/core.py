"""The pass loop and the metrics. No Spark here, so it can be tested alone.

A workload is a list of ops. One pass runs every op once, in order, in a
single closed loop: the next op starts when the previous one returns.
The first pass is the cold pass; warm passes follow until ``seconds``
have gone by and a minimum number of them has run. An op's latency is
the wall time of its call; a pass's time is the sum of its ops'
latencies, so output checks and trace bookkeeping between ops are not
counted.
"""

from __future__ import annotations

import math
import statistics
import time
from collections.abc import Callable
from dataclasses import dataclass

# name -> unit; the order is the print order
END_TO_END = {
    "setup_s": "s",
    "warm_pass_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
}

PER_LAYER = {
    "memory.peak_rss_mb": "MB",
    "session.get_session_s": "s",
    "functions.register_udfs_s": "s",
    "functions.register_udfs_calls": "count",
    "cli.run_self_s": "s",
    "py4j.round_trips": "count",
    "spark.jobs": "count",
    "sources.awk.parse_s": "s",
    "sources.csv.parse_s": "s",
    "sources.base.finalize_s": "s",
    "sources.base.finalize_jobs": "count",
    "affinity.apply_affinity_calls": "count",
    "exec.result_s": "s",
    "serializers.row_s": "s",
    "serializers.rows": "count",
    "serializers.bytes_out": "bytes",
    "dialect.rewrite_s": "s",
    "dialect.rewrite_calls": "count",
    "catalyst.plan_s": "s",
    "cli.plans_per_statement": "ratio",
    "dml.run_s": "s",
    "dbfile.persist_s": "s",
    "operators.build_s": "s",
    "operators.build_cold_s": "s",
    "operators.prepared_hit_ratio": "ratio",
    "operators.cache_entries": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.executor_run_s": "s",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.peak_execution_memory_bytes": "bytes",
    "trace.warm_pass_s": "s",
    # one sample per run, so too noisy to gate on: reported here
    "cold.first_op_s": "s",
    "cold.pass_s": "s",
}


@dataclass
class Op:
    name: str
    call: Callable[[], object]
    # True/False, or None when the op is checked after the passes
    check: Callable[[object], bool | None]


def run_op(op: Op) -> dict:
    t0 = time.perf_counter()
    try:
        out, err = op.call(), None
    except Exception as e:  # an op that raises is a failed op
        out, err = None, f"{type(e).__name__}: {e}"[:500]
    dt = time.perf_counter() - t0
    rec = {"op": op.name, "s": dt, "ok": False if err else op.check(out), "err": err}
    if isinstance(out, str):
        rec["bytes"] = len(out.encode())
    return rec


def run_pass(ops: list[Op], around=None) -> list[dict]:
    """One pass. ``around(op, run_op)`` may wrap each op (traced mode)."""
    return [around(op, run_op) if around else run_op(op) for op in ops]


def warm_passes(make_ops, seconds: float, min_passes: int, deadline: float, around=None) -> list:
    """Warm passes until ``seconds`` have gone by and at least
    ``min_passes`` have run, but none that would start after the
    monotonic ``deadline``."""
    passes = []
    t0 = time.monotonic()
    while not passes or (
        (time.monotonic() - t0 < seconds or len(passes) < min_passes)
        and time.monotonic() < deadline
    ):
        passes.append(run_pass(make_ops(1 + len(passes)), around))
    return passes


def settle(records: list[dict], verdicts: dict[str, bool]) -> None:
    """Fill in the ops checked after the passes (ok is None)."""
    for r in records:
        if r["ok"] is None:
            r["ok"] = bool(verdicts.get(r["op"], False))


def tail(latencies: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples): the nearest-rank p90, or the highest
    percentile with at least ten samples above it when that is higher,
    but never the slowest sample, so one stalled op cannot set it. The
    p90 floor keeps the meaning the same when a faster program fits
    more passes into a run."""
    xs = sorted(latencies)
    n = len(xs)
    k = max(1, min(max(math.ceil(0.9 * n), n - 10), n - 1))  # 1-based rank
    return xs[k - 1], 100.0 * k / n, n


def pass_s(p: list[dict]) -> float:
    return sum(r["s"] for r in p)


def warm_latencies(res: dict) -> list[float]:
    return [r["s"] for p in res["warm"] for r in p]


def cold_figures(res: dict) -> dict[str, float]:
    """The first op in the fresh session and the whole cold pass."""
    return {"cold.first_op_s": res["cold"][0]["s"], "cold.pass_s": pass_s(res["cold"])}


def end_to_end(res: dict) -> dict[str, float]:
    lat = warm_latencies(res)
    return {
        "setup_s": res["setup_s"],
        "warm_pass_s": statistics.median(pass_s(p) for p in res["warm"]),
        "op_p50_s": statistics.median(lat),
        "op_tail_s": tail(lat)[0],
    }


def records(res: dict) -> list[dict]:
    return [r for p in [res["cold"], *res["warm"]] for r in p]


def result_line(res: dict, trace: bool) -> dict:
    recs = records(res)
    failed = sum(1 for r in recs if not r["ok"])
    if trace:
        layers = {**res["layers"], **cold_figures(res)}
        values, units = {k: layers.get(k, 0) for k in PER_LAYER}, PER_LAYER
    else:
        values, units = end_to_end(res), END_TO_END
    return {
        "correct": failed == 0,
        "attempted": len(recs),
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }
