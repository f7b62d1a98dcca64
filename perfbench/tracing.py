"""Traced mode: spans and counts at the program's layer boundaries.

Nothing in the program is edited. ``Tracer.install`` replaces the public
functions named below with timing wrappers (``uninstall`` puts the
originals back before the output checks).

- a span is (name, start, end, parent span, op); spans stay in memory
  and are written out once, when the run ends;
- a layer's self time is its span time minus the time its child spans
  cover;
- every op runs in its own Spark job group, and ``fold_jobs`` reads that
  group's jobs and stages from Spark's status store after the op ends;
- py4j round trips are counted at ``send_command``.
"""

from __future__ import annotations

import json
import re
import statistics
import sys
import time
from collections import Counter, defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple] = []
        self.total: dict[str, float] = defaultdict(float)
        self.child: dict[str, float] = defaultdict(float)
        self.count: Counter = Counter()
        self.op = ""
        self._stack: list[int] = []
        self._patches: list[tuple] = []

    # ------------------------------------------------------- spans
    @contextmanager
    def span(self, name: str):
        rec = [name, time.time(), None, self._stack[-1] if self._stack else -1, self.op]
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            dt = time.perf_counter() - t0
            rec[2] = time.time()
            self._stack.pop()
            self.add(name, dt)

    def add(self, name: str, dt: float) -> None:
        """Account dt seconds to ``name`` and to its parent's child time."""
        self.total[name] += dt
        self.count[name] += 1
        if self._stack:
            self.child[self.spans[self._stack[-1]][0]] += dt

    def parent_name(self) -> str:
        return self.spans[self._stack[-1]][0] if self._stack else ""

    def snapshot(self) -> dict:
        return {
            "total": dict(self.total),
            "child": dict(self.child),
            "count": dict(self.count),
        }

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for name, start, end, parent, op in self.spans:
                f.write(
                    json.dumps(
                        {"name": name, "start": start, "end": end,
                         "parent": parent, "op": op}
                    )
                    + "\n"
                )

    # ----------------------------------------------------- wrappers
    def wrap(self, owner, attr: str, name: str) -> None:
        """Time calls of owner.attr as spans called ``name``."""
        orig = owner[attr] if isinstance(owner, dict) else getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return orig(*args, **kwargs)

        self._patch(owner, attr, wrapper)

    def counter(self, owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)
        count = self.count

        def wrapper(*args, **kwargs):
            count[name] += 1
            return orig(*args, **kwargs)

        self._patch(owner, attr, wrapper)

    def _patch(self, owner, attr: str, new) -> None:
        old = owner[attr] if isinstance(owner, dict) else getattr(owner, attr)
        self._patches.append((owner, attr, old))
        if isinstance(owner, dict):
            owner[attr] = new
        else:
            setattr(owner, attr, new)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, old = self._patches.pop()
            if isinstance(owner, dict):
                owner[attr] = old
            else:
                setattr(owner, attr, old)

    def install(self, workload: str) -> None:
        import py4j.clientserver
        import py4j.java_gateway
        from pyspark.sql import SparkSession
        from pyspark.sql.classic.dataframe import DataFrame

        from sqawk_spark import session

        self.counter(py4j.clientserver.ClientServerConnection, "send_command", "py4j.round_trips")
        self.counter(py4j.java_gateway.GatewayConnection, "send_command", "py4j.round_trips")
        self.wrap(session, "get_session", "session.get_session")
        self._wrap_sql(SparkSession)
        self._wrap_result(DataFrame)
        if workload.startswith("cli"):
            self._install_cli()

    def _wrap_sql(self, cls) -> None:
        orig = cls.sql
        tracer = self

        def sql(spark, *args, **kwargs):
            if tracer.parent_name() == "cli.statement":
                tracer.count["cli.plans"] += 1
            with tracer.span("catalyst.plan"):
                return orig(spark, *args, **kwargs)

        self._patch(cls, "sql", sql)

    def _wrap_result(self, cls) -> None:
        """Time toLocalIterator's row fetches, not the consumer's work."""
        orig = cls.toLocalIterator
        tracer = self

        def to_local_iterator(df, *args, **kwargs):
            t0 = time.perf_counter()
            it = iter(orig(df, *args, **kwargs))
            tracer.add("exec.result", time.perf_counter() - t0)
            while True:
                t0 = time.perf_counter()
                try:
                    row = next(it)
                except StopIteration:
                    tracer.add("exec.result", time.perf_counter() - t0)
                    return
                tracer.add("exec.result", time.perf_counter() - t0)
                yield row

        self._patch(cls, "toLocalIterator", to_local_iterator)

    def _install_cli(self) -> None:
        from sqawk_spark import cli, dbfile, dialect, dml, serializers
        from sqawk_spark.sources import PARSERS
        from sqawk_spark.sources import base as sources_base

        self.wrap(cli, "get_session", "session.get_session")
        self.wrap(cli, "run", "cli.run")
        self.wrap(cli, "register_udfs", "functions.register_udfs")
        self.wrap(cli, "_run_statement_with", "cli.statement")
        for fmt in list(PARSERS):
            self.wrap(PARSERS, fmt, f"sources.{fmt}.parse")
        self.wrap(sources_base.TableLoader, "finalize", "sources.base.finalize")
        self.counter(sources_base, "apply_affinity", "affinity.apply_affinity_calls")
        self.wrap(dialect, "rewrite_statement", "dialect.rewrite")
        self.wrap(dbfile, "persist_and_register", "dbfile.persist")
        self.wrap(dbfile, "persist_mutations", "dbfile.persist")
        self._wrap_dml(dml)
        for cls in serializers.SERIALIZERS.values():
            self.wrap(cls, "row", "serializers.row")

    def _wrap_dml(self, dml) -> None:
        """Only statements that turn out to be DML count as dml.run."""
        orig = dml.maybe_run_dml
        tracer = self

        def maybe_run_dml(*args, **kwargs):
            t0 = time.perf_counter()
            with tracer.span("dml.check"):
                target = orig(*args, **kwargs)
            if target:
                tracer.total["dml.run"] += time.perf_counter() - t0
                tracer.count["dml.run"] += 1
            return target

        self._patch(dml, "maybe_run_dml", maybe_run_dml)


def fold_jobs(spark, group: str, windows: dict[str, list[tuple[float, float]]]) -> dict:
    """Jobs and executed (not skipped) stages of one op's job group.

    ``windows`` maps a span name to its (start, end) wall-clock times;
    a job counts toward a span when it was submitted inside one of them.
    """
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    out: Counter = Counter()
    stage_ids: set[int] = set()
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        job = store.job(jid)
        out["spark.jobs"] += 1
        seq = job.stageIds()
        stage_ids.update(seq.apply(i) for i in range(seq.length()))
        submitted = job.submissionTime()
        if submitted.isDefined():
            t = submitted.get().getTime() / 1000.0
            for name, spans in windows.items():
                if any(a - 0.001 <= t <= b + 0.001 for a, b in spans):
                    out[f"{name}_jobs"] += 1
    peak = 0
    for sid in stage_ids:
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:  # a stage the status store never saw
            continue
        if st.status().toString() == "SKIPPED":
            continue
        out["exec.stages"] += 1
        out["exec.tasks"] += st.numCompleteTasks()
        out["exec.executor_run_s"] += st.executorRunTime() / 1000.0
        out["exec.shuffle_read_bytes"] += st.shuffleReadBytes()
        out["exec.shuffle_write_bytes"] += st.shuffleWriteBytes()
        out["exec.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        peak = max(peak, st.peakExecutionMemory())
    out["exec.peak_execution_memory_bytes"] = peak
    return dict(out)


# ------------------------------------------------- per-op accounting


def cache_entries() -> int:
    """Entries in the operators' session caches (module-level dicts)."""
    n = 0
    for mod_name, mod in list(sys.modules.items()):
        if not mod_name.startswith("sqawk_spark.operators") or mod is None:
            continue
        for attr, v in vars(mod).items():
            if re.fullmatch(r"_[A-Z_]*(CACHE|PREPARED|BUCKETED)", attr) and isinstance(v, dict):
                n += len(v)
    return n


class TracedOps:
    """``around`` hook for core.run_pass: job group, counter deltas and
    job/stage folding per op."""

    def __init__(self, tracer, spark, registry=None):
        self.tracer, self.spark, self.registry = tracer, spark, registry
        self.seq = 0

    def __call__(self, op, run):
        tr = self.tracer
        self.seq += 1
        group = f"perfbench-{self.seq}"
        self.spark.sparkContext.setJobGroup(group, op.name)
        tr.op = group
        first_span = len(tr.spans)
        prepared = len(self.registry._PREPARED) if self.registry else 0
        before = tr.snapshot()
        rec = run(op)
        after = tr.snapshot()
        delta = {
            part: Counter(after[part]) - Counter(before[part])
            for part in ("total", "child", "count")
        }
        if self.registry and op.name in self.registry.PREPARED_PLAN_QUERIES:
            delta["count"]["operators.prepared_calls"] += 1
            if len(self.registry._PREPARED) == prepared:
                delta["count"]["operators.prepared_hits"] += 1
        windows = {
            "sources.base.finalize": [
                (s[1], s[2]) for s in tr.spans[first_span:] if s[0] == "sources.base.finalize"
            ]
        }
        delta["fold"] = Counter(fold_jobs(self.spark, group, windows))
        rec["trace"] = {k: dict(v) for k, v in delta.items()}
        return rec


def pass_layers(p: list[dict]) -> dict[str, float]:
    t, ch, c, fold = Counter(), Counter(), Counter(), Counter()
    peak = 0
    for r in p:
        tr = r.get("trace", {})
        t.update(tr.get("total", {}))
        ch.update(tr.get("child", {}))
        c.update(tr.get("count", {}))
        f = Counter(tr.get("fold", {}))
        peak = max(peak, f.pop("exec.peak_execution_memory_bytes", 0))
        fold.update(f)
    out = {
        "functions.register_udfs_s": t["functions.register_udfs"],
        "functions.register_udfs_calls": c["functions.register_udfs"],
        "cli.run_self_s": t["cli.run"] - ch["cli.run"],
        "py4j.round_trips": c["py4j.round_trips"],
        "sources.awk.parse_s": t["sources.awk.parse"],
        "sources.csv.parse_s": t["sources.csv.parse"],
        "sources.base.finalize_s": t["sources.base.finalize"],
        "affinity.apply_affinity_calls": c["affinity.apply_affinity_calls"],
        "exec.result_s": t["exec.result"],
        "serializers.row_s": t["serializers.row"],
        "serializers.rows": c["serializers.row"],
        "serializers.bytes_out": sum(r.get("bytes", 0) for r in p),
        "dialect.rewrite_s": t["dialect.rewrite"],
        "dialect.rewrite_calls": c["dialect.rewrite"],
        "catalyst.plan_s": t["catalyst.plan"],
        "cli.plans_per_statement": (
            c["cli.plans"] / c["cli.statement"] if c["cli.statement"] else 0
        ),
        "dml.run_s": t["dml.run"],
        "dbfile.persist_s": t["dbfile.persist"],
        "operators.build_s": t["operators.build"],
        "operators.prepared_hit_ratio": (
            c["operators.prepared_hits"] / c["operators.prepared_calls"]
            if c["operators.prepared_calls"]
            else 0
        ),
        "exec.peak_execution_memory_bytes": peak,
    }
    for k in (
        "spark.jobs", "sources.base.finalize_jobs", "exec.stages", "exec.tasks",
        "exec.executor_run_s", "exec.shuffle_read_bytes", "exec.shuffle_write_bytes",
        "exec.spill_bytes",
    ):
        out[k] = fold[k]
    return out


def median_layers(passes: list[list[dict]]) -> dict[str, float]:
    per = [pass_layers(p) for p in passes]
    return {k: statistics.median(d[k] for d in per) for k in per[0]}
