"""pysqawk benchmark: one workload, one run, one process.

    python3 perfbench/run.py --workload cli_small --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The run

1. makes the workload's inputs from the seed under perfbench/_work/;
2. times set-up: import, ``session.get_session`` and one trivial job;
3. runs a cold pass over the workload's ops, then warm passes until
   ``--seconds`` have gone by and at least three of them have run, as
   one closed-loop client on one Spark session at local[nproc/2];
4. checks every op's output against an independent oracle (SQLite for
   CLI ops, DuckDB for registry queries), outside the timed passes;
5. prints one line per metric, then, as the last line, one JSON object
   with the keys correct, attempted, failed and metrics. --trace 0
   reports the end-to-end metrics, --trace 1 the per-layer ones (see
   perfbench/README.md).
"""

from __future__ import annotations

import argparse
import io
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import core  # noqa: E402
import workloads  # noqa: E402

WORKLOADS = ("cli_small", "registry")
# warm passes a run makes at least, so that the warm figures are
# medians over several passes even when one pass outlasts --seconds
MIN_WARM_PASSES = 3
# registry tables: a copy of the sf0.01 tables the repo's oracle tests use
REGISTRY_DIR = os.path.join(HERE, "data", "sf0.01")
# a run must end within 180 s; no warm pass starts after this
BUDGET_S = 140


def setup_env(work: str) -> None:
    """Keep Spark's scratch files in the run's work dir; local[nproc/2].

    Half the CPUs: a task of a pandas-UDF stage (the CLI's awk and CSV
    sources are such stages) keeps a Python worker busy beside its JVM
    thread, so local[nproc] runs up to twice as many threads as CPUs
    and times the scheduler of a shared host more than the program; at
    local[nproc] ten runs spread wider (perfbench/README.md).
    """
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(max(1, len(os.sched_getaffinity(0)) // 2)),
        PYTHONPATH=ROOT + os.pathsep + os.environ.get("PYTHONPATH", ""),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        SPARK_SUBMIT_OPTS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )


def cli_ops(files: dict[str, str], work: str, cli):
    expected = {op.name: workloads.cli_expected(op, files) for op in workloads.CLI_OPS}

    def make(pass_no: int) -> list[core.Op]:
        # every pass writes a fresh dbfile, so every pass does the same work
        db = os.path.join(work, f"pass{pass_no}.db")
        ops = []
        for op in workloads.CLI_OPS:
            def call(argv=workloads.cli_argv(op, files, db)):
                buf = io.StringIO()
                rc = cli.run(argv, out=buf)
                if rc != 0:
                    raise RuntimeError(f"exit code {rc}")
                return buf.getvalue()

            ops.append(core.Op(op.name, call, lambda out, e=expected[op.name]: out == e))
        return ops

    return make


def build_query(builder, spark, sf_dir):
    """The registry ops' builder call; traced mode wraps it as operators.build."""
    return builder(spark, sf_dir)


def registry_ops(seed: int, spark, registry):
    # the seed sets the query order of each pass; every pass starts
    # with the same query, so cold.first_op_s times one query on all seeds
    rng = random.Random(f"order-{seed}")
    first, *rest = workloads.REGISTRY_QUERIES
    orders = [[first, *rng.sample(rest, len(rest))] for _ in range(8)]

    def make(pass_no: int) -> list[core.Op]:
        ops = []
        for name in orders[pass_no % len(orders)]:
            def call(builder=registry.REGISTRY[name].builder):
                df = sys.modules[__name__].build_query(builder, spark, REGISTRY_DIR)
                df.write.format("noop").mode("overwrite").save()

            ops.append(core.Op(name, call, lambda out: None))
        return ops

    return make


def registry_verdicts(spark, registry) -> dict[str, bool]:
    """Compare every query with its DuckDB digest, outside the passes."""
    expected = workloads.registry_expected(workloads.REGISTRY_QUERIES, REGISTRY_DIR)
    verdicts = {}
    for name, want in expected.items():
        try:
            df = registry.REGISTRY[name].builder(spark, REGISTRY_DIR)
            got = workloads.rows_digest(df.columns, [tuple(r) for r in df.collect()])
            verdicts[name] = got == want
        except Exception as e:
            print(f"check {name}: {type(e).__name__}: {e}"[:500], file=sys.stderr)
            verdicts[name] = False
        if not verdicts[name]:
            print(f"check {name}: wrong output", file=sys.stderr)
    return verdicts


def vm_hwm_mb(pid: int | str) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def children_of(pid: int) -> list[int]:
    kids = []
    for d in os.listdir("/proc"):
        try:
            with open(f"/proc/{d}/stat") as f:
                if int(f.read().rsplit(")", 1)[1].split()[1]) == pid:
                    kids.append(int(d))
        except (OSError, ValueError, IndexError):
            pass
    return kids


def stop_spark(spark) -> None:
    """Stop the session and its JVM; wait for the JVM's Python workers,
    which exit when it does."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    jvm = gateway.proc
    workers = children_of(jvm.pid)
    spark.stop()
    gateway.shutdown()
    jvm.stdin.close()
    try:
        jvm.wait(timeout=30)
    except subprocess.TimeoutExpired:
        jvm.kill()
        jvm.wait()
    end = time.monotonic() + 10
    for pid in workers:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < end:
            time.sleep(0.05)
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass


def measure(args, work: str) -> dict:
    started = time.monotonic()
    traced = bool(args.trace)
    cli_workload = args.workload.startswith("cli")
    app = "pysqawk" if cli_workload else "sqawk_spark"
    if cli_workload:
        import gen

        files = gen.cli_inputs(args.seed, os.path.join(work, "in"))
    t0 = time.perf_counter()
    from sqawk_spark import session

    if cli_workload:
        from sqawk_spark import cli

        registry = None
    else:
        import sqawk_spark.operators as operators

        operators.load_all()
        from sqawk_spark.operators import registry
    tracer = None
    if traced:
        import tracing

        tracer = tracing.Tracer()
        tracer.install(args.workload)
        tracer.wrap(sys.modules[__name__], "build_query", "operators.build")
    spark = session.get_session(app_name=app)
    spark.range(1).count()
    res = {"setup_s": time.perf_counter() - t0}

    try:
        if cli_workload:
            make = cli_ops(files, work, cli)
        else:
            make = registry_ops(args.seed, spark, registry)
        around = tracing.TracedOps(tracer, spark, registry) if traced else None
        res["cold"] = core.run_pass(make(0), around)
        layers = {}
        if traced:
            layers["session.get_session_s"] = tracer.spans[0][2] - tracer.spans[0][1]
            layers["operators.build_cold_s"] = tracing.pass_layers(res["cold"])["operators.build_s"]
            layers["operators.cache_entries"] = tracing.cache_entries()
        deadline = started + BUDGET_S
        res["warm"] = core.warm_passes(
            make, args.seconds, MIN_WARM_PASSES, deadline, around
        )
        layers["memory.peak_rss_mb"] = vm_hwm_mb("self") + vm_hwm_mb(
            spark.sparkContext._gateway.proc.pid
        )
        if traced:
            tracer.uninstall()
            layers.update(tracing.median_layers(res["warm"]))
            layers["trace.warm_pass_s"] = statistics.median(
                core.pass_s(p) for p in res["warm"]
            )
            spans = os.path.join(HERE, "_runs")
            os.makedirs(spans, exist_ok=True)
            tracer.write(os.path.join(spans, f"spans-{args.workload}-{args.seed}.jsonl"))
        res["layers"] = layers
        if registry is not None:
            core.settle(core.records(res), registry_verdicts(spark, registry))
    finally:
        stop_spark(spark)
    return res


def _exit_on_signal(signum, frame):
    raise SystemExit(128 + signum)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # run the cleanup in finally blocks when the run is stopped
    signal.signal(signal.SIGTERM, _exit_on_signal)

    if not os.path.isfile(os.path.join(ROOT, "sqawk_spark", "__init__.py")):
        print(f"error: no sqawk_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    work = os.path.join(HERE, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cwd = os.getcwd()
    try:
        setup_env(work)
        # Spark writes spark-warehouse/ and derby files into the cwd
        os.chdir(work)
        res = measure(args, work)
    finally:
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)

    line = core.result_line(res, bool(args.trace))
    for r in core.records(res):
        if not r["ok"]:
            print(f"FAILED {r['op']}: {r['err'] or 'wrong output'}", file=sys.stderr)
    for name, m in line["metrics"].items():
        print(f"{args.workload} {name} {m['value']:.6g} {m['unit']}")
    if not args.trace:
        value, pct, n = core.tail(core.warm_latencies(res))
        above = n - round(n * pct / 100)
        print(f"{args.workload} op_tail_s is p{pct:.0f} of {n} warm ops ({above} above it)")
        print(f"{args.workload} warm passes {len(res['warm'])}")
        for name, v in core.cold_figures(res).items():
            print(f"{args.workload} {name} {v:.6g} s (one sample per run, not gated)")
    print(
        f"{args.workload} fail_ratio {line['failed'] / line['attempted']:.6g} "
        f"({line['failed']} of {line['attempted']} ops)"
    )
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
