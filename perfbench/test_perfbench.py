"""Self-tests of the benchmark (no Spark needed):

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import core  # noqa: E402
import gen  # noqa: E402
import workloads  # noqa: E402


def _read_all(d: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name] = f.read()
    return out


def test_cli_inputs_are_deterministic(tmp_path):
    gen.cli_inputs(7, str(tmp_path / "a"))
    gen.cli_inputs(7, str(tmp_path / "b"))
    gen.cli_inputs(8, str(tmp_path / "c"))
    a, b, c = (_read_all(str(tmp_path / x)) for x in "abc")
    assert a == b
    assert a.keys() == c.keys() and a != c


def test_cli_oracle_renders_sqawk_formats(tmp_path):
    files = gen.cli_inputs(1, str(tmp_path))
    outs = {op.name: workloads.cli_expected(op, files) for op in workloads.CLI_OPS}
    assert all(outs.values())
    assert outs["csv_dml_json"].startswith('[{"id":"') and outs["csv_dml_json"].endswith("}]\n")
    assert outs["groupby_mixed"].startswith("┌") and outs["groupby_mixed"].endswith("┘\n")
    assert workloads.render("table", ["x", "y"], [["1", "abc"], ["22", ""]]) == (
        "┌──┬───┐\n│1 │abc│\n├──┼───┤\n│22│   │\n└──┴───┘\n"
    )


def _fake_run(ops, passes=2):
    res = {"setup_s": 1.0, "cold": core.run_pass(ops)}
    res["warm"] = [core.run_pass(ops) for _ in range(passes)]
    return res


def test_corrupted_output_counts_as_failure():
    ops = [
        core.Op("good", lambda: "x\n", lambda out: out == "x\n"),
        core.Op("corrupt", lambda: "y\n", lambda out: out == "x\n"),
    ]
    line = core.result_line(_fake_run(ops), trace=False)
    assert line["attempted"] == 6 and line["failed"] == 3
    assert line["correct"] is False


def test_raising_op_counts_as_failure():
    def boom():
        raise RuntimeError("no")

    ops = [
        core.Op("good", lambda: "x", lambda out: True),
        core.Op("boom", boom, lambda out: True),
    ]
    res = _fake_run(ops)
    line = core.result_line(res, trace=False)
    assert line["failed"] == 3
    assert res["cold"][1]["err"] == "RuntimeError: no"


def test_late_checks_settle_deferred_ops():
    ops = [core.Op("q1", lambda: None, lambda out: None), core.Op("q2", lambda: None, lambda out: None)]
    res = _fake_run(ops)
    core.settle(core.records(res), {"q1": True, "q2": False})
    line = core.result_line(res, trace=False)
    assert line["attempted"] == 6 and line["failed"] == 3


def test_tail_is_p90_or_ten_samples_from_the_top_but_never_the_max():
    assert core.tail([float(i) for i in range(1, 201)]) == (190.0, 95.0, 200)
    assert core.tail([float(i) for i in range(1, 41)]) == (36.0, 90.0, 40)
    assert core.tail([6.0, 1.0, 5.0, 2.0, 3.0, 4.0]) == (5.0, 500 / 6, 6)
    assert core.tail([3.0]) == (3.0, 100.0, 1)


def test_metric_names_and_units_match_benchmark_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    ops = [core.Op("a", lambda: "x", lambda out: True)]
    res = _fake_run(ops)
    res["layers"] = {}
    for trace, key in ((False, "end_to_end"), (True, "per_layer")):
        printed = core.result_line(res, trace)["metrics"]
        want = {m["name"]: m["unit"] for m in spec[key]}
        assert {k: v["unit"] for k, v in printed.items()} == want
    names = {w["name"] for w in spec["workloads"]}
    import run

    assert names == set(run.WORKLOADS)
