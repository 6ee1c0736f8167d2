"""Smoke test of the benchmark on tiny inputs.

Each workload runs a few operations through ``run.py`` in a fresh
process; every metric must be printed by name with its unit, every
oracle must pass, and a deliberately wrong oracle answer must make the
error rate positive.  Inputs: the directory named by
``PERFBENCH_SMOKE_DATA`` (``lineitem``/``orders``/``documents`` parquet,
e.g. the library's sf0.001 test data), else tiny generated fixtures.

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import data  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402


# largest share of operation wall time outside every wrapped layer
UNATTRIBUTED_TOLERANCE = 0.1


@pytest.fixture(scope="module")
def data_dir(tmp_path_factory):
    given = os.environ.get("PERFBENCH_SMOKE_DATA")
    if given:
        return given
    d = str(tmp_path_factory.mktemp("fixtures"))
    data.lineitem(d, n_orders=1_500, n_rows=6_000)
    data.orders(d, 1_500)
    data.documents(d, 120)
    return d


def bench(*args, prelude: str = "pass") -> tuple[list[str], dict]:
    code = (f"import sys; sys.path.insert(0, {HERE!r}); {prelude}; "
            f"import run; sys.exit(run.main({list(args)!r}))")
    p = subprocess.run([sys.executable, "-c", code], cwd=ROOT,
                       capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return lines, json.loads(lines[-1])


def args(workload, data_dir, trace=0, seed=1):
    return ["--workload", workload, "--seed", str(seed), "--seconds", "1",
            "--trace", str(trace), "--data", data_dir]


def printed(lines, name, unit):
    return any(ln.strip().startswith(f"{name} = ") and ln.strip().endswith(
        f" {unit}") for ln in lines)


def test_benchmark_json_matches_the_code():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == layers.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)


def assert_reported(lines, res, trace):
    """A clean run that printed every metric of its mode with its unit."""
    assert res["correct"] and res["failed"] == 0
    names = run.END_TO_END if trace == 0 else layers.PER_LAYER
    assert list(res["metrics"]) == [n for n, _u in names]
    for name, unit in names:
        assert res["metrics"][name]["unit"] == unit
        assert printed(lines, name, unit), name
    assert any("error_rate = 0 " in ln for ln in lines)


@pytest.mark.parametrize("workload", ["array_lookup", "fragment_churn"])
@pytest.mark.parametrize("trace", [0, 1])
def test_workload_runs_clean(workload, trace, data_dir):
    lines, res = bench(*args(workload, data_dir, trace))
    assert res["attempted"] > 1
    assert_reported(lines, res, trace)
    if trace:
        # the wrapped layers' self times account for the operations' wall
        # time up to the stated tolerance
        share = res["metrics"]["trace.unattributed_share"]["value"]
        assert 0 < share < UNATTRIBUTED_TOLERANCE


def test_wrong_oracle_answer_counts_as_error(data_dir):
    wrong = ("import lookup; ok = lookup.ArrayLookup._expect; "
             "lookup.ArrayLookup._expect = "
             "lambda self, *a, **k: (ok(self, *a, **k)[0] + 1, "
             "ok(self, *a, **k)[1])")
    lines, res = bench(*args("array_lookup", data_dir), prelude=wrong)
    assert not res["correct"] and res["failed"] > 0
    rate = [ln for ln in lines if "error_rate = " in ln][0]
    assert float(rate.split("=")[1].split()[0]) > 0


def test_corpus_pipeline_is_checked_and_deterministic(data_dir):
    """Untraced and traced runs of one seed write the same output, and the
    traced run reaches every chain operator."""
    digests = []
    for trace in (0, 1):
        lines, res = bench(*args("corpus_pipeline", data_dir, trace))
        assert_reported(lines, res, trace)
        assert any(ln.strip().startswith("pipeline_s = ") for ln in lines)
        with open(os.path.join(ROOT, ".perfbench", "out",
                               f"corpus_pipeline-seed1-trace{trace}.json")) as f:
            digests.append(json.load(f)["workload_detail"]["digests"])
    assert digests[0] == digests[1]
    for _m, fn in layers.CHAIN:
        assert res["metrics"][f"operators.{fn}.build_ms"]["value"] > 0, fn
