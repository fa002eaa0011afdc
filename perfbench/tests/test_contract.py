"""run.py reports what BENCHMARK.json declares, and fails where the
program is missing."""

import json
import os
import re
import shutil
import subprocess
import sys

from perfbench import run

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_metric_names_and_units_match_the_runner():
    s = spec()
    assert {m["name"]: m["unit"] for m in s["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in s["per_layer"]} == run.PER_LAYER


def test_spec_is_within_the_format_limits():
    s = spec()
    assert set(s) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    names = [w["name"] for w in s["workloads"]]
    names += [m["name"] for m in s["end_to_end"] + s["per_layer"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    assert all(UNIT.match(m["unit"]) for m in s["end_to_end"] + s["per_layer"])
    assert all(0 < m["bound"] <= 0.25 for m in s["end_to_end"])
    assert {"name": "setup_s", "unit": "s", "better": "lower"}.items() <= next(
        m for m in s["end_to_end"] if m["name"] == "setup_s").items()
    assert max(m["bound"] for m in s["end_to_end"]) == next(
        m["bound"] for m in s["end_to_end"] if m["name"] == "setup_s")
    from perfbench import gen
    assert set(names[: len(s["workloads"])]) <= set(gen.WORKLOADS)
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in s["workloads"])


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "routed_write", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
