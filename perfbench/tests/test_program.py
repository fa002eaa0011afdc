"""The generator's expected output equals one program run on a tiny
generated input, for every workload and both sink paths."""

import dataclasses

import pytest

from perfbench import gen, jobs


@pytest.fixture(scope="module")
def spark():
    from fluent_plugin_kubernetes_metadata_filter_spark.session import build_session

    s = build_session(app="perfbench-tests", master="local[2]", shuffle_partitions=2)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.mark.parametrize("name", sorted(gen.WORKLOADS))
def test_expected_counts_equal_a_program_run(spark, tmp_path, name):
    wl = dataclasses.replace(gen.WORKLOADS[name], turns=1500)
    inp = gen.generate(wl, 3, str(tmp_path / "in"))
    out = str(tmp_path / "out")
    counts = jobs.run_job(spark, inp, out, wl.resumable)
    assert counts == inp.expected_counts
    assert jobs.readback_errors(out, inp) == []


def test_readback_catches_a_wrong_sink(spark, tmp_path):
    wl = dataclasses.replace(gen.WORKLOADS["routed_write"], turns=1500)
    inp = gen.generate(wl, 3, str(tmp_path / "in"))
    out = str(tmp_path / "out")
    jobs.run_job(spark, inp, out, wl.resumable)
    sinks = inp.table["expected_sink"].to_pylist()
    swapped = inp.table.set_column(
        inp.table.column_names.index("expected_sink"), "expected_sink",
        [["default" if s != "default" else "kube-system" for s in sinks]])
    bad = dataclasses.replace(inp, table=swapped)
    assert jobs.readback_errors(out, bad) == [
        "rows landed in other sinks than the scenarios assign"]
