"""The seeded generator: determinism, seed sensitivity, scenario mix."""

import dataclasses
import os
from collections import Counter

import pyarrow.compute as pc
import pytest

from perfbench import gen

SMALL = 3000


def small(name: str) -> gen.Workload:
    return dataclasses.replace(gen.WORKLOADS[name], turns=SMALL)


def file_bytes(d: str) -> dict[str, bytes]:
    out = {}
    for root, _, files in os.walk(d):
        for f in files:
            p = os.path.join(root, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = fh.read()
    return out


def conv_shares(inp: gen.Inputs) -> Counter:
    """Conversations per scenario."""
    convs = set(zip(inp.table["conv_id"].to_pylist(), inp.table["scenario"].to_pylist()))
    return Counter(s for _, s in convs)


@pytest.mark.parametrize("name", sorted(gen.WORKLOADS))
def test_same_seed_gives_byte_identical_inputs(tmp_path, name):
    a = gen.generate(small(name), 5, str(tmp_path / "a"))
    b = gen.generate(small(name), 5, str(tmp_path / "b"))
    fa, fb = file_bytes(a.dir), file_bytes(b.dir)
    assert sorted(fa) == ["namespaces_dim.parquet", "pods_dim.parquet",
                          os.path.join("transcripts", "part-00000.parquet")]
    assert fa == fb
    assert a.expected_counts == b.expected_counts


@pytest.mark.parametrize("name", sorted(gen.WORKLOADS))
def test_other_seed_gives_other_rows_with_the_same_mix(tmp_path, name):
    a = gen.generate(small(name), 5, str(tmp_path / "a"))
    b = gen.generate(small(name), 6, str(tmp_path / "b"))
    assert set(a.table["tool"].to_pylist()) != set(b.table["tool"].to_pylist())
    assert set(a.table["text"].to_pylist()).isdisjoint(b.table["text"].to_pylist())
    assert conv_shares(a) == conv_shares(b)
    assert a.expected_counts == b.expected_counts  # the shape does not depend on the seed


@pytest.mark.parametrize("name", sorted(gen.WORKLOADS))
def test_every_enrichment_branch_appears(tmp_path, name):
    inp = gen.generate(small(name), 5, str(tmp_path))
    scen = set(inp.table["scenario"].to_pylist())
    expected = {s for s, _ in gen.SCENARIOS} - (set() if gen.WORKLOADS[name].hot else {"hot"})
    assert scen == expected
    assert pc.sum(pc.equal(inp.table["tool"], "")).as_py() > 0  # empty tool
    sinks = set(inp.expected_counts)
    assert {gen.PASSTHROUGH, gen.ORPHANED, "default"} <= sinks


def test_unique_tags_share_everything_but_the_tag(tmp_path):
    """unique_tags_resumable has routed_write's rows and sinks, with a
    tag of its own on every non-empty turn."""
    seed = 9
    rw = gen.generate(small("routed_write"), seed, str(tmp_path / "rw"))
    ut = gen.generate(small("unique_tags_resumable"), seed, str(tmp_path / "ut"))
    assert rw.expected_counts == ut.expected_counts
    assert rw.table.drop_columns(["tool"]).equals(ut.table.drop_columns(["tool"]))
    tags = [t for t in ut.table["tool"].to_pylist() if t]
    assert len(set(tags)) == len(tags)
    assert rw.properties["parse.distinct_tag_frac"] < 0.05 < 0.85 < ut.properties["parse.distinct_tag_frac"]


def test_workload_properties(tmp_path):
    rw = gen.generate(gen.WORKLOADS["routed_write"], 1, str(tmp_path / "rw"))
    assert rw.properties["io.sinks"] == 26
    assert 0.4 < rw.properties["route.hot_sink_frac"] < 0.6
    ms = gen.generate(gen.WORKLOADS["many_sinks"], 1, str(tmp_path / "ms"))
    assert ms.properties["io.sinks"] > 100
    assert ms.properties["route.hot_sink_frac"] < 0.25
