"""The routed enrich job as the benchmark runs it, the layer cuts of the
traced run, and the checks on its output.

The job is composed the way ``pipeline.run`` and ``scripts/submit_job.py``
compose it: ``pipeline.routed_frames``, then either ``io.write_routed`` and
``pipeline.written_sink_counts``, or ``checkpoint.input_snapshot_id`` and
``checkpoint.resumable_fanout_write``. Only public functions of the
package are called.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time
from collections.abc import Callable, Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
from pyspark.sql import DataFrame, SparkSession

from fluent_plugin_kubernetes_metadata_filter_spark import (
    checkpoint,
    enrich,
    io,
    parse,
    pipeline,
    route,
)
from fluent_plugin_kubernetes_metadata_filter_spark.config import PipelineConfig
from fluent_plugin_kubernetes_metadata_filter_spark.metrics import PipelineStats

from perfbench.gen import Inputs

EMIT_COLS = pipeline.INPUT_COLS + ["turn_seq", "kubernetes_meta", "docker_meta", "namespace_name"]


class Tracer:
    """In-memory spans (name, start, end, parent, run id), each optionally
    tagging the Spark jobs it starts with a job group."""

    def __init__(self, spark: SparkSession):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.run_id = ""
        self._open: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, group: bool = False) -> Iterator[dict]:
        rec = {
            "name": name,
            "run": self.run_id,
            "parent": self._open[-1] if self._open else None,
            "group": f"{self.run_id}/{name}" if group else None,
        }
        self._open.append(len(self.spans))
        self.spans.append(rec)
        if group:
            self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            if group:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._open.pop()

    def seconds(self, name: str, run: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and s["run"] == run]


def _span(tr: Tracer | None, name: str, group: bool = False):
    return tr.span(name, group) if tr else contextlib.nullcontext()


def read_dims(spark: SparkSession, inp: Inputs) -> tuple[DataFrame, DataFrame]:
    return spark.read.parquet(inp.pods), spark.read.parquet(inp.namespaces)


def read_inputs(spark: SparkSession, inp: Inputs) -> tuple[DataFrame, DataFrame, DataFrame]:
    return (io.read_transcripts(spark, inp.transcripts), *read_dims(spark, inp))


def run_job(spark: SparkSession, inp: Inputs, out_dir: str, resumable: bool,
            cfg: PipelineConfig = PipelineConfig(), tr: Tracer | None = None) -> dict[str, int]:
    """One routed job, from the first layer call until the per-sink counts
    are returned. The resumable path writes into an empty manifest."""
    with _span(tr, "io.read"):
        src, pods, ns = read_inputs(spark, inp)
    with _span(tr, "pipeline.routed_frames"):
        df = pipeline.routed_frames(src, pods, ns, cfg)
    return _sink(spark, inp, lambda: df, out_dir, resumable, cfg, tr)


def write_cut(spark: SparkSession, inp: Inputs, out_dir: str, resumable: bool,
              cfg: PipelineConfig, tr: Tracer) -> dict[str, int]:
    """The last cut: a sink path (the resumable one or the routed write)
    in place of the noop sink, each sink call in its own span and job
    group."""
    return _sink(spark, inp, cuts(spark, inp, cfg)[-1][1], out_dir, resumable, cfg, tr, group=True)


def _sink(spark: SparkSession, inp: Inputs, frame: Callable[[], DataFrame], out_dir: str,
          resumable: bool, cfg: PipelineConfig, tr: Tracer | None, group: bool = False) -> dict[str, int]:
    """Write ``frame()`` (built inside the write span) and return the
    per-sink counts."""
    if resumable:
        with _span(tr, "checkpoint.snapshot", group):
            snap = checkpoint.input_snapshot_id(spark, inp.transcripts)
        with _span(tr, "checkpoint.write", group):
            manifest = checkpoint.LineageManifest(out_dir + ".manifest")
            recs = checkpoint.resumable_fanout_write(frame(), out_dir, manifest, snap, cfg.route_column)
        return {r.sink: r.rows for r in recs}
    with _span(tr, "io.write", group):
        io.write_routed(frame(), out_dir, cfg.route_column)
    with _span(tr, "pipeline.sink_count", group):
        counts = pipeline.written_sink_counts(out_dir, cfg.route_column)
    if counts is None:
        raise RuntimeError("written_sink_counts declined the output: too many files")
    return dict(counts)


def collect_garbage(spark: SparkSession) -> None:
    """A full garbage collection in the driver JVM, through SQL's
    ``reflect``: at ``local[N]`` the one task runs in the driver."""
    spark.range(1).selectExpr("reflect('java.lang.System', 'gc')").collect()


def remove_output(out_dir: str) -> None:
    shutil.rmtree(out_dir, ignore_errors=True)
    shutil.rmtree(out_dir + ".manifest", ignore_errors=True)


# ----------------------------------------------------------------- cuts

def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def cuts(spark: SparkSession, inp: Inputs, cfg: PipelineConfig) -> list[tuple[str, Callable[[], DataFrame]]]:
    """Cumulative cuts of ``pipeline.routed_frames``: each adds one layer
    call to the previous one. A layer's self time is its cut's time minus
    the previous cut's."""
    def scan():
        return io.read_transcripts(spark, inp.transcripts).select(*pipeline.INPUT_COLS)

    def order():
        return route.stable_order(scan())

    def extract():
        return parse.resolve_identity(parse.extract_source_fields(order()), cfg)

    def joined():
        return enrich.enrich(order(), *read_dims(spark, inp), cfg)

    def assembled():
        return enrich.assemble_structs(joined()).select(*EMIT_COLS)

    def exchanged():
        return route.route_partition(assembled(), cfg, cfg.route_column)

    return [
        ("io.scan", scan),
        ("route.stable_order", order),
        ("parse.extract", extract),
        ("enrich.join", joined),
        ("enrich.assemble", assembled),
        ("route.exchange", exchanged),
    ]


EXTRACTION_METHODS = ("native", "pandas", "fast")


def extraction_variants(spark: SparkSession, inp: Inputs) -> dict[str, Callable[[], DataFrame] | None]:
    """Each tag extractor isolated over the same scan; None where the
    program no longer has that extractor."""
    out = {}
    for m in EXTRACTION_METHODS:
        fn = getattr(parse, f"extract_{m}", None)
        out[m] = (lambda fn=fn: fn(io.read_transcripts(spark, inp.transcripts), "tool")) if fn else None
    return out


def direct_write_config(cfg: PipelineConfig) -> PipelineConfig | None:
    """``route_exchange=False``, or None once that option is gone."""
    try:
        return cfg.with_(route_exchange=False)
    except TypeError:
        return None


def enrich_counters(spark: SparkSession, inp: Inputs, cfg: PipelineConfig) -> dict:
    """``PipelineStats`` counters attached to the enrich cut."""
    stats = PipelineStats()
    src = route.stable_order(io.read_transcripts(spark, inp.transcripts))
    noop(stats.attach(enrich.enrich(src, *read_dims(spark, inp), cfg)))
    return stats.dump()


# ---------------------------------------------------------------- checks

def output_files(out_dir: str) -> list[tuple[str, int]]:
    """(partition dir, bytes) of every parquet file written."""
    return [
        (os.path.relpath(root, out_dir), os.path.getsize(os.path.join(root, f)))
        for root, _, files in os.walk(out_dir)
        for f in files
        if f.endswith(".parquet")
    ]


def readback_errors(out_dir: str, inp: Inputs, route_column: str = "namespace_name") -> list[str]:
    """Compare the written rows with the input: same (conv_id, turn_idx,
    text) rows, each in its expected sink, with turn_seq the rank of
    turn_idx within its conversation."""
    part = ds.partitioning(pa.schema([(route_column, pa.string())]), flavor="hive")
    got = ds.dataset(out_dir, format="parquet", partitioning=part).to_table(
        columns=["conv_id", "turn_idx", "text", "turn_seq", route_column])
    errors = []
    if got.num_rows != inp.turns:
        return [f"readback has {got.num_rows} rows, input has {inp.turns}"]
    keys = [("conv_id", "ascending"), ("turn_idx", "ascending")]
    got = got.sort_by(keys)
    want = inp.table.sort_by(keys)
    for col in ("conv_id", "turn_idx", "text"):
        if not got[col].equals(want[col]):
            errors.append(f"column {col} differs from the input")
    sink = pc.fill_null(got[route_column], route.PASSTHROUGH)
    if not sink.equals(want["expected_sink"]):
        errors.append("rows landed in other sinks than the scenarios assign")
    conv = got["conv_id"].to_numpy(zero_copy_only=False)
    starts = np.r_[0, np.flatnonzero(conv[1:] != conv[:-1]) + 1]
    rank = np.arange(len(conv)) - np.repeat(starts, np.diff(np.r_[starts, len(conv)])) + 1
    if not np.array_equal(got["turn_seq"].to_numpy(), rank):
        errors.append("turn_seq is not the rank of turn_idx within its conversation")
    return errors
