"""Seeded inputs for the routed enrich benchmark.

One ``--seed`` drives every workload. The generator writes the transcripts
table plus the pods and namespaces dims, in the schema that
``enrich.prepare_pods_dim`` and ``enrich.prepare_namespaces_dim`` read,
and keeps ``datagen.SCENARIOS``'s mix so every enrichment branch appears:
pod hit, as-of accept and reject, both orphan paths, passthrough and empty
tool. Conversation-level scenario shares are exact (largest remainder of
weight x conversations). The seed draws the rows' content; the shape of a
workload (scenarios, conversation lengths, namespaces, hence the per-sink
counts) is fixed, so two seeds differ in rows, not in mix or sink sizes.

From the scenarios it assigned, the generator also derives the sink every
row must land in. The benchmark checks the program's output against these
expected sinks, never against counts taken from the program.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from fluent_plugin_kubernetes_metadata_filter_spark.datagen import (
    EPOCH,
    ROW_GROUP_SIZE,
    SCENARIOS,
    tag_containers,
    tag_pods,
)
from fluent_plugin_kubernetes_metadata_filter_spark.route import PASSTHROUGH

ORPHANED = ".orphaned"  # PipelineConfig.orphaned_namespace_name default
MISSING_NS = ("ghost-ns-a", "ghost-ns-b")  # referenced by tags, absent from the dim
PODS_PER_NS = 8
ROLES = np.array(["user", "assistant", "tool", "system"], dtype=object)
WORDS = np.array(
    "the quick brown fox jumps over lazy dog spark shuffle broadcast join "
    "partition executor task stage codegen arrow pandas vector batch".split(),
    dtype=object,
)
EMPTY_TOOL_FRAC = 0.08  # rows inside any conversation whose tool is ''
HOT_TURNS = (120, 320)  # datagen's turn range for the hot conversations
SHAPE_SEED = 20241017


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    turns: int  # target input turns; the seed moves the actual count a little
    namespaces: int  # present in the dim, incl. 'default' and the future ones
    future_namespaces: int  # created after every event: as-of reject
    turn_range: tuple[int, int]  # turns per ordinary conversation, inclusive
    hot: bool  # keep datagen's hot (default, pod 0) scenario
    unique_tags: bool  # a fresh docker id / pod uuid on every row
    zipf: float  # namespace popularity exponent; 0 = uniform
    resumable: bool  # checkpoint.resumable_fanout_write instead of write_routed


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "routed_write",
            "the headline job's shape: datagen's mix, 26 sinks, ~76 rows per "
            "distinct tag, one hot sink with ~49% of rows; plain routed write "
            "plus footer counts",
            turns=60_000, namespaces=24, future_namespaces=3,
            turn_range=(5, 60), hot=True, unique_tags=False, zipf=0.0,
            resumable=False,
        ),
        Workload(
            "unique_tags_resumable",
            "routed_write's size, mix and sinks but a distinct tag on every "
            "turn, so per-tag reuse cannot help; written through the "
            "resumable checkpoint path",
            turns=60_000, namespaces=24, future_namespaces=3,
            turn_range=(5, 60), hot=True, unique_tags=True, zipf=0.0,
            resumable=True,
        ),
        Workload(
            "many_sinks",
            "hundreds of Zipf-popular namespaces and a 20x larger pods dim: "
            "file count, not row count, sets the cost of write and counts",
            turns=10_000, namespaces=120, future_namespaces=3,
            turn_range=(5, 20), hot=False, unique_tags=False, zipf=1.0,
            resumable=False,
        ),
    )
}


@dataclass
class Inputs:
    """Paths of one generated input set plus what the program must output."""

    dir: str
    transcripts: str
    pods: str
    namespaces: str
    table: pa.Table  # transcripts as written, plus ``expected_sink`` and ``scenario``
    expected_counts: dict[str, int]
    properties: dict[str, float]

    @property
    def turns(self) -> int:
        return self.table.num_rows


def _hex(rng: np.random.Generator, n: int, width: int) -> list[str]:
    raw = rng.bytes(n * width // 2).hex()
    return [raw[i * width:(i + 1) * width] for i in range(n)]


def _uuid(h: str) -> str:
    return f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:32]}"


def _scenario_codes(rng: np.random.Generator, n_convs: int, weights: np.ndarray) -> np.ndarray:
    """Exact per-scenario conversation counts, randomly ordered."""
    exact = weights / weights.sum() * n_convs
    counts = np.floor(exact).astype(int)
    short = n_convs - counts.sum()
    counts[np.argsort(-(exact - counts), kind="stable")[:short]] += 1
    return rng.permutation(np.repeat(np.arange(len(weights)), counts))


def _namespace_rows(wl: Workload, rng: np.random.Generator) -> list[dict]:
    names = ["default", "kube-system"] + [f"ns-{i:03d}" for i in range(2, wl.namespaces)]
    ids = _hex(rng, len(names), 32)
    rows = []
    for i, name in enumerate(names):
        future = i >= wl.namespaces - wl.future_namespaces
        created = (
            datetime(2025, 6, 1, tzinfo=timezone.utc) + timedelta(days=i % 97)
            if future
            else datetime(2023, 5, 1, tzinfo=timezone.utc) + timedelta(days=i % 300, hours=i % 24)
        )
        rows.append({
            "namespace_name": name,
            "namespace_id": _uuid(ids[i]),
            "labels": {} if i % 7 == 3 else {"tenant": f"tenant-{i % 4}", "team": f"team-{i % 5}"},
            "annotations": {} if i % 5 == 2 else {
                "workspaceId": f"workspace-{i:03d}",
                "kubernetes.io/created-by": "perfbench",
                f"custom.field{i % 3}": f"cv-{i}",
            },
            "creation_timestamp": created,
        })
    return rows


def _pod_rows(ns_names: list[str], rng: np.random.Generator) -> list[dict]:
    """PODS_PER_NS pods per namespace (pod 6 dotted, pod 5 with an
    init-like container, pod 4 without IP or labels), plus one stray pod
    in each MISSING_NS namespace for the pod-found/ns-missing orphan."""
    rows = []
    for nsn in ns_names + list(MISSING_NS):
        stray = nsn in MISSING_NS
        ids = _hex(rng, 4, 64)
        for j in range(1 if stray else PODS_PER_NS):
            pod = (f"stray-{nsn[-1]}" if stray
                   else f"app.v2-{j:02d}-{nsn}" if j == 6 else f"web-{nsn}-{ids[0][:6]}{j:02d}")
            containers = []
            for c in range(1 if stray else 1 + j % 3):
                cname = "main-0" if c == 0 else f"sidecar-{c}"
                init_like = j == 5 and c == j % 3
                containers.append({
                    "name": cname,
                    "image": f"registry.example/{nsn}/{cname}:v{1 + (j + c) % 4}",
                    "image_id": "" if init_like
                    else f"docker-pullable://registry.example/{nsn}/{cname}@sha256:{ids[1]}",
                    "container_id": "" if init_like else f"docker://{_hex(rng, 1, 64)[0]}",
                })
            rows.append({
                "namespace_name": nsn,
                "pod_name": pod,
                "pod_id": _uuid(_hex(rng, 1, 32)[0]),
                "pod_ip": None if j == 4 else f"10.{len(rows) % 200}.{j}.{(j * 7) % 250 + 1}",
                "host": f"node-{(j + len(nsn)) % 6:02d}",
                "labels": {} if j == 4 else {"app": pod.split("-")[0], "component": f"comp-{j}"},
                "annotations": {} if j == 3 else {"builder": f"builder-{j}", "custom.field1": f"pv-{j}"},
                "ownerrefs": [{"kind": "ReplicaSet", "name": f"{pod}-rs"}] if j % 2 == 0 else [],
                "containers": containers,
                "creation_timestamp": datetime(2023, 8, 1, tzinfo=timezone.utc) + timedelta(hours=j),
            })
    return rows


def _map(dicts: list[dict]) -> pa.Array:
    return pa.array([sorted(d.items()) for d in dicts], pa.map_(pa.string(), pa.string()))


def _naive(ts: list[datetime]) -> pa.Array:
    return pa.array([t.replace(tzinfo=None) for t in ts], pa.timestamp("us"))


def _write_dims(out_dir: str, ns_rows: list[dict], pod_rows: list[dict]) -> tuple[str, str]:
    ns_path = os.path.join(out_dir, "namespaces_dim.parquet")
    pq.write_table(pa.table({
        "namespace_name": pa.array([r["namespace_name"] for r in ns_rows]),
        "namespace_id": pa.array([r["namespace_id"] for r in ns_rows]),
        "labels": _map([r["labels"] for r in ns_rows]),
        "annotations": _map([r["annotations"] for r in ns_rows]),
        "creation_timestamp": _naive([r["creation_timestamp"] for r in ns_rows]),
    }), ns_path)
    container = pa.struct([(k, pa.string()) for k in ("name", "image", "image_id", "container_id")])
    owner = pa.struct([("kind", pa.string()), ("name", pa.string())])
    pods_path = os.path.join(out_dir, "pods_dim.parquet")
    pq.write_table(pa.table({
        **{k: pa.array([r[k] for r in pod_rows], pa.string())
           for k in ("namespace_name", "pod_name", "pod_id", "pod_ip", "host")},
        "labels": _map([r["labels"] for r in pod_rows]),
        "annotations": _map([r["annotations"] for r in pod_rows]),
        "ownerrefs": pa.array([r["ownerrefs"] for r in pod_rows], pa.list_(owner)),
        "containers": pa.array([r["containers"] for r in pod_rows], pa.list_(container)),
        "creation_timestamp": _naive([r["creation_timestamp"] for r in pod_rows]),
    }), pods_path)
    return pods_path, ns_path


def generate(wl: Workload, seed: int, out_dir: str) -> Inputs:
    """Write ``wl``'s inputs for ``seed`` into ``out_dir`` (created)."""
    os.makedirs(out_dir, exist_ok=True)
    # The workload's shape (scenarios, conversation lengths, namespaces,
    # empty tools, hence every per-sink count) is the same for every seed,
    # so the file layout Spark picks does not change with the seed; the
    # seed draws the content: ids, tags, pods, texts, timestamps, row order.
    shape = np.random.default_rng(SHAPE_SEED)
    rng = np.random.default_rng(seed)
    ns_rows = _namespace_rows(wl, rng)
    ns_names = [r["namespace_name"] for r in ns_rows]
    pod_rows = _pod_rows(ns_names, rng)
    pods_by_ns: dict[str, list[dict]] = {}
    for p in pod_rows:
        pods_by_ns.setdefault(p["namespace_name"], []).append(p)
    present = ns_names[: wl.namespaces - wl.future_namespaces]
    future = ns_names[wl.namespaces - wl.future_namespaces:]
    popularity = 1.0 / np.arange(1, len(present) + 1) ** wl.zipf
    popularity /= popularity.sum()

    names = [s for s, _ in SCENARIOS]
    weights = np.array([0.0 if (s == "hot" and not wl.hot) else w for s, w in SCENARIOS])
    lo, hi = wl.turn_range
    mean_turns = (weights @ np.where(np.array(names) == "hot", sum(HOT_TURNS) / 2, (lo + hi) / 2)) / weights.sum()
    n_convs = max(len(names), round(wl.turns / mean_turns))
    scen = np.array(names, dtype=object)[_scenario_codes(shape, n_convs, weights)]
    n_turns = np.where(scen == "hot", shape.integers(HOT_TURNS[0], HOT_TURNS[1] + 1, n_convs),
                       shape.integers(lo, hi + 1, n_convs))
    total = int(n_turns.sum())
    conv_of_row = np.repeat(np.arange(n_convs), n_turns)
    turn_idx = (np.arange(total) - np.repeat(np.cumsum(n_turns) - n_turns, n_turns)).astype(np.int32)
    conv_ids = _hex(rng, n_convs, 64)
    ns_pick = shape.choice(len(present), size=n_convs, p=popularity)
    tags, sinks = [], np.empty(n_convs, dtype=object)
    for i in range(n_convs):
        fmt, fixed, is_uuid, sinks[i] = _conversation(
            scen[i], i, present[ns_pick[i]], conv_ids, pods_by_ns, future, wl.unique_tags, rng)
        tags.append((fmt, fixed, is_uuid))
    if wl.unique_tags:
        # a separate stream, so both tag modes share every other draw
        row_ids = iter(_hex(np.random.default_rng([seed, 1]), total, 64))
        tool = [fmt(_uuid(h) if is_uuid else h)
                for (fmt, _, is_uuid), n in zip(tags, n_turns.tolist())
                for h in (next(row_ids) for _ in range(n))]
    else:
        tool = [t for (fmt, fixed, _), n in zip(tags, n_turns.tolist()) for t in [fmt(fixed)] * n]
    tool = np.array(tool, dtype=object)
    empty = shape.random(total) < EMPTY_TOOL_FRAC
    tool[empty] = ""
    expected_sink = sinks[conv_of_row]
    expected_sink[empty] = PASSTHROUGH

    conv_names = np.array([f"conv-{i:06d}" for i in range(n_convs)], dtype=object)
    words = WORDS[rng.integers(0, len(WORDS), size=(total, 6))]
    text = [f"turn {t} of {conv_names[c]}: " + " ".join(w)
            for t, c, w in zip(turn_idx.tolist(), conv_of_row.tolist(), words.tolist())]
    conv_start = rng.integers(0, 10 * 86400, size=n_convs)
    ts_sec = conv_start[conv_of_row] + turn_idx.astype(np.int64) * 7
    ts = np.datetime64(EPOCH.replace(tzinfo=None), "us") + ts_sec.astype("timedelta64[s]")
    # rows are stored shuffled so no conversation or sink arrives sorted
    order = rng.permutation(total)
    table = pa.table({
        "conv_id": pa.array(conv_names[conv_of_row][order], pa.string()),
        "turn_idx": pa.array(turn_idx[order], pa.int32()),
        "role": pa.array(ROLES[rng.integers(0, len(ROLES), total)], pa.string()),
        "text": pa.array(np.array(text, dtype=object)[order], pa.string()),
        "tool": pa.array(tool[order], pa.string()),
        "ts": pa.array(ts[order], pa.timestamp("us")),
    })
    transcripts = os.path.join(out_dir, "transcripts", "part-00000.parquet")
    os.makedirs(os.path.dirname(transcripts), exist_ok=True)
    pq.write_table(table, transcripts, row_group_size=ROW_GROUP_SIZE)
    pods, namespaces = _write_dims(out_dir, ns_rows, pod_rows)

    table = table.append_column("expected_sink", pa.array(expected_sink[order], pa.string()))
    table = table.append_column("scenario", pa.array(scen[conv_of_row][order], pa.string()))
    sink_names, sink_rows = np.unique(expected_sink, return_counts=True)
    counts = dict(zip(sink_names.tolist(), sink_rows.tolist()))
    return Inputs(
        dir=out_dir, transcripts=os.path.dirname(transcripts), pods=pods, namespaces=namespaces,
        table=table, expected_counts=counts,
        properties={
            "parse.distinct_tag_frac": len(set(tool.tolist())) / total,
            "route.hot_sink_frac": max(counts.values()) / total,
            "io.sinks": len(counts),
            "turns": total,
            "conversations": n_convs,
            "pods": len(pod_rows),
        },
    )


def _conversation(s: str, i: int, nsn: str, conv_ids: list[str], pods_by_ns: dict,
                  future: list[str], unique: bool, rng: np.random.Generator):
    """Scenario ``s`` for conversation ``i``: a tag format taking one id,
    the conversation's fixed id, whether that id is a pod uuid, and the
    sink the conversation's tagged rows must land in."""
    did = conv_ids[i]
    if s == "hot":  # datagen's skew: 4 containers of one pod in 'default'
        p = pods_by_ns["default"][0]
        return (lambda d: tag_containers(p["pod_name"], "default", "main-0", d),
                conv_ids[i % 4], False, "default")
    if s in ("hit_containers", "hit_pods", "hit_dotted"):
        cand = pods_by_ns[nsn]
        if s == "hit_dotted":
            cand = [p for p in cand if "." in p["pod_name"]]
        p = cand[int(rng.integers(len(cand)))]
        c = p["containers"][int(rng.integers(len(p["containers"])))]["name"]
        n = int(rng.integers(3))
        if s == "hit_pods":
            return lambda u: tag_pods(nsn, p["pod_name"], u, c, n), p["pod_id"], True, nsn
        return lambda d: tag_containers(p["pod_name"], nsn, c, d), did, False, nsn
    if s == "pod_miss_old_ns":  # as-of accept
        pod = f"vanished-{i % 17:02d}"
        if i % 2 == 0:
            return lambda u: tag_pods(nsn, pod, u, "main-0"), _uuid(did), True, nsn
        return lambda d: tag_containers(pod, nsn, "main-0", d), did, False, nsn
    if s == "pod_miss_future_ns":  # as-of reject
        nsn = future[i % len(future)]
        return lambda d: tag_containers(f"vanished-{i % 17:02d}", nsn, "main-0", d), did, False, nsn
    if s.startswith("orphan"):
        nsn = MISSING_NS[i % 2]
        pod = pods_by_ns[nsn][0]["pod_name"] if s == "orphan_pod_found_ns_missing" else f"lost-{i % 13:02d}"
        return lambda d: tag_containers(pod, nsn, "main-0", d), did, False, ORPHANED
    base = "non-kubernetes" if i % 3 else "var.log.containers.malformed"  # passthrough
    return (lambda h: f"{base}-{h[:16]}") if unique else (lambda h: base), did, False, PASSTHROUGH
