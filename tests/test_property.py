"""Property-based extraction tests (hypothesis): generated identities
must round-trip tag -> regex -> fields, matching Python re ground truth
on the identical pattern. One batched Spark check keeps it fast."""

import re

import hypothesis.strategies as st
from hypothesis import given, settings

from fluent_plugin_kubernetes_metadata_filter_spark.datagen import tag_containers, tag_pods
from fluent_plugin_kubernetes_metadata_filter_spark.parse import (
    REGEX_VAR_LOG_CONTAINERS,
    REGEX_VAR_LOG_PODS,
    EXTRACTED_COLS,
    extract_source_fields,
)

PY_CONT = re.compile(REGEX_VAR_LOG_CONTAINERS.replace("(?<", "(?P<"))
PY_PODS = re.compile(REGEX_VAR_LOG_PODS.replace("(?<", "(?P<"))

name = st.from_regex(r"[a-z0-9]([-a-z0-9]{0,20}[a-z0-9])?", fullmatch=True)
dotted = st.lists(name, min_size=1, max_size=3).map(".".join)
ns = st.from_regex(r"[a-z0-9-]{1,20}", fullmatch=True)
container = st.from_regex(r"[a-z0-9][a-z0-9-]{0,20}", fullmatch=True)
hex64 = st.from_regex(r"[a-f0-9]{64}", fullmatch=True)
uuid_s = st.from_regex(r"[a-f0-9]{8}-[a-f0-9]{4}-[a-f0-9]{4}-[a-f0-9]{4}-[a-f0-9]{12}", fullmatch=True)


@settings(max_examples=200, deadline=None)
@given(pod=dotted, n=ns, c=container, d=hex64)
def test_containers_roundtrip_python(pod, n, c, d):
    m = PY_CONT.search(tag_containers(pod, n, c, d))
    assert m is not None
    assert m.group("namespace") == n
    assert m.group("pod_name") == pod
    assert m.group("docker_id") == d
    # container_name is greedy: it re-splits only when c itself ends with
    # a -64hex-like suffix, which our strategy can't generate
    assert m.group("container_name") == c


@settings(max_examples=200, deadline=None)
@given(pod=dotted, n=ns, c=container, u=uuid_s)
def test_pods_roundtrip_python(pod, n, c, u):
    m = PY_PODS.search(tag_pods(n, pod, u, c, 0))
    assert m is not None
    assert m.group("namespace") == n
    assert m.group("pod_name") == pod
    assert m.group("pod_uuid") == u
    assert m.group("container_name") == c


# malformed / pathological tags: wrong charset or hex length, missing
# fields, mid-string matches, extra suffixes, dotted and underscored names
ADVERSARIAL = [
    "", "non-kubernetes", "var.log.containers.", "var.log.pods.",
    "var.log.containers.pod_ns_c-" + "a" * 64 + ".log",
    "var.log.containers.pod_ns_c-" + "a" * 63 + ".log",
    "var.log.containers.POD_ns_c-" + "a" * 64 + ".log",
    "prefix.var.log.containers.pod_ns_c-" + "a" * 64 + ".log",
    "var.log.pods.ns_pod_uuid-1.c.0.log",
    "var.log.pods.ns_pod_.c.0.log",
    "var.log.pods.ns_pod_uuid.c.log",
    "var.log.pods.ns_pod_uuid.c.x.y.log",
    "var.log.pods.ns_pod.c.0.log",
    "var.log.containers.pod_ns_c-x-" + "b" * 64 + ".log",
    "var.log.containers.pod_ns_c-" + "a" * 64 + ".log.extra",
    "var.log.pods.ns_pod_uuid.c..log",
    "var.log.containers.pod_ns_with_many_under_c-" + "c" * 64 + ".log",
    "var.log.pods.ns_my.dotted.pod_uuid.c.0.log",
]


def _expected(tag):
    """The Python-re ground truth for one tag, in extraction column order,
    PODS branch first like the reference's union regex."""
    pm = PY_PODS.search(tag)
    if pm:
        return (pm["namespace"], pm["pod_name"], pm["container_name"], pm["pod_uuid"], None, "pods")
    cm = PY_CONT.search(tag)
    if cm:
        return (cm["namespace"], cm["pod_name"], cm["container_name"], None, cm["docker_id"], "containers")
    return (None,) * 6


def test_spark_matches_python_on_generated_batch(spark):
    """One Spark job over a mixed generated corpus plus ADVERSARIAL:
    Spark extraction must agree with Python re on every row and every
    extracted column, x_branch included (JVM/RE-dialect parity check)."""
    import pyspark.sql.types as T

    tags = list(ADVERSARIAL)
    for i in range(150):
        pod = f"pod-{i}" if i % 3 else f"pod.{i}.dotted"
        nsn = f"ns-{i % 7}"
        c = f"c{i % 5}"
        d = format(i, "x").rjust(64, "0")
        u = f"{i:08x}-0000-0000-0000-000000000000"
        tags.append(tag_containers(pod, nsn, c, d))
        tags.append(tag_pods(nsn, pod, u, c, i % 4))
        if i % 10 == 0:
            tags.append(f"garbage-{i}")
    df = spark.createDataFrame([(t,) for t in tags], T.StructType([T.StructField("tool", T.StringType())]))
    rows = extract_source_fields(df).select("tool", *EXTRACTED_COLS).collect()
    assert len(rows) == len(tags)
    for r in rows:
        assert tuple(r[1:]) == _expected(r.tool), r.tool
