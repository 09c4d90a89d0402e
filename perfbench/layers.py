"""Spans around layer calls, event-log parsing and the per-layer table.

Every call into a layer's public function is wrapped in a ``call`` span
and the consuming action on the frame it returns in an ``action`` span.
Spans nest (``sources.writers`` runs inside the action of the mart it
writes), so layer figures are inclusive; the printed table also gives
each layer's self time. In a traced run each span sets its own Spark job
group and the session writes an event log; after the session stops, the
log is parsed here and every job is attributed to the span it ran in:
by job group, or, for jobs on the streaming thread (which sets its own
group), to the innermost span open at the job's submission time.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time

LAYERS = (
    "session",
    "sources.metadata",
    "sources.writers",
    "plans.pos_adapter",
    "operators.payments",
    "operators.sales",
    "operators.transfers",
    "operators.qa",
    "forecasting.api",
    "streaming.events",
    "plans.llm_ops",
    "plans.analytics",
    "plans.relational",
    "plans.classifier_queries",
    "plans.windows",
    "plans.sketch_queries",
    "plans.qa_queries",
    "plans.marts",
)
LAYER_METRICS = (
    ("call_s", "s"),
    ("action_s", "s"),
    ("jobs", "count"),
    ("driver_s", "s"),
    ("exec_s", "s"),
    ("shuffle_mb", "MB"),
)
BLOCK_LAYERS = tuple(layer for layer in LAYERS if layer.startswith("plans.") and layer != "plans.pos_adapter")
WRITE_LAYERS = ("sources.metadata", "sources.writers", "streaming.events")
SESSION_METRICS = (
    ("session.retained_blocks", "count"),
    ("session.retained_mb", "MB"),
    ("session.peak_rss_mb", "MB"),
)
WORKLOAD_METRICS = (
    ("workload.refresh_p50_s", "s"),
    ("workload.refresh_tail_s", "s"),
    ("workload.query_p50_s", "s"),
    ("workload.query_p90_s", "s"),
    ("workload.queries_per_s", "1/s"),
    ("workload.ops_per_s", "1/s"),
    ("workload.rows_per_s", "1/s"),
    ("workload.error_rate", "ratio"),
)
MB = 1e6


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric with its unit, in BENCHMARK.json order."""
    names = [("session.call_s", "s")]
    for layer in LAYERS[1:]:
        names += [(f"{layer}.{m}", u) for m, u in LAYER_METRICS]
    names += list(SESSION_METRICS)
    names.append(("sources.tables.input_mb", "MB"))
    names += [(f"{layer}.write_mb", "MB") for layer in WRITE_LAYERS]
    names.append(("streaming.events.read_amp", "ratio"))
    names += [(f"{layer}.blocks_added", "count") for layer in BLOCK_LAYERS]
    names += list(WORKLOAD_METRICS)
    names.append(("trace.overhead_s", "s"))
    return names


def persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


class Tracer:
    """In-memory spans: name, kind, start, end, parent, pass id.

    Disabled, a span costs one attribute test. Enabled, its own
    bookkeeping (job groups, block counts) is summed in ``overhead_s``:
    the tracing overhead the traced run reports."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.enabled = enabled
        self.pass_id: int | None = None
        self.overhead_s = 0.0

    @contextlib.contextmanager
    def span(self, layer: str, kind: str = "call"):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        sc = self.spark.sparkContext
        idx = len(self.spans)
        rec = {
            "name": layer,
            "kind": kind,
            "parent": self._stack[-1] if self._stack else None,
            "pass": self.pass_id,
            "group": f"perfbench-{idx}",
            "blocks0": persistent_rdds(self.spark),
        }
        self.spans.append(rec)
        self._stack.append(idx)
        sc.setJobGroup(rec["group"], f"{layer} {kind}")
        rec["start"] = time.time()
        self.overhead_s += time.perf_counter() - t0
        try:
            yield
        finally:
            rec["end"] = time.time()
            t1 = time.perf_counter()
            rec["blocks1"] = persistent_rdds(self.spark)
            self._stack.pop()
            if self._stack:
                parent = self.spans[self._stack[-1]]
                sc.setJobGroup(parent["group"], f"{parent['name']} {parent['kind']}")
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self.overhead_s += time.perf_counter() - t1

    def wrap(self, layer: str, fn):
        """``fn`` with its every call recorded as a ``layer`` call span."""

        def wrapped(*args, **kwargs):
            with self.span(layer):
                return fn(*args, **kwargs)

        return wrapped

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump(self.spans, f)


def parse_event_log(log_dir: str) -> list[dict]:
    """Jobs from a Spark event log directory: submit/end time (s), job
    group and the summed task metrics of the stages that ran for it."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stage_metrics: dict[int, dict] = {}
    files = sorted(p for p in glob.glob(os.path.join(log_dir, "**"), recursive=True) if os.path.isfile(p))
    for path in files:
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[jid] = {
                        "id": jid,
                        "submit": ev["Submission Time"] / 1000.0,
                        "end": None,
                        "group": props.get("spark.jobGroup.id"),
                        "exec_s": 0.0,
                        "shuffle_bytes": 0.0,
                        "input_bytes": 0.0,
                        "input_records": 0.0,
                        "output_bytes": 0.0,
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    acc = {a.get("Name"): a.get("Value") for a in info.get("Accumulables", [])}
                    m = stage_metrics.setdefault(info["Stage ID"], {})
                    for key, name in (
                        ("exec_s", "internal.metrics.executorRunTime"),
                        ("shuffle_bytes", "internal.metrics.shuffle.write.bytesWritten"),
                        ("input_bytes", "internal.metrics.input.bytesRead"),
                        ("input_records", "internal.metrics.input.recordsRead"),
                        ("output_bytes", "internal.metrics.output.bytesWritten"),
                    ):
                        m[key] = m.get(key, 0.0) + float(acc.get(name) or 0)
    for sid, m in stage_metrics.items():
        job = jobs.get(stage_job.get(sid))
        if job is None:
            continue
        job["exec_s"] += m["exec_s"] / 1000.0
        for key in ("shuffle_bytes", "input_bytes", "input_records", "output_bytes"):
            job[key] += m[key]
    for job in jobs.values():
        if job["end"] is None:
            job["end"] = job["submit"]
    return sorted(jobs.values(), key=lambda j: j["submit"])


def attribute_jobs(spans: list[dict], jobs: list[dict]) -> None:
    """Set ``span['jobs']`` to the jobs run inside each span (inclusive
    of its children)."""
    by_group = {s["group"]: i for i, s in enumerate(spans)}
    own: dict[int, list[dict]] = {i: [] for i in range(len(spans))}
    for job in jobs:
        idx = by_group.get(job["group"])
        if idx is None:
            inside = [i for i, s in enumerate(spans) if s["start"] <= job["submit"] <= s["end"]]
            if not inside:
                continue
            idx = max(inside, key=lambda i: spans[i]["start"])
        own[idx].append(job)
    # children are appended after their parent, so a reverse sweep
    # finishes every child before its parent
    for i in sorted(own, reverse=True):
        s = spans[i]
        s["jobs"] = own[i] + s.pop("_child_jobs", [])
        if s["parent"] is not None:
            spans[s["parent"]].setdefault("_child_jobs", []).extend(s["jobs"])


def _union_within(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def layer_table(spans: list[dict], n_ops: int) -> dict[str, dict[str, float]]:
    """Per-layer figures per traced operation. A span nested in a span
    of the same layer is counted only through its outer span."""
    table = {layer: {m: 0.0 for m, _ in LAYER_METRICS} | {"self_s": 0.0, "blocks_added": 0.0,
             "write_mb": 0.0, "input_rows": 0.0} for layer in LAYERS}
    for i, s in enumerate(spans):
        p = s["parent"]
        nested_same = False
        while p is not None:
            if spans[p]["name"] == s["name"]:
                nested_same = True
                break
            p = spans[p]["parent"]
        row = table[s["name"]]
        dur = s["end"] - s["start"]
        children = sum(c["end"] - c["start"] for c in spans if c["parent"] == i)
        row["self_s"] += dur - children
        if nested_same:
            continue
        row["call_s" if s["kind"] == "call" else "action_s"] += dur
        jobs = s.get("jobs", [])
        row["jobs"] += len(jobs)
        row["driver_s"] += dur - _union_within([(j["submit"], j["end"]) for j in jobs], s["start"], s["end"])
        row["exec_s"] += sum(j["exec_s"] for j in jobs)
        row["shuffle_mb"] += sum(j["shuffle_bytes"] for j in jobs) / MB
        row["write_mb"] += sum(j["output_bytes"] for j in jobs) / MB
        row["input_rows"] += sum(j["input_records"] for j in jobs)
        row["blocks_added"] += s["blocks1"] - s["blocks0"]
    n = max(1, n_ops)
    for row in table.values():
        for k in row:
            row[k] /= n
    return table
