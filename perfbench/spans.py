"""Spans around the engine's public layer functions, for the traced run.

Spans are recorded from the benchmark's side only. While the tracer is
enabled, ``Tracer.patch`` replaces a function in the namespace its caller
looks it up in (for example ``algorithms.pagerank.sql_message_path``,
which that module imports by name); ``disable`` puts the originals back,
so the engine's code is not changed. On span entry the Spark job group is
set to the span's id, so each Spark job in the event log belongs to the
innermost open span. Spans are kept in memory and summarised once, after
the session has stopped and the event log is complete.

A layer is a span name without its last part (``pregel.superstep`` for
``pregel.superstep.commit``, ``algorithms.wcc`` for ``algorithms.wcc.run``).
A layer's numbers come from the timed repetitions when it runs there
(median over repetitions) and otherwise from set-up, which is where
``session`` runs.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
from collections import defaultdict

GROUP_PREFIX = "perfbench-span-"


class Tracer:
    """Span recorder. While ``enabled`` is false, ``span`` records nothing
    and the patched functions are the originals again."""

    def __init__(self, slots: int) -> None:
        self.slots = slots
        self.sc = None  # set once the session exists
        self.phase = "setup"
        self.spans: list[dict] = []
        self.counts: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self.enabled = False
        self._stack: list[int] = []
        self._specs: list[tuple] = []
        self._saved: list[tuple] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield {}
            return
        rec = {"id": len(self.spans), "name": name, "phase": self.phase, "t0": time.perf_counter(), "child_s": 0.0}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._set_group(rec["id"])
        try:
            yield rec
        finally:
            rec["t1"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.spans[self._stack[-1]]["child_s"] += rec["t1"] - rec["t0"]
            self._set_group(self._stack[-1] if self._stack else None)

    def count(self, name: str, value: float) -> None:
        """Add a count measured outside any span to the current phase."""
        if self.enabled:
            self.counts[self.phase][name] += value

    def _set_group(self, span_id: int | None) -> None:
        if self.sc is None:
            return
        if span_id is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"{GROUP_PREFIX}{span_id}", self.spans[span_id]["name"])

    def patch(self, owner, attr: str, name: str, after=None) -> None:
        """Trace ``owner.attr`` as span ``name`` while enabled;
        ``after(rec, args, kwargs, result)`` may add counts to the span."""
        self._specs.append((owner, attr, name, after))

    def enable(self) -> None:
        for owner, attr, name, after in self._specs:
            orig = getattr(owner, attr)
            setattr(owner, attr, self._traced(orig, name, after))
            self._saved.append((owner, attr, orig))
        self.enabled = True

    def disable(self) -> None:
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()
        self.enabled = False

    def _traced(self, orig, name, after):
        def traced(*args, **kwargs):
            with self.span(name) as rec:
                out = orig(*args, **kwargs)
                if after is not None:
                    after(rec, args, kwargs, out)
                return out

        return traced


def read_event_log(log_dir: str) -> dict[int, dict]:
    """Spark counts per span id, from the uncompressed event log. Bytes and
    milliseconds are summed as integers, so counts do not depend on the
    order tasks finished in."""
    stage_span: dict[int, int] = {}
    raw: dict[int, dict] = defaultdict(lambda: defaultdict(int))

    def span_of(props: dict | None) -> int | None:
        group = (props or {}).get("spark.jobGroup.id") or ""
        return int(group[len(GROUP_PREFIX):]) if group.startswith(GROUP_PREFIX) else None

    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    sid = span_of(ev.get("Properties"))
                    if sid is not None:
                        raw[sid]["jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    sid = span_of(ev.get("Properties"))
                    if sid is not None:
                        stage_span[ev["Stage Info"]["Stage ID"]] = sid
                elif kind == "SparkListenerTaskEnd":
                    sid = stage_span.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if sid is None or not m:
                        continue
                    c = raw[sid]
                    read = m.get("Shuffle Read Metrics", {})
                    c["tasks"] += 1
                    c["write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    c["read_bytes"] += read.get("Remote Bytes Read", 0) + read.get("Local Bytes Read", 0)
                    c["run_ms"] += m.get("Executor Run Time", 0)
                    c["gc_ms"] += m.get("JVM GC Time", 0)
    return {
        sid: {
            "spark_jobs": c["jobs"],
            "spark_tasks": c["tasks"],
            "shuffle_write_mb": c["write_bytes"] / 1e6,
            "shuffle_read_mb": c["read_bytes"] / 1e6,
            "executor_s": c["run_ms"] / 1e3,
            "gc_s": c["gc_ms"] / 1e3,
        }
        for sid, c in raw.items()
    }


def _phase_metrics(spans: list[dict], counts: dict[str, float], spark: dict[int, dict], slots: int) -> dict[str, float]:
    """Layer metrics of the spans and counts of one phase."""
    out: dict[str, float] = defaultdict(float, counts)
    layer_self: dict[str, float] = defaultdict(float)
    commits: list[float] = []
    for s in spans:
        dur = s["t1"] - s["t0"]
        layer = s["name"].rsplit(".", 1)[0]
        layer_self[layer] += dur - s["child_s"]
        out[s["name"] + "_s"] += dur
        for k, v in spark.get(s["id"], {}).items():
            out[f"{layer}.{k}"] += v
        for k in ("supersteps", "rounds"):  # the last superstep reached
            if k in s:
                out[f"{layer}.{k}"] = max(out[f"{layer}.{k}"], s[k])
        if s["name"] == "pregel.superstep.commit":
            commits.append(dur)
    for layer, self_s in layer_self.items():
        out[f"{layer}.self_s"] = self_s
        if self_s > 0:
            out[f"{layer}.slot_busy_frac"] = out[f"{layer}.executor_s"] / (slots * self_s)
    if commits:
        out["pregel.superstep.commits"] = len(commits)
        out["pregel.superstep.commit_p50_s"] = statistics.median(commits)
        out["pregel.superstep.commit_max_s"] = max(commits)
        out["pregel.superstep.jobs_per_commit"] = out["pregel.superstep.spark_jobs"] / len(commits)
    return out


def layer_metrics(tracer: Tracer, spark: dict[int, dict]) -> dict[str, float]:
    """Per-layer metrics: median over the timed repetitions for layers that
    run there, the set-up value for layers that run only in set-up."""
    by_phase: dict[str, list[dict]] = defaultdict(list)
    for s in tracer.spans:
        by_phase[s["phase"]].append(s)
    for phase in tracer.counts:
        by_phase.setdefault(phase, [])
    setup = _phase_metrics(by_phase.pop("setup", []), tracer.counts["setup"], spark, tracer.slots)
    reps = [_phase_metrics(spans, tracer.counts[p], spark, tracer.slots) for p, spans in by_phase.items()]
    rep_layers = {name.rsplit(".", 1)[0] for r in reps for name in r}
    out = {}
    for name in set(setup) | {n for r in reps for n in r}:
        layer = name.rsplit(".", 1)[0]
        if layer in rep_layers:
            out[name] = statistics.median(r.get(name, 0.0) for r in reps)
        else:
            out[name] = setup[name]
    return out
