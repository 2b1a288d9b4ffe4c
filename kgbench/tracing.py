"""Tracing for the per-layer run: spans around calls into the package's
public functions, Spark job descriptions that name the span, and a reader
for Spark's own event log (task metrics and per-operator SQL metrics).

Spans are kept in memory. The event log is read once, after the session
has stopped, so nothing here adds a Spark job or a file write while jobs
run. The untraced run imports this module but never activates a Tracer.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import re
import time
from collections import defaultdict
from dataclasses import dataclass, field

PKG = "quad_processor_util_spark"

# (module, attribute, span name). Each is patched where its callers look
# it up: plans.pipeline binds dedup_quads_df and the sink at import, the
# others are read from their own module at call time.
WRAPPED = [
    ("plans.pipeline", "extract_quads", "extract"),
    ("plans.pipeline", "link_unknown_mentions", "linking.link_unknown"),
    ("operators.linking", "link_surface_forms", "linking"),
    ("operators.linking", "link_candidates", "linking.candidates"),
    ("operators.cc", "canonical_mapping", "cc"),
    ("operators.cc", "connected_components", "cc.components"),
    ("plans.pipeline", "canonicalize", "canonicalize"),
    ("plans.pipeline", "dedup_quads_df", "nt_dedup"),
    ("plans.pipeline", "write_quads_partitioned_by_predicate", "sources.write"),
    ("operators.dedup", "minhash_lsh_candidates", "dedup.lsh"),
    ("operators.dedup", "ngram_jaccard_pairs_from_candidates", "dedup.verify"),
]
# spans that build a plan (plus any eager job inside them); their
# top-level sum is driver.call_s
LAZY = {"extract", "linking.link_unknown", "linking",
        "linking.candidates", "cc", "cc.components", "canonicalize",
        "nt_dedup", "dedup.lsh", "dedup.verify", "dedup.clusters",
        "dedup.jaccard"}


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    label: str


@dataclass
class Tracer:
    """Records spans while active; `captured` keeps the DataFrames that
    selected spans returned, so their rows can be counted after the clock
    stops."""

    spark: object
    spans: list[Span] = field(default_factory=list)
    captured: dict[str, list] = field(default_factory=lambda: defaultdict(list))
    counts: dict[str, int] = field(default_factory=dict)
    label: str = ""
    bucket: int = 0
    active: bool = False
    _stack: list[int] = field(default_factory=list)
    _saved: list = field(default_factory=list)

    def install(self) -> None:
        for mod, attr, name in WRAPPED:
            m = importlib.import_module(f"{PKG}.{mod}")
            orig = getattr(m, attr)
            self._saved.append((m, attr, orig))
            setattr(m, attr, self._wrap(orig, name))

    def uninstall(self) -> None:
        for m, attr, orig in reversed(self._saved):
            setattr(m, attr, orig)
        self._saved.clear()

    def _wrap(self, fn, name):
        @functools.wraps(fn)
        def traced(*a, **kw):
            if not self.active:
                return fn(*a, **kw)
            with self.span(name):
                out = fn(*a, **kw)
            if name in ("linking", "linking.candidates", "dedup.lsh",
                        "dedup.verify"):
                self.captured[name].append(out)
            return out
        return traced

    def span(self, name: str):
        return _SpanCtx(self, name)

    def describe(self, text: str) -> None:
        self.spark.sparkContext.setJobDescription(text)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.t, self.name = tracer, name

    def __enter__(self):
        t = self.t
        self.idx = len(t.spans)
        parent = t._stack[-1] if t._stack else None
        t.spans.append(Span(self.name, time.perf_counter(), 0.0, parent,
                            t.label))
        t._stack.append(self.idx)
        # jobs started inside the span carry its name
        self.prev = t.spark.sparkContext.getLocalProperty(
            "spark.job.description")
        t.describe(f"{t.label}|{self.name}")
        return self

    def __exit__(self, *exc):
        t = self.t
        t.spans[self.idx].end = time.perf_counter()
        t._stack.pop()
        t.describe(self.prev)
        return False


def span_seconds(spans: list[Span], label: str, name: str) -> float:
    return sum(s.end - s.start for s in spans
               if s.label == label and s.name == name)


def top_level_seconds(spans: list[Span], label: str, names) -> float:
    """Sum of the spans named in `names` that are not nested in another
    such span (driver.call_s is this over LAZY)."""
    total = 0.0
    for s in spans:
        if s.label != label or s.name not in names:
            continue
        p = s.parent
        while p is not None and spans[p].name not in names:
            p = spans[p].parent
        if p is None:
            total += s.end - s.start
    return total


# --------------------------------------------------------------------------
# event log
# --------------------------------------------------------------------------


@dataclass
class Node:
    name: str
    text: str
    metrics: dict[str, int]  # metric name -> accumulator id
    children: list
    parent: object = None


def _tree(info: dict, parent=None) -> Node:
    n = Node(info["nodeName"], info["simpleString"],
             {m["name"]: m["accumulatorId"] for m in info.get("metrics", [])},
             [], parent)
    n.children = [_tree(c, n) for c in info.get("children", [])]
    return n


def _walk(n: Node):
    yield n
    for c in n.children:
        yield from _walk(c)


class EventLog:
    """Spark's event log for one application, grouped by job description.

    A description is `<label>` or `<label>|<span>`; `label` selects every
    job and SQL execution of one benchmark job."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.tasks: list[dict] = []
        self.sql: dict[int, dict] = {}
        self.acc: dict[int, int] = defaultdict(int)
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            desc = (e.get("Properties") or {}).get("spark.job.description")
            self.jobs[e["Job ID"]] = {"desc": desc or "",
                                      "start": e["Submission Time"]}
            for s in e["Stage IDs"]:
                self.stage_job[s] = e["Job ID"]
        elif ev == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif ev == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            job = self.stage_job.get(info["Stage ID"])
            if job is not None:
                self.jobs[job].setdefault("done_stages", 0)
                self.jobs[job]["done_stages"] += 1
        elif ev == "SparkListenerTaskEnd":
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            self.tasks.append({
                "job": self.stage_job.get(e["Stage ID"]),
                "run_ms": m.get("Executor Run Time", 0),
                "gc_ms": m.get("JVM GC Time", 0),
                "failed": bool(info.get("Failed")),
            })
            for a in info.get("Accumulables", []):
                if a.get("Metadata") == "sql" and "Update" in a:
                    self.acc[a["ID"]] += int(a["Update"])
        elif ev.endswith("SQLExecutionStart"):
            self.sql[e["executionId"]] = {
                "desc": e.get("description") or "",
                "plan": e["sparkPlanInfo"]}
        elif ev.endswith("SQLAdaptiveExecutionUpdate"):
            if e["executionId"] in self.sql:
                self.sql[e["executionId"]]["plan"] = e["sparkPlanInfo"]
        elif ev.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, v in e["accumUpdates"]:
                self.acc[acc_id] += int(v)

    # ---- selection -------------------------------------------------------

    @staticmethod
    def _match(desc: str, label: str, span: str | None) -> bool:
        base, _, sp = desc.partition("|")
        return base == label and (span is None or sp.startswith(span))

    def job_ids(self, label: str, span: str | None = None) -> list[int]:
        return [j for j, d in self.jobs.items()
                if self._match(d["desc"], label, span)]

    def job_wall_s(self, label: str, span: str | None = None) -> float:
        js = [self.jobs[j] for j in self.job_ids(label, span)]
        if not js:
            return 0.0
        return (max(j.get("end", j["start"]) for j in js)
                - min(j["start"] for j in js)) / 1000.0

    def stages(self, label: str) -> int:
        return sum(self.jobs[j].get("done_stages", 0)
                   for j in self.job_ids(label))

    def task_sum(self, label: str, key: str) -> float:
        ids = set(self.job_ids(label))
        return sum(t[key] for t in self.tasks if t["job"] in ids)

    def plans(self, label: str) -> list[Node]:
        return [_tree(s["plan"]) for s in self.sql.values()
                if self._match(s["desc"], label, None)]

    # ---- SQL metrics -----------------------------------------------------

    def value(self, node: Node, metric: str) -> int:
        acc = node.metrics.get(metric)
        return self.acc.get(acc, 0) if acc is not None else 0

    def metric_sum(self, label: str, pick, metric: str) -> int:
        """Sum of one SQL metric over the nodes `pick` selects, each
        accumulator counted once (a cached subplan appears under every
        consumer with the same accumulators)."""
        seen, total = set(), 0
        for root in self.plans(label):
            for n in _walk(root):
                acc = n.metrics.get(metric)
                if acc is not None and acc not in seen and pick(n):
                    seen.add(acc)
                    total += self.acc.get(acc, 0)
        return total

    def count_nodes(self, label: str, pick) -> int:
        return sum(1 for root in self.plans(label) for n in _walk(root)
                   if pick(n))

    def dedup_rows(self, label: str) -> tuple[int, int]:
        """(rows into, rows out of) the 5-field identity dedup: the first
        row counter below its shuffle's partial aggregate, and the first
        aggregate above the shuffle."""
        seen, rows_in, rows_out = set(), 0, 0
        for root in self.plans(label):
            for n in _walk(root):
                acc = n.metrics.get("shuffle bytes written")
                if not is_identity_exchange(n) or acc in seen:
                    continue
                seen.add(acc)
                below = next((d for c in n.children for d in _walk(c)
                              if "Aggregate" not in d.name
                              and "number of output rows" in d.metrics), None)
                if below is not None:
                    rows_in += self.value(below, "number of output rows")
                p = n.parent
                while p is not None and not (
                        "Aggregate" in p.name
                        and "number of output rows" in p.metrics):
                    p = p.parent
                if p is not None:
                    rows_out += self.value(p, "number of output rows")
        return rows_in, rows_out


def is_identity_exchange(n: Node) -> bool:
    if n.name != "Exchange" or "hashpartitioning(" not in n.text:
        return False
    keys = n.text.split("hashpartitioning(", 1)[1].split(")", 1)[0]
    return all(f"{k}#" in keys for k in
               ("subject", "predicate", "obj", "datatype", "language"))


def is_conv_exchange(n: Node) -> bool:
    return n.name == "Exchange" and "hashpartitioning(conv_id#" in n.text


def is_extract(n: Node) -> bool:
    return n.name == "MapInArrow" and "_extract(" in n.text


_CANON_COLS = re.compile(r" AS __(cs|co|xs|xo)#")


def under_canonicalize(n: Node) -> bool:
    """A broadcast of plans.pipeline.canonicalize: the canonical mapping
    (projected as __cs/__co) or the excluded set (__xs/__xo)."""
    if n.name != "BroadcastExchange":
        return False
    return any(_CANON_COLS.search(d.text) for d in _walk(n))


def event_log_file(log_dir: str) -> str:
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)
             if not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, "
                           f"found {sorted(os.listdir(log_dir))}")
    return files[0]
