"""Per-layer tracing for the KG benchmark, done from outside the program.

`Tracer.install()` wraps the public functions of each wbkg layer (table
`LAYERS`) by patching every wbkg module attribute that refers to them. Each
wrapper:

1. opens a span (layer, function, start, end, parent) and tags every Spark
   job it launches with a job group named after the span;
2. persists and counts a returned DataFrame, so the layer's lazy work runs
   inside its own span and `rows_out` is known;
3. records layer-specific counts (hit ratio, dedup ratio, ...).

Task metrics come from Spark's event log (uncompressed JSON lines), read
after the session stops: each task's stage maps to the job that ran it, the
job to its job group, the group to a span, the span to a layer.

A layer's self time is its spans' durations minus the part covered by their
child spans. `coverage` is the share of the benchmark's operation wall time
that falls inside layer spans.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import sys
import time
from collections import defaultdict
from typing import Callable, Dict, List

# layer -> public functions wrapped (module, attribute; Class.method allowed)
LAYERS: Dict[str, List[tuple]] = {
    "extract": [
        ("wbkg.extract", "chunk_and_extract"),
        ("wbkg.extract", "chunks_from_fused"),
        ("wbkg.extract", "acronyms_from_fused"),
        ("wbkg.extract", "mentions_from_fused"),
        ("wbkg.extract", "extract_acronyms"),
        ("wbkg.extract", "extract_mentions"),
    ],
    "chunker": [("wbkg.chunker", "chunk_documents")],
    "link": [("wbkg.link", "link_mentions")],
    "canonicalize": [
        ("wbkg.canonicalize", "canonical_map"),
        ("wbkg.canonicalize", "apply_canonicalization"),
    ],
    "materialize": [
        ("wbkg.materialize", name)
        for name in (
            "entity_triples",
            "chunk_mention_triples",
            "chunk_node_triples",
            "chunk_triples",
            "metadata_triples",
            "union_distinct",
            "nodes_from_edges",
        )
    ],
    "checkpoint": [("wbkg.checkpoint", "CheckpointManager.run_stage")],
    "metrics": [("wbkg.metrics", "with_lineage")],
    "pipeline": [("wbkg.pipeline", "run_pipeline")],
    "job": [("wbkg.job", "main")],
    "sparql": [("wbkg.sparql", "sparql_select"), ("wbkg.sparql", "_collect_pred_stats")],
    "query": [
        ("wbkg.query", "docs_mentioning"),
        ("wbkg.query", "entity_neighborhood"),
        ("wbkg.query", "sibling_chunks_via_entities"),
    ],
    "communities": [
        ("wbkg.communities", "cooccurrence_edges"),
        ("wbkg.communities", "hierarchical_communities"),
        ("wbkg.communities", "final_communities"),
    ],
    "graph_analytics": [("wbkg.graph_analytics", "pagerank")],
}

COMMON = ("self_s", "rows_out", "task_s", "python_s", "shuffle_write_mb", "spill_mb", "gc_s", "jobs")
EXTRAS = {
    "extract": ("task_skew",),
    "link": ("task_skew", "hit_ratio"),
    "canonicalize": ("collapse_ratio",),
    "materialize": ("dedup_ratio",),
    "checkpoint": ("recompute_ratio", "written_mb"),
    "sparql": ("stats_jobs_per_call",),
    "graph_analytics": ("persisted_rdds_after",),
}
_UNIT = {
    "self_s": "s", "rows_out": "count", "task_s": "s", "python_s": "s",
    "shuffle_write_mb": "MB", "spill_mb": "MB", "gc_s": "s", "jobs": "count",
    "task_skew": "ratio", "hit_ratio": "ratio", "collapse_ratio": "ratio",
    "dedup_ratio": "ratio", "recompute_ratio": "ratio", "written_mb": "MB",
    "stats_jobs_per_call": "jobs/call", "persisted_rdds_after": "count",
    "wall_s": "s", "coverage": "ratio",
}
# spans of the tracer's own counting jobs (not a program layer; the other
# non-layer spans are the benchmark's operations, the roots)
TRACE = "trace"
GROUP_PREFIX = "pb-span-"


def metric_names() -> List[str]:
    """Every per-layer metric the traced run prints, in a fixed order."""
    names = [f"{layer}.{m}" for layer in LAYERS for m in COMMON + EXTRAS.get(layer, ())]
    return names + ["trace.wall_s", "trace.coverage"]


UNITS = {name: _UNIT[name.split(".", 1)[1]] for name in metric_names()}


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for fn in files:
            total += os.path.getsize(os.path.join(dirpath, fn))
    return total


def interval_union(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: List[dict]) -> Dict[int, float]:
    """span id -> duration minus the part of it covered by child spans."""
    children = defaultdict(list)
    for sp in spans:
        if sp["parent"] is not None:
            children[sp["parent"]].append((sp["start"], sp["end"]))
    return {
        sp["id"]: (sp["end"] - sp["start"]) - interval_union(children[sp["id"]])
        for sp in spans
    }


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: List[dict] = []
        self._stack: List[dict] = []
        self.counts: Dict[str, float] = defaultdict(float)
        self._restore: List[tuple] = []
        self._rows_of: Dict[int, tuple] = {}  # id(DataFrame) -> (DataFrame, rows)

    # -- spans ---------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, layer: str, fn: str):
        sp = {
            "id": len(self.spans),
            "layer": layer,
            "fn": fn,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "rows": None,
        }
        self.spans.append(sp)
        prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setLocalProperty("spark.jobGroup.id", f"{GROUP_PREFIX}{sp['id']}")
        self._stack.append(sp)
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev_group)

    # -- wrappers ------------------------------------------------------------

    def wrap(self, layer: str, name: str, fn: Callable) -> Callable:
        from pyspark.sql import DataFrame

        short = name.rsplit(".", 1)[-1]
        pre = getattr(self, f"_pre_{short}", None)
        post = getattr(self, f"_post_{short}", None)

        def wrapper(*args, **kwargs):
            with self.span(layer, name) as sp:
                state = pre(args) if pre else None
                out = fn(*args, **kwargs)
                if isinstance(out, DataFrame):
                    out = out.persist()
                    sp["rows"] = out.count()
                    self._rows_of[id(out)] = (out, sp["rows"])
                if post:
                    with self.span(TRACE, name):
                        post(sp, args, out, state)
            return out

        wrapper.__wrapped__ = fn
        wrapper.__name__ = getattr(fn, "__name__", name)
        return wrapper

    def install(self) -> None:
        """Wrap every function of LAYERS wherever a wbkg module refers to it."""
        import importlib

        for targets in LAYERS.values():
            for mod_name, _attr in targets:
                importlib.import_module(mod_name)
        wbkg_mods = [m for n, m in list(sys.modules.items()) if n.startswith("wbkg") and m]
        for layer, targets in LAYERS.items():
            for mod_name, attr in targets:
                mod = sys.modules[mod_name]
                if "." in attr:
                    cls_name, meth = attr.split(".")
                    cls = getattr(mod, cls_name)
                    orig = cls.__dict__[meth]
                    self._restore.append((cls, meth, orig))
                    setattr(cls, meth, self.wrap(layer, attr, orig))
                    continue
                orig = getattr(mod, attr)
                wrapped = self.wrap(layer, attr, orig)
                for m in wbkg_mods:
                    for name, val in list(vars(m).items()):
                        if val is orig:
                            self._restore.append((m, name, orig))
                            setattr(m, name, wrapped)

    def uninstall(self) -> None:
        for owner, name, orig in reversed(self._restore):
            setattr(owner, name, orig)
        self._restore.clear()

    def _rows(self, df) -> int:
        """Row count of a DataFrame, free when a wrapper already counted it."""
        seen = self._rows_of.get(id(df))
        return seen[1] if seen and seen[0] is df else df.count()

    # -- layer-specific counts: _pre_* runs before the wrapped call, _post_*
    #    after the boundary count, inside a TRACE span

    def _post_link_mentions(self, sp, args, out, state):
        from pyspark.sql import functions as F

        self.counts["link.hits"] += out.filter(F.col("qid").isNotNull()).count()
        self.counts["link.mentions"] += sp["rows"]

    def _post_canonical_map(self, sp, args, out, state):
        self.counts["canonicalize.members"] += sp["rows"]
        self.counts["canonicalize.canonical"] += out.select("canonical_id").distinct().count()

    def _post_union_distinct(self, sp, args, out, state):
        self.counts["materialize.union_in"] += sum(self._rows(f) for f in args)
        self.counts["materialize.union_out"] += sp["rows"]

    @staticmethod
    def _pre_run_stage(args) -> int:
        mgr, stage = args[0], args[1]
        return sum(
            _dir_bytes(os.path.join(mgr.base_dir, s)) for s in (stage, stage + "__done")
        )

    def _post_run_stage(self, sp, args, out, state):
        mgr, work = args[0], args[2]
        self.counts["checkpoint.written_bytes"] += self._pre_run_stage(args) - state
        self.counts["checkpoint.recomputed"] += mgr.last_recomputed
        self.counts["checkpoint.work"] += self._rows(work)

    def _pre_pagerank(self, args) -> int:
        return len(self.sc._jsc.getPersistentRDDs())

    def _post_pagerank(self, sp, args, out, state):
        self.counts["graph_analytics.persisted_rdds_after"] += self._pre_pagerank(args) - state

    # -- per-layer metrics ---------------------------------------------------

    def layer_metrics(self, event_log_dir: str, op_spans: List[dict]) -> Dict[str, float]:
        """Per-layer metrics from the spans and the session's event log."""
        by_span = read_event_log(event_log_dir)
        span_layer = {sp["id"]: sp["layer"] for sp in self.spans}
        selfs = self_times(self.spans)
        acc = {layer: defaultdict(float) for layer in LAYERS}
        stage_times = {layer: {} for layer in LAYERS}
        stats_jobs = 0
        for sp in self.spans:
            layer = sp["layer"]
            if layer not in acc:
                continue
            a = acc[layer]
            a["self_s"] += selfs[sp["id"]]
            parent_layer = span_layer.get(sp["parent"])
            if sp["rows"] is not None and parent_layer != layer:
                a["rows_out"] += sp["rows"]
            m = by_span.get(sp["id"])
            if not m:
                continue
            for k in ("task_s", "python_s", "shuffle_write_mb", "spill_mb", "gc_s", "jobs"):
                a[k] += m[k]
            stage_times[layer].update(m["stage_task_s"])
            if sp["fn"] == "_collect_pred_stats":
                stats_jobs += m["jobs"]

        c = self.counts
        out: Dict[str, float] = {}
        for layer, a in acc.items():
            for k in COMMON:
                out[f"{layer}.{k}"] = float(a[k])
        for layer in ("extract", "link"):
            out[f"{layer}.task_skew"] = task_skew(stage_times[layer])
        out["link.hit_ratio"] = _ratio(c["link.hits"], c["link.mentions"])
        out["canonicalize.collapse_ratio"] = _ratio(
            c["canonicalize.members"], c["canonicalize.canonical"]
        )
        out["materialize.dedup_ratio"] = _ratio(c["materialize.union_out"], c["materialize.union_in"])
        out["checkpoint.recompute_ratio"] = _ratio(c["checkpoint.recomputed"], c["checkpoint.work"])
        out["checkpoint.written_mb"] = c["checkpoint.written_bytes"] / 1e6
        calls = sum(1 for sp in self.spans if sp["fn"] == "sparql_select")
        out["sparql.stats_jobs_per_call"] = _ratio(stats_jobs, calls)
        out["graph_analytics.persisted_rdds_after"] = float(
            c["graph_analytics.persisted_rdds_after"]
        )
        self.summary = [
            {"layer": sp["layer"], "fn": sp["fn"], "parent": sp["parent"],
             "dur_s": sp["end"] - sp["start"], "self_s": selfs[sp["id"]], "rows": sp["rows"],
             **{k: v for k, v in by_span.get(sp["id"], {}).items() if k != "stage_task_s"}}
            for sp in self.spans
        ]
        wall = sum(sp["end"] - sp["start"] for sp in op_spans)
        bench_self = sum(selfs[sp["id"]] for sp in op_spans)
        trace_s = sum(sp["end"] - sp["start"] for sp in self.spans if sp["layer"] == TRACE)
        out["trace.wall_s"] = wall
        out["trace.coverage"] = _ratio(wall - bench_self - trace_s, wall)
        return {k: out[k] for k in metric_names()}


def _ratio(num: float, den: float) -> float:
    return float(num) / den if den else 0.0


def task_skew(stage_task_s: Dict[int, List[float]]) -> float:
    """max / median task time of the stage with the most total task time
    (0 when the layer ran no task)."""
    if not stage_task_s:
        return 0.0
    tasks = max(stage_task_s.values(), key=sum)
    med = statistics.median(tasks)
    return max(tasks) / med if med else 0.0


def read_event_log(event_log_dir: str) -> Dict[int, dict]:
    """span id -> task metrics summed over the jobs of its job group.

    Spark writes `eventlog_v2_<app>/events_<n>_<app>` (rolling) or a single
    `<app>` file; with spark.eventLog.compress=false both are JSON lines."""
    files = sorted(glob.glob(os.path.join(event_log_dir, "eventlog_v2_*", "events_*")))
    files += sorted(
        p for p in glob.glob(os.path.join(event_log_dir, "*")) if os.path.isfile(p)
    )
    stage_span: Dict[int, int | None] = {}
    out: Dict[int, dict] = {}

    def slot(span_id: int) -> dict:
        return out.setdefault(
            span_id,
            {"task_s": 0.0, "python_s": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
             "gc_s": 0.0, "jobs": 0, "stage_task_s": {}},
        )

    for path in files:
        with open(path) as fh:
            for line in fh:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    span_id = (
                        int(group[len(GROUP_PREFIX):]) if group.startswith(GROUP_PREFIX) else None
                    )
                    if span_id is not None:
                        slot(span_id)["jobs"] += 1
                    # a stage belongs to the first job that lists it; later
                    # jobs list it again only as skipped
                    for sid in ev["Stage IDs"]:
                        stage_span.setdefault(sid, span_id)
                elif '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    span_id = stage_span.get(ev["Stage ID"])
                    if span_id is None:
                        continue
                    m = slot(span_id)
                    tm = ev.get("Task Metrics") or {}
                    run_s = tm.get("Executor Run Time", 0) / 1000.0
                    m["task_s"] += run_s
                    m["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
                    m["spill_mb"] += (
                        tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                    ) / 1e6
                    sw = tm.get("Shuffle Write Metrics") or {}
                    m["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        if acc.get("Name") == "time to run Python workers":
                            m["python_s"] += int(acc.get("Update") or 0) / 1000.0
                    m["stage_task_s"].setdefault(ev["Stage ID"], []).append(run_s)
    return out
