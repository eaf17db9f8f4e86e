"""Spans around calls into the program, and attribution of the Spark
event log to those spans.

Recording.  ``Tracer.install`` replaces each named public function of
the program's modules with a wrapper that records a span (name, layer,
start, end, parent, thread).  It also wraps the DataFrame, writer and
RDD actions: before an action runs, the Spark job description is set to
the innermost open span of the calling thread, so every job (and every
stage of it) names the call that caused it.  Spans are kept in memory
and written out when the run ends.

Attribution.  ``parse_eventlog`` reads Spark's uncompressed JSON-lines
event log.  A job whose description names a span belongs to that span.
A job without one (submitted from a thread that holds no span, such as
a crawl round's helper thread) belongs to the innermost operation or
crawl-round phase span whose window contains its submission time.
Python-worker time and Arrow bytes come from the SQL metrics of the
Python plan nodes, keyed to a layer by the UDF named in the node.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import sys
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

DESC_PREFIX = "perfbench-span:"

# (module, function names or None for every public function, layer)
CRAWL_TARGETS = [
    ("topicalcrawler_spark.plans.round", ["init_crawl"], "round"),
    ("topicalcrawler_spark.icelite",
     ["commit", "commit_files", "compact", "expire_snapshots",
      "read_snapshot", "file_hash_index"], "icelite"),
    ("topicalcrawler_spark.operators.dedup",
     ["dedup_batch", "anti_join_seen", "anti_join_seen_files",
      "bloom_prefilter", "bloom_prefilter_files", "build_bloom_shards",
      "write_bloom_shard_files", "update_bloom_shards",
      "update_bloom_shard_files"], "dedup"),
    ("topicalcrawler_spark.operators.fetch", ["fetch_selected"], "fetch"),
    ("topicalcrawler_spark.operators.images", ["decode_verify"], "images"),
    ("topicalcrawler_spark.functions", ["with_canon_and_relevance"], "functions"),
    ("topicalcrawler_spark.operators.politeness",
     ["with_budget", "with_crawl_delay_cap", "select_per_host_topk",
      "global_rank", "global_fetch_order"], "politeness"),
    ("topicalcrawler_spark.operators.robots",
     ["latest_robots", "with_robots_decision"], "robots"),
    ("topicalcrawler_spark.operators.gates", ["scheme_depth_gate"], "gates"),
]
ANALYTICS_TARGETS = [
    ("topicalcrawler_spark.analysis.dedup", None, "analysis_dedup"),
    ("topicalcrawler_spark.analysis.similarity", None, "analysis_similarity"),
    ("topicalcrawler_spark.analysis.text", None, "analysis_text"),
    ("topicalcrawler_spark.analysis.media", None, "analysis_media"),
    ("topicalcrawler_spark.operators.stats", None, "operators_stats"),
]

# Python plan node -> layer, by a UDF or output-column name the node's
# description contains (first match wins)
PYTHON_NODE_LAYERS = [
    ("do_fetch", "fetch"),
    ("dec_phash", "images"),
    ("canon_udf", "functions"),
    ("relevance_q_udf", "functions"),
    ("probe", "dedup"),  # bloom probes and the file-probed anti-join
    ("partials", "dedup"),
    ("_merge_shard_group", "dedup"),
]
PYTHON_METRICS = {
    "time to run Python workers": "python_ms",
    "data sent to Python workers": "to_py_bytes",
    "data returned from Python workers": "from_py_bytes",
    "number of output rows": "rows",
}

DF_ACTIONS = ["collect", "count", "first", "head", "take", "toPandas", "toArrow",
              "foreach", "foreachPartition", "show", "isEmpty",
              "toLocalIterator", "checkpoint", "localCheckpoint"]
WRITER_ACTIONS = ["save", "parquet", "json", "csv", "orc", "text",
                  "saveAsTable", "insertInto"]
RDD_ACTIONS = ["collect", "count", "take", "first", "reduce", "fold",
               "aggregate", "foreach", "foreachPartition", "zipWithIndex",
               "collectAsMap", "isEmpty", "top", "takeOrdered"]


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float  # epoch seconds
    end: float = 0.0
    parent: int | None = None
    thread: int = 0
    attrs: dict = field(default_factory=dict)

    def to_json(self, workload: str) -> dict:
        return {**self.__dict__, "workload": workload}


class Tracer:
    def __init__(self, workload: str):
        self.workload = workload
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self.main_thread = threading.get_ident()

    # ---------------------------------------------------------- spans

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str, layer: str) -> Span:
        stack = self._stack()
        with self._lock:
            span = Span(len(self.spans), name, layer, time.time(),
                        parent=stack[-1].id if stack else None,
                        thread=threading.get_ident())
            self.spans.append(span)
        stack.append(span)
        return span

    def close(self, span: Span) -> None:
        span.end = time.time()
        stack = self._stack()
        if stack and stack[-1] is span:
            stack.pop()

    def add_child(self, parent: Span, name: str, layer: str, start: float,
                  end: float) -> Span:
        """Record a span reconstructed after the fact (a crawl round's
        phases, from the timings the round returns)."""
        with self._lock:
            span = Span(len(self.spans), name, layer, start, end, parent.id,
                        parent.thread)
            self.spans.append(span)
        return span

    def innermost(self) -> Span | None:
        stack = self._stack()
        return stack[-1] if stack else None

    # ------------------------------------------------------ patching

    def _wrap(self, fn, name: str, layer: str, hook=None):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            s = tracer.open(name, layer)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer.close(s)
            if hook is not None:  # after close: not part of the span's time
                s.attrs = hook(args, kwargs, out)
            return out

        return wrapper

    def _replace_everywhere(self, orig, wrapper) -> None:
        """Rebind ``orig`` in every program module that imported it by
        name, so calls through ``from x import f`` are traced too."""
        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith("topicalcrawler_spark") or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    self._patches.append((mod, attr, orig))
                    setattr(mod, attr, wrapper)

    def install(self, targets, sc, hooks: dict | None = None) -> None:
        """Wrap the target functions.  ``hooks`` maps a span name to a
        callable(args, kwargs, result) -> dict stored on the span, run
        after the span closes (e.g. bytes a commit wrote)."""
        for mod_name, names, layer in targets:
            mod = importlib.import_module(mod_name)
            if names is None:
                names = [n for n, v in vars(mod).items()
                         if inspect.isfunction(v) and not n.startswith("_")
                         and v.__module__ == mod_name]
            for n in names:
                orig = getattr(mod, n, None)
                if inspect.isfunction(orig):  # a later refactor may drop it
                    name = f"{mod_name.rsplit('.', 1)[-1]}.{n}"
                    self._replace_everywhere(orig, self._wrap(
                        orig, name, layer, (hooks or {}).get(name)))
        self._install_actions(sc)

    def _install_actions(self, sc) -> None:
        from pyspark.core.rdd import RDD
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameWriter

        tracer = self

        def tag(fn):
            @functools.wraps(fn)
            def action(*args, **kwargs):
                s = tracer.innermost()
                prev = sc.getLocalProperty("spark.job.description")
                sc.setLocalProperty(
                    "spark.job.description",
                    f"{DESC_PREFIX}{s.id}" if s is not None else None,
                )
                try:
                    return fn(*args, **kwargs)
                finally:
                    sc.setLocalProperty("spark.job.description", prev)

            return action

        for cls, names in ((DataFrame, DF_ACTIONS),
                           (DataFrameWriter, WRITER_ACTIONS),
                           (RDD, RDD_ACTIONS)):
            for n in names:
                orig = vars(cls).get(n)
                if orig is not None:
                    self._patches.append((cls, n, orig))
                    setattr(cls, n, tag(orig))

    def uninstall(self) -> None:
        for obj, attr, orig in reversed(self._patches):
            setattr(obj, attr, orig)
        self._patches.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.to_json(self.workload)) + "\n")


# ------------------------------------------------------- event log


@dataclass
class Stage:
    id: int
    job: int
    run_ms: int = 0
    cpu_ns: int = 0
    shuffle_write: int = 0
    spill: int = 0
    peak_mem: int = 0
    tasks: int = 0
    failed: int = 0
    py: dict = field(default_factory=lambda: defaultdict(lambda: defaultdict(int)))


@dataclass
class Job:
    id: int
    submit_ms: int
    end_ms: int = 0
    desc: str | None = None


@dataclass
class EventLog:
    jobs: dict[int, Job]
    stages: dict[int, Stage]


def _python_layer(simple: str) -> str:
    for key, layer in PYTHON_NODE_LAYERS:
        if key in simple:
            return layer
    return "other"


def _walk_plan(node: dict, acc_map: dict[int, tuple[str, str]]) -> None:
    name = node.get("nodeName", "")
    if "Python" in name or "Pandas" in name or "Arrow" in name:
        layer = _python_layer(node.get("simpleString", ""))
        for m in node.get("metrics", []):
            key = PYTHON_METRICS.get(m["name"])
            if key is not None:
                acc_map[m["accumulatorId"]] = (layer, key)
    for child in node.get("children", []):
        _walk_plan(child, acc_map)


def parse_eventlog(path: str) -> EventLog:
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    acc_map: dict[int, tuple[str, str]] = {}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                job = Job(e["Job ID"], e["Submission Time"],
                          desc=(e.get("Properties") or {}).get("spark.job.description"))
                jobs[job.id] = job
                for sid in e.get("Stage IDs", []):
                    # a stage listed again by a later job was skipped there
                    stages.setdefault(sid, Stage(sid, job.id))
            elif kind == "SparkListenerJobEnd":
                if e["Job ID"] in jobs:
                    jobs[e["Job ID"]].end_ms = e["Completion Time"]
            elif "sparkPlanInfo" in e:  # SQL execution start / AQE update
                _walk_plan(e["sparkPlanInfo"], acc_map)
            elif kind == "SparkListenerTaskEnd":
                st = stages.get(e["Stage ID"])
                if st is None:
                    continue
                st.tasks += 1
                if (e.get("Task End Reason") or {}).get("Reason") != "Success":
                    st.failed += 1
                m = e.get("Task Metrics") or {}
                st.run_ms += m.get("Executor Run Time", 0)
                st.cpu_ns += m.get("Executor CPU Time", 0)
                st.peak_mem = max(st.peak_mem, m.get("Peak Execution Memory", 0))
                st.spill += m.get("Disk Bytes Spilled", 0)
                st.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                for a in (e.get("Task Info") or {}).get("Accumulables", []):
                    hit = acc_map.get(a.get("ID"))
                    if hit is not None and a.get("Update") is not None:
                        st.py[hit[0]][hit[1]] += int(a["Update"])
    return EventLog(jobs, stages)


def span_of_job(job: Job, spans: list[Span], fallback_layers: set[str],
                main_thread: int) -> Span | None:
    """The span a job belongs to: the one its description names, else
    the innermost main-thread span of ``fallback_layers`` open at its
    submission time."""
    if job.desc and job.desc.startswith(DESC_PREFIX):
        sid = int(job.desc[len(DESC_PREFIX):])
        if 0 <= sid < len(spans):
            return spans[sid]
    t = job.submit_ms / 1000.0
    best = None
    for s in spans:
        if (s.thread == main_thread and s.layer in fallback_layers
                and s.start <= t <= s.end
                and (best is None or s.start >= best.start)):
            best = s
    return best


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of it that child spans cover."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out = {}
    for s in spans:
        covered, cur_end = 0.0, s.start
        for c in sorted(children[s.id], key=lambda c: c.start):
            lo, hi = max(c.start, cur_end), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                cur_end = hi
        out[s.id] = max(0.0, (s.end - s.start) - covered)
    return out


def idle_time(start: float, end: float, busy: list[tuple[float, float]]) -> float:
    """Time in [start, end] that no interval in ``busy`` covers."""
    covered, cur = 0.0, start
    for lo, hi in sorted(busy):
        lo, hi = max(lo, cur), min(hi, end)
        if hi > lo:
            covered += hi - lo
            cur = hi
    return max(0.0, (end - start) - covered)
