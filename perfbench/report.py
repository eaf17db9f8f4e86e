"""Per-layer metrics of a traced run.

Every additive metric is averaged per measured operation (a crawl round
or a registry query), so runs of different length compare.  Layers a
workload does not exercise read 0.
"""

from __future__ import annotations

from collections import defaultdict

from stats import median
from tracing import EventLog, Span, idle_time, self_times, span_of_job
from workloads import dir_bytes

PHASES = ["gate", "fetch_write", "trace", "fetch_verify", "corpus", "links",
          "seen", "frontier", "lineage"]
SPAN_LAYERS = ["round", "icelite", "dedup", "fetch", "images", "functions",
               "politeness", "robots", "gates", "query", "analysis_dedup",
               "analysis_similarity", "analysis_text", "analysis_media",
               "operators_stats"]
# layers whose calls only build lazy plans: their executor time lands in
# the span of the action that runs the plan, so only self time is kept
LAZY_LAYERS = {"fetch", "images", "functions", "politeness", "robots", "gates",
               "analysis_dedup", "analysis_similarity", "analysis_text",
               "analysis_media", "operators_stats"}
PY_LAYERS = ["fetch", "images", "functions", "dedup", "other"]
QUERY_MODULES = ["analysis_dedup", "analysis_similarity", "analysis_text",
                 "analysis_media", "operators_stats", "sql"]
BLOOM_BUILD = {"dedup.build_bloom_shards", "dedup.write_bloom_shard_files"}
BLOOM_UPDATE = {"dedup.update_bloom_shards", "dedup.update_bloom_shard_files"}


def icelite_hooks() -> dict:
    """Bytes each icelite write call put on disk, read from its output."""
    from topicalcrawler_spark import icelite

    def snapshot_bytes(table_dir, snap):
        return dir_bytes(icelite.read_manifest(table_dir, snap)["data_dir"])

    return {
        "icelite.commit": lambda a, kw, snap: {"bytes": snapshot_bytes(a[1], snap)},
        "icelite.compact": lambda a, kw, snap: {"bytes": snapshot_bytes(a[1], snap)},
        "icelite.commit_files": lambda a, kw, snap: {"bytes": dir_bytes(a[1])},
    }


class Attribution:
    """Stages of the measured section, each tied to the span that caused
    it and, inside a crawl round, to the phase it ran in."""

    def __init__(self, evlog: EventLog, spans: list[Span], main_thread: int,
                 window: tuple[float, float], op_layers: set[str]):
        self.evlog, self.spans = evlog, spans
        lo, hi = window[0] * 1000, window[1] * 1000
        self.jobs = {j.id: j for j in evlog.jobs.values() if lo <= j.submit_ms <= hi}
        self.stages = [s for s in evlog.stages.values() if s.job in self.jobs]
        self.job_span = {
            jid: span_of_job(j, spans, op_layers, main_thread)
            for jid, j in self.jobs.items()
        }
        phases = [s for s in spans if s.name.startswith("phase.")]
        self.job_phase = {}
        for jid, j in self.jobs.items():
            t = j.submit_ms / 1000.0
            hit = [p for p in phases if p.start <= t <= p.end]
            self.job_phase[jid] = hit[-1] if hit else None

    def layer_of(self, stage) -> str | None:
        span = self.job_span.get(stage.job)
        return span.layer if span is not None else None

    def attributed_share(self) -> float:
        total = sum(s.run_ms for s in self.stages)
        named = sum(s.run_ms for s in self.stages if self.job_span.get(s.job) is not None)
        return named / total if total else 1.0


def phase_table(att: Attribution, rounds: list[Span]) -> dict:
    """Phase x layer table: for each phase, the mean per round of
    executor seconds by span layer, Python-worker seconds by UDF layer,
    and shuffle bytes."""
    ids = {r.id for r in rounds}
    if not ids:
        return {}
    rows: dict = defaultdict(lambda: defaultdict(float))
    for st in att.stages:
        ph = att.job_phase.get(st.job)
        if ph is None or ph.parent not in ids:
            continue
        row = rows[ph.name[len("phase."):]]
        row[f"exec.{att.layer_of(st) or 'unattributed'}_s"] += st.run_ms / 1000 / len(ids)
        for layer, m in st.py.items():
            row[f"python.{layer}_s"] += m.get("python_ms", 0) / 1000 / len(ids)
        row["shuffle_bytes"] += st.shuffle_write / len(ids)
    wall = defaultdict(float)
    for s in att.spans:
        if s.name.startswith("phase.") and s.parent in ids:
            wall[s.name[len("phase."):]] += (s.end - s.start) / len(ids)
    return {p: {"wall_s": wall[p], **rows.get(p, {})} for p in PHASES}


def per_layer(res, spans: list[Span], att: Attribution, entries: dict,
              steal_s: float, traced_e2e: dict) -> tuple[dict, dict]:
    """Returns ({metric: value}, phase table)."""
    n_ops = max(len(res.ops), 1)
    out: dict[str, float] = {}
    round_ops = [o for o in res.ops if o.name.startswith("round")]
    n_rounds = max(len(round_ops), 1)

    # plans.round: phases and counters the round returns
    for p in PHASES:
        out[f"round.{p}_s"] = sum(o.stats.get("phases", {}).get(p, 0.0)
                                  for o in round_ops) / n_rounds
    round_spans = [s for s in spans if s.name == "round.crawl_round" and s.parent is None]
    jobs_in, idle = 0, 0.0
    busy = [(j.submit_ms / 1000, j.end_ms / 1000) for j in att.jobs.values()]
    for r in round_spans:
        jobs_in += sum(1 for j in att.jobs.values() if r.start <= j.submit_ms / 1000 <= r.end)
        idle += idle_time(r.start, r.end, busy)
    out["round.spark_jobs"] = jobs_in / n_rounds
    out["round.driver_idle_s"] = idle / n_rounds
    st = [o.stats for o in round_ops]
    out["fetch.pages"] = sum(s.get("n_fetched", 0) for s in st) / n_rounds
    out["robots.blocked"] = sum(s.get("n_robots_blocked", 0) for s in st) / n_rounds
    out["images.verify_failed"] = float(sum(s.get("n_verify_failed", 0) for s in st))
    cand = sum(s.get("n_candidates", 0) for s in st)
    out["dedup.new_per_candidate"] = sum(s.get("n_new", 0) for s in st) / cand if cand else 0.0
    out["icelite.seen_files"] = sum(s.get("seen_files", 0) for s in st) / n_rounds

    # icelite and dedup calls, from the spans
    def calls(names):
        sel = [s for s in spans if s.name in names]
        return len(sel) / n_ops, sum(s.end - s.start for s in sel) / n_ops, sel

    c, t, sel = calls({"icelite.commit", "icelite.commit_files"})
    # a compaction commits through commit(): count those bytes once, as rewritten
    written = sum(s.attrs.get("bytes", 0) for s in sel
                  if s.parent is None or spans[s.parent].name != "icelite.compact")
    out["icelite.commit.calls"], out["icelite.commit.s"] = c, t
    out["icelite.commit.bytes"] = written / n_ops
    c, t, sel = calls({"icelite.compact"})
    rewritten = sum(s.attrs.get("bytes", 0) for s in sel)
    out["icelite.compact.calls"], out["icelite.compact.s"] = c, t
    out["icelite.compact.bytes_rewritten"] = rewritten / n_ops
    out["icelite.expire.s"] = calls({"icelite.expire_snapshots"})[1]
    stored = res.info.get("stored_bytes", [])
    out["icelite.stored_mb"] = median(stored) / 2**20 if stored else 0.0
    out["icelite.write_amp"] = (written + rewritten) / sum(stored) if stored else 0.0
    out["dedup.bloom_build.calls"], out["dedup.bloom_build.s"], _ = calls(BLOOM_BUILD)
    out["dedup.bloom_update.calls"], out["dedup.bloom_update.s"], _ = calls(BLOOM_UPDATE)
    out["dedup.seen_phase.shuffle_bytes"] = sum(
        s.shuffle_write for s in att.stages
        if (att.job_phase.get(s.job) is not None
            and att.job_phase[s.job].name == "phase.seen")) / n_rounds

    # Python UDF layers, from the plan-node SQL metrics
    py = {layer: defaultdict(int) for layer in PY_LAYERS}
    for s in att.stages:
        for layer, m in s.py.items():
            for k, v in m.items():
                py[layer][k] += v
    out["fetch.python_s"] = py["fetch"]["python_ms"] / 1000 / n_ops
    out["fetch.arrow_from_py_bytes"] = py["fetch"]["from_py_bytes"] / n_ops
    out["images.verified"] = py["images"]["rows"] / n_ops
    out["images.python_s"] = py["images"]["python_ms"] / 1000 / n_ops
    out["dedup.probe.python_s"] = py["dedup"]["python_ms"] / 1000 / n_ops

    # executor time and driver self time by layer
    exec_s = defaultdict(float)
    for s in att.stages:
        exec_s[att.layer_of(s)] += s.run_ms / 1000
    # phase spans are windows reconstructed after the round, not calls
    calls_only = [s for s in spans if not s.name.startswith("phase.")]
    selfs = self_times(calls_only)
    self_s = defaultdict(float)
    for s in calls_only:
        self_s[s.layer] += selfs[s.id]
    for layer in SPAN_LAYERS:
        if layer not in LAZY_LAYERS:
            out[f"exec.{layer}.s"] = exec_s[layer] / n_ops
        out[f"span.{layer}.self_s"] = self_s[layer] / n_ops

    # registry entries
    for name, module in entries.items():
        walls = [o.ref_s for o in res.ops if o.name == name]
        out[f"query.{name}.s"] = median(walls) if walls else 0.0
    for module in QUERY_MODULES:
        out[f"query.{module}.s"] = sum(
            out[f"query.{n}.s"] for n, m in entries.items() if m == module)

    # Spark totals of the measured section
    stages = att.stages
    out["spark.executor_cpu_s"] = sum(s.cpu_ns for s in stages) / 1e9 / n_ops
    out["spark.python_s"] = sum(m["python_ms"] for m in py.values()) / 1000 / n_ops
    out["spark.arrow_to_py_bytes"] = sum(m["to_py_bytes"] for m in py.values()) / n_ops
    out["spark.arrow_from_py_bytes"] = sum(m["from_py_bytes"] for m in py.values()) / n_ops
    out["spark.shuffle_write_bytes"] = sum(s.shuffle_write for s in stages) / n_ops
    out["spark.spill_bytes"] = sum(s.spill for s in stages) / n_ops
    out["spark.peak_exec_mem_mb"] = max((s.peak_mem for s in stages), default=0) / 2**20
    out["spark.jobs"] = len(att.jobs) / n_ops
    out["spark.tasks"] = sum(s.tasks for s in stages) / n_ops
    out["spark.task_failures"] = float(sum(s.failed for s in stages))

    out["trace.attributed_share"] = att.attributed_share()
    out["trace.op_s_gmean"] = traced_e2e["op_s_gmean"]
    out["trace.pass_s"] = traced_e2e["pass_s"]
    out["noise.steal_s"] = steal_s
    return out, phase_table(att, round_spans)
