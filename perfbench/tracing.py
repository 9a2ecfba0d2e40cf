"""Per-layer tracing of ``run_crawl`` from outside the program.

``Tracer`` wraps each layer's public function at the name the scheduler
looks it up under. A wrapped call runs under its own ``setJobGroup``
tag, persists its primary output and counts it, so the span times the
layer's execution, not just its plan building. Spark stage metrics are
harvested afterwards from the status store and attributed to a layer
through the job group of the job that first ran each stage.

The scheduler's concurrent state writes run on its own threads, under
the ``commit`` group the tracer sets once fetch returns or, on a thread
that did not inherit it, under no group; within a crawl's job-id range
ungrouped jobs count as ``commit`` too.
"""

from __future__ import annotations

import importlib
import json
import os
import time
from collections import defaultdict

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cola_spark.stateio import LocalStateIO

SCHED = "cola_spark.plans.scheduler"
LAYER_FUNCS = {
    "urls": [(SCHED, "prepare_frontier")],
    "dedup": [(SCHED, "admit"), (SCHED, "admit_filtered")],
    "robots": [(SCHED, "robots_gate")],
    "budget": [
        (SCHED, "budget_caps"),
        ("cola_spark.operators.budget", "round_outcomes"),
        ("cola_spark.operators.budget", "update_budget_state_outcomes"),
    ],
    "priority": [(SCHED, "schedule_cut"), (SCHED, "apply_global_cap")],
    "fetch": [("cola_spark.operators.fetch", "fetch_decode_verify"), (SCHED, "synthetic_fetch")],
    "discover": [(SCHED, "discover_links"), (SCHED, "split_retry")],
    "ranking": [(SCHED, "crawl_log")],
}
ROW_LAYERS = ["urls", "dedup", "robots", "priority", "fetch"]
# per-layer GC time and spill read 0 for most layers at benchmark sizes;
# GC is reported only as the untraced crawl's total (crawl.gc_s)
STAGE_SUFFIXES = ["exec_run_s", "shuffle_write_bytes", "jobs", "tasks"]
UNITS = {
    "wall_s": "s", "self_s": "s", "log_s": "s", "state_s": "s", "exec_run_s": "s",
    "shuffle_write_bytes": "bytes", "jobs": "count", "tasks": "count",
    "rows_in": "rows", "rows_out": "rows",
}
RATIOS = [
    "dedup.admit_ratio", "dedup.suspect_ratio", "robots.block_ratio",
    "priority.sched_ratio", "fetch.ok_ratio", "fetch.invariant_ok_ratio",
]


def layer_metric_names() -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric a traced run prints."""
    out = []
    for layer in LAYER_FUNCS:
        sfx = ["wall_s", *STAGE_SUFFIXES, "rows_out"]
        if layer != "ranking":  # crawl_log takes no frame in
            sfx.append("rows_in")
        out += [(f"{layer}.{s}", UNITS[s]) for s in sfx]
    out.append(("stateio.wall_s", "s"))
    out += [(f"commit.{s}", UNITS[s]) for s in ["wall_s", "log_s", "state_s", *STAGE_SUFFIXES]]
    out += [(f"scheduler.{s}", UNITS[s]) for s in ["wall_s", "self_s", *STAGE_SUFFIXES]]
    out += [(r, "ratio") for r in RATIOS]
    out += [(f"{layer}.speedup_1to4", "x") for layer in ROW_LAYERS]
    out += [("crawl.jobs", "count"), ("crawl.tasks", "count"), ("crawl.gc_s", "s"), ("trace.overhead_s", "s")]
    return out


class TracingIO(LocalStateIO):
    """LocalStateIO that records a span per call and hands manifest
    commits to the tracer (which closes the round there)."""

    def __init__(self, tracer: "Tracer"):
        self.tracer = tracer

    def _timed(self, fn, *args):
        t0 = time.perf_counter()
        try:
            return fn(*args)
        finally:
            self.tracer.span("stateio", t0, time.perf_counter())

    def exists(self, path):
        if os.path.basename(path) == "manifest.json":
            self.tracer.state_barrier_done(time.perf_counter())
        return self._timed(super().exists, path)

    def makedirs(self, path):
        return self._timed(super().makedirs, path)

    def read_text(self, path):
        return self._timed(super().read_text, path)

    def list_dirs(self, pattern):
        return self._timed(super().list_dirs, pattern)

    def write_text_atomic(self, path, data):
        self._timed(super().write_text_atomic, path, data)
        if os.path.basename(path) == "manifest.json":
            self.tracer.round_committed(time.perf_counter(), json.loads(data)["stats"])


class Tracer:
    """Spans and row counts of one traced crawl; use as a context
    manager around ``run_crawl`` (the wrappers are installed only
    inside it)."""

    def __init__(self, spark, crawl_id: str):
        self.sc = spark.sparkContext
        self.crawl_id = crawl_id
        self.spans: list[dict] = []
        self.counts: dict[str, dict[str, int]] = defaultdict(lambda: defaultdict(int))
        self.round = 0
        self.round_start = None
        self.round_walls: list[float] = []
        self.phase = "scheduler"
        self._last_fetch_end = None
        self._barrier_end = None
        self._persisted: list[DataFrame] = []
        self._saved: list = []

    # ---- job groups and spans ----
    def tag(self, name: str) -> str:
        return f"{self.crawl_id}.{name}"

    def _group(self, name: str) -> None:
        self.sc.setJobGroup(self.tag(name), name)

    def span(self, name: str, start: float, end: float) -> None:
        self.spans.append({"name": name, "start": start, "end": end, "round": self.round})

    def finished_spans(self) -> list[dict]:
        """Spans with their parent: the round they ran in, or the crawl
        for what runs after the last commit (crawl_log)."""
        n = len(self.round_walls)
        return [
            dict(s, parent="crawl" if s["name"] == "round" or s["round"] >= n else f"round{s['round']}")
            for s in self.spans
        ]

    def state_barrier_done(self, t: float) -> None:
        self._barrier_end = t

    def round_committed(self, t: float, stats: dict) -> None:
        log_s, state_s = stats["log_secs"], stats["state_secs"]
        self.span("commit.log", self._last_fetch_end, self._last_fetch_end + log_s)
        self.span("commit.state", self._barrier_end - state_s, self._barrier_end)
        self.span("round", self.round_start, t)
        self.round_walls.append(t - self.round_start)
        # the round's writes are done: release what the wrappers pinned
        while self._persisted:
            self._persisted.pop().unpersist()
        self.round += 1
        self.round_start = t
        self.phase = "scheduler"
        self._group(self.phase)

    # ---- wrappers ----
    def _wrap(self, layer: str, fn):
        def traced(*args, **kwargs):
            df_in = next((a for a in args if isinstance(a, DataFrame)), None)
            if df_in is not None:
                self._group("trace")
                t0 = time.perf_counter()
                n = df_in.count()
                self.counts[layer]["rows_in"] += n
                self.counts[layer][f"{fn.__name__}.rows_in"] += n
                self.span("trace", t0, time.perf_counter())
            self._group(layer)
            t0 = time.perf_counter()
            out = fn(*args, **kwargs)
            primary = out[0] if isinstance(out, tuple) else out
            primary.persist()
            self._persisted.append(primary)
            self._materialize(layer, fn.__name__, primary)
            t1 = time.perf_counter()
            self.span(layer, t0, t1)
            if layer == "fetch":
                self._last_fetch_end = t1
                self.phase = "commit"  # the log write follows
            self._group(self.phase)
            return out

        traced.__wrapped__ = fn
        return traced

    def _materialize(self, layer: str, fname: str, df: DataFrame) -> None:
        c = self.counts[layer]
        if layer == "fetch":
            aggs = [F.count(F.lit(1)), F.sum(F.col("fetch_ok").cast("long"))]
            decoded = "invariant_ok" in df.columns
            if decoded:
                aggs.append(F.sum(F.col("invariant_ok").cast("long")))
            row = df.agg(*aggs).first()
            c["rows_out"] += row[0]
            c["ok"] += row[1] or 0
            if decoded:
                c["decoded"] += row[1] or 0
                c["invariant_ok"] += row[2] or 0
            return
        n = df.count()
        c["rows_out"] += n
        c[f"{fname}.rows_out"] += n
        if fname == "admit_filtered":
            # the cogroup result admit_filtered pinned for this round:
            # suspect = filter-positive first occurrence, sent to the
            # exact seen-set verify
            from cola_spark.operators import dedup

            res = dedup._PERSISTED[-1]
            row = res.filter(F.col("blob").isNull() & ~F.col("force")).agg(
                F.count(F.lit(1)), F.sum(F.col("suspect").cast("long"))
            ).first()
            c["probed"] += row[0]
            c["suspects"] += row[1] or 0

    def __enter__(self):
        for layer, funcs in LAYER_FUNCS.items():
            for mod_name, attr in funcs:
                mod = importlib.import_module(mod_name)
                orig = getattr(mod, attr)
                self._saved.append((mod, attr, orig))
                setattr(mod, attr, self._wrap(layer, orig))
        self.round_start = time.perf_counter()
        self._group(self.phase)
        return self

    def __exit__(self, *exc):
        for mod, attr, orig in reversed(self._saved):
            setattr(mod, attr, orig)
        self._saved.clear()
        while self._persisted:
            self._persisted.pop().unpersist()
        self.sc.setJobGroup(self.tag("bench"), "bench")
        return False

    # ---- results ----
    def layer_table(self, stage_metrics: dict) -> dict[str, float]:
        """Per-layer metrics of this crawl (without ratios to other runs)."""
        spans = self.finished_spans()
        wall = defaultdict(float)
        for s in spans:
            if s["name"] != "round":
                wall[s["name"]] += s["end"] - s["start"]
        m = {}
        for layer in LAYER_FUNCS:
            m[f"{layer}.wall_s"] = wall[layer]
            m[f"{layer}.rows_out"] = self.counts[layer]["rows_out"]
            if layer != "ranking":
                m[f"{layer}.rows_in"] = self.counts[layer]["rows_in"]
        m["stateio.wall_s"] = wall["stateio"]
        m["commit.log_s"] = wall["commit.log"]
        m["commit.state_s"] = wall["commit.state"]
        m["commit.wall_s"] = wall["commit.log"] + wall["commit.state"]
        rounds = self.round_accounting()
        m["scheduler.wall_s"] = sum(r["wall_s"] for r in rounds)
        m["scheduler.self_s"] = sum(r["self_s"] for r in rounds)
        for layer in [*LAYER_FUNCS, "commit", "scheduler"]:
            for k in STAGE_SUFFIXES:
                m[f"{layer}.{k}"] = stage_metrics.get(layer, {}).get(k, 0)
        c = self.counts
        m["dedup.admit_ratio"] = c["dedup"]["rows_out"] / max(c["dedup"]["rows_in"], 1)
        m["dedup.suspect_ratio"] = (
            c["dedup"]["suspects"] / max(c["dedup"]["probed"], 1)
            if c["dedup"]["probed"] else 1.0  # exact mode probes the seen set with every row
        )
        m["robots.block_ratio"] = 1 - c["robots"]["rows_out"] / max(c["robots"]["rows_in"], 1)
        m["priority.sched_ratio"] = (
            c["priority"]["apply_global_cap.rows_out"] / max(c["priority"]["schedule_cut.rows_in"], 1)
        )
        m["fetch.ok_ratio"] = c["fetch"]["ok"] / max(c["fetch"]["rows_out"], 1)
        # vacuously 1.0 when the workload does not decode
        m["fetch.invariant_ok_ratio"] = (
            c["fetch"]["invariant_ok"] / c["fetch"]["decoded"] if c["fetch"]["decoded"] else 1.0
        )
        return m

    def round_accounting(self) -> list[dict]:
        """Per round: wall time, the summed and the merged (union)
        length of its child spans, and self time = wall - union. A sum
        above the union means child spans overlap."""
        spans = self.finished_spans()
        out = []
        for r, wall in enumerate(self.round_walls):
            kids = sorted((s["start"], s["end"]) for s in spans if s["parent"] == f"round{r}")
            union, reach = 0.0, float("-inf")
            for a, b in kids:
                union += max(0.0, b - max(a, reach))
                reach = max(reach, b)
            out.append({
                "round": r, "wall_s": wall, "children_sum_s": sum(b - a for a, b in kids),
                "children_union_s": union, "self_s": wall - union,
            })
        return out

    def round_layer_wall(self, rnd: int) -> dict[str, float]:
        out = defaultdict(float)
        for s in self.finished_spans():
            if s["parent"] == f"round{rnd}":
                out[s["name"]] += s["end"] - s["start"]
        return out


def job_id_high(sc) -> int:
    """Highest job id the status store has seen (-1 before any job)."""
    jobs = sc._jsc.sc().statusStore().jobsList(sc._jvm.java.util.ArrayList())
    n = jobs.size()
    return max([jobs.apply(0).jobId(), jobs.apply(n - 1).jobId()]) if n else -1


def stage_metrics(sc, first_job: int, last_job: int, prefix: str | None) -> dict[str, dict]:
    """Stage metrics of jobs first_job..last_job, summed per job-group
    name (the tag after ``prefix.``; None for all jobs under "crawl").
    A stage counts for the first job that ran it."""
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    jobs = store.jobsList(jvm.java.util.ArrayList())
    owner: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    rows = []
    for i in range(jobs.size()):
        j = jobs.apply(i)
        if first_job <= j.jobId() <= last_job:
            rows.append(j)
    for j in sorted(rows, key=lambda j: j.jobId()):
        g = j.jobGroup()
        group = g.get() if g.isDefined() else None
        if prefix is None:
            name = "crawl"
        elif group is None:
            name = "commit"  # commit-thread jobs carry no group
        elif group.startswith(prefix + "."):
            name = group[len(prefix) + 1:]
        else:
            continue
        out[name]["jobs"] += 1
        ids = j.stageIds()
        for k in range(ids.size()):
            owner.setdefault(ids.apply(k), name)
    stages = store.stageList(
        jvm.java.util.ArrayList(), False, False, sc._gateway.new_array(jvm.double, 0),
        jvm.java.util.ArrayList(),
    )
    for i in range(stages.size()):
        s = stages.apply(i)
        name = owner.get(s.stageId())
        if name is None or s.status().toString() != "COMPLETE":
            continue
        o = out[name]
        o["tasks"] += s.numCompleteTasks()
        o["exec_run_s"] += s.executorRunTime() / 1000.0
        o["gc_s"] += s.jvmGcTime() / 1000.0
        o["shuffle_write_bytes"] += s.shuffleWriteBytes()
    return out
