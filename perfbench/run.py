"""Crawl-loop benchmark for cola_spark.

One closed-loop client runs one ``plans.scheduler.run_crawl`` at a time
on a ``local[4]`` session built by ``cola_spark.session.get_spark`` and
checks every crawl against the pure-Python oracle
(``plans.oracle.run_oracle``): crawl order, seen set and, for decoded
rows, ``invariant_ok``.

    python3 perfbench/run.py --workload bulk_intake --seed 3 --seconds 5 --trace 0
    python3 perfbench/run.py --self-test

``--trace 0`` prints the end-to-end metrics of untraced crawls.
``--trace 1`` prints per-layer metrics from crawls traced by
``tracing.Tracer``, a ``local[1]`` rerun of round 0 for the row layers'
speedup, and the tracing overhead against an untraced crawl run after
the traced ones. The last line of stdout is the JSON result; lines
before it list each metric with its unit and sample count. Scratch
files live in ``.perfbench/`` under the repository root; traced runs
leave their spans there.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))

from tracing import (  # noqa: E402
    ROW_LAYERS, Tracer, TracingIO, job_id_high, layer_metric_names, stage_metrics,
)
from workloads import ORDER_COLS, WORKLOADS, oracle_reference, read_inputs, write_inputs  # noqa: E402

from cola_spark.plans.scheduler import final_state, run_crawl  # noqa: E402
from cola_spark.stateio import LocalStateIO  # noqa: E402

CORES = 4
DRIVER_MEM = "2g"  # the 24g default heap does not fit a 15 GB box
END_TO_END = [
    ("crawl_urls_per_s", "1/s"), ("first_round_s", "s"), ("round_s_p50", "s"),
    ("setup_s", "s"), ("peak_rss_mb", "MB"),
]


class CommitClock(LocalStateIO):
    """LocalStateIO that timestamps each manifest commit."""

    def __init__(self):
        self.commits: list[float] = []

    def write_text_atomic(self, path, data):
        super().write_text_atomic(path, data)
        if os.path.basename(path) == "manifest.json":
            self.commits.append(time.perf_counter())


class RssSampler:
    """Peak resident memory of this process's descendants (the driver
    JVM and its Python workers), sampled every ``INTERVAL_S``. The JVM,
    our direct child, counts its resident set; the Python processes
    below it (the worker daemons and the workers they fork) count their
    proportional set size, so the pages forked workers share count once.
    Other processes below the JVM are its short-lived process-spawn
    helpers, which share the JVM's address space until they exec and
    would count it twice. Reading the JVM's PSS would walk its whole
    heap's page tables under its memory-map lock, tens of ms per sample,
    and slow the crawl."""

    INTERVAL_S = 0.25

    def __init__(self):
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _tree_rss(self) -> int:
        children: dict[int, list[tuple[int, str]]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    name, rest = f.read().split("(", 1)[1].rsplit(")", 1)
                children.setdefault(int(rest.split()[1]), []).append((int(d), name))
            except (OSError, IndexError, ValueError):
                continue  # exited while listing
        top = children.get(os.getpid(), [])
        total, todo = 0, list(top)
        while todo:
            pid, name = todo.pop()
            todo += children.get(pid, [])
            if (pid, name) in top:
                path, key = f"/proc/{pid}/status", "VmRSS:"
            elif name.startswith("python"):
                path, key = f"/proc/{pid}/smaps_rollup", "Pss:"
            else:
                continue
            try:
                with open(path) as f:
                    kb = next(int(ln.split()[1]) for ln in f if ln.startswith(key))
                total += kb * 1024
            except (OSError, IndexError, ValueError, StopIteration):
                continue  # exited while reading
        return total

    def _run(self):
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._stop.wait(self.INTERVAL_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        return False


class Bench:
    """One workload's session, inputs, oracle reference and crawl loop."""

    def __init__(self, wl, seed: int, work: Path):
        self.wl = wl
        self.seed = seed
        self.work = work
        self.spark = None
        self.cores = None
        self.frames = None
        self.ref = None
        self.n_crawls = 0
        self.attempted = 0
        self.failed = 0

    # ---- session and inputs ----
    def session(self, cores: int):
        if self.cores == cores:
            return self.spark
        if self.spark is not None:
            self.spark.stop()
        from cola_spark.session import get_spark

        tmp = tempfile.gettempdir()
        self.spark = get_spark(
            "perfbench", master=f"local[{cores}]",
            extra_conf={
                # keep every scratch file inside the checkout
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.cores = cores
        if self.frames is not None:  # re-bind the inputs to the new session
            self.frames = read_inputs(self.spark, str(self.work / "inputs"))
        return self.spark

    def setup(self) -> float:
        """Session, inputs, oracle and the workload's full-size warm-up
        crawls; returns setup_s (everything but the oracle, which is the
        benchmark's own work)."""
        t0 = time.perf_counter()
        self.session(CORES)
        session_s = time.perf_counter() - t0
        t = time.perf_counter()
        write_inputs(self.spark, self.wl, self.seed, str(self.work / "inputs"))
        write_s = time.perf_counter() - t
        self.ref = oracle_reference(self.spark, self.wl, str(self.work / "inputs"))
        self.frames = read_inputs(self.spark, str(self.work / "inputs"))
        warm = []
        for _ in range(self.wl.warmups):
            c = self.crawl(CommitClock())
            self.check(c)
            warm.append(c["wall_s"])
        log(f"setup: session {session_s:.2f}s, input write {write_s:.2f}s, "
            f"warm-up crawls {[round(w, 2) for w in warm]}s ({c['rows']} rows)")
        return session_s + write_s + sum(warm)

    # ---- one crawl ----
    def crawl(self, io, max_rounds: int | None = None) -> dict:
        wd = self.work / f"crawl{self.n_crawls}"
        self.n_crawls += 1
        cfg = self.wl.config(str(wd), io)
        if max_rounds is not None:
            cfg.max_rounds = max_rounds
        self.attempted += 1
        t0 = time.perf_counter()
        result = run_crawl(self.spark, *self.frames, cfg)
        rows = result.count()
        wall = time.perf_counter() - t0
        return {"t0": t0, "wall_s": wall, "rows": rows, "log": result, "cfg": cfg, "dir": wd}

    def check(self, c: dict, want_rows: list | None = None) -> list | None:
        """Compare a crawl with the oracle (a crawl cut short by
        ``max_rounds`` with the oracle's first rounds) and, if given,
        with ``want_rows`` row for row; count a mismatch as failed and
        delete the crawl's state. Returns the crawl's rows, or None on
        mismatch."""
        cols = ORDER_COLS + (["invariant_ok"] if self.wl.decode else [])
        rows = [tuple(r) for r in c["log"].select(*cols).orderBy("global_rank").collect()]
        rounds = c["cfg"].max_rounds
        seen = None
        if rounds == self.wl.max_rounds:
            seen = [r[0] for r in final_state(self.spark, c["cfg"])[1].collect()]
        err = self.ref.check(rows, seen, self.wl.decode, rounds)
        if err is None and want_rows is not None and rows != want_rows:
            err = f"{len(rows)} rows differ from the untraced crawl's {len(want_rows)}"
        shutil.rmtree(c["dir"], ignore_errors=True)
        if err:
            self.failed += 1
            log(f"CHECK FAILED: {err}")
            return None
        return rows

    # ---- measurements ----
    def end_to_end(self, seconds: float, setup_s: float) -> dict:
        rates, firsts, gaps = [], [], []
        with RssSampler() as rss:
            t_end = time.perf_counter() + seconds
            while True:
                clock = CommitClock()
                try:
                    c = self.crawl(clock)
                except Exception:  # a crawl that raises counts as failed
                    self.failed += 1
                    log(traceback.format_exc())
                else:
                    rates.append(c["rows"] / c["wall_s"])
                    firsts.append(clock.commits[0] - c["t0"])
                    gaps += [b - a for a, b in zip(clock.commits, clock.commits[1:])]
                    log(f"crawl: {c['wall_s']:.2f}s, {c['rows']} rows, commits at "
                        f"{[round(t - c['t0'], 2) for t in clock.commits]}s")
                    self.check(c)
                if time.perf_counter() >= t_end:
                    break
        n = len(rates)
        return report({
            "crawl_urls_per_s": (statistics.median(rates), f"median of {n} crawls"),
            "first_round_s": (statistics.median(firsts), f"median of {n} crawls"),
            "round_s_p50": (statistics.median(gaps), f"median of {len(gaps)} round intervals"),
            "setup_s": (setup_s, f"session + input write + {self.wl.warmups} warm-up crawls"),
            "peak_rss_mb": (rss.peak_bytes / 2**20, f"peak over {n} crawls"),
        }, dict(END_TO_END))

    def traced(self, seconds: float, trace_out: Path) -> dict:
        sc = self.spark.sparkContext
        tables, walls, tracers, crawls = [], [], [], []
        t_end = time.perf_counter() + seconds
        while True:
            tracer = Tracer(self.spark, f"pb{self.n_crawls}")
            lo = job_id_high(sc) + 1
            with tracer:
                c = self.crawl(TracingIO(tracer))
            stages = stage_metrics(sc, lo, job_id_high(sc), tracer.crawl_id)
            tables.append(tracer.layer_table(stages))
            walls.append(c["wall_s"])
            tracers.append(tracer)
            crawls.append(c)
            if time.perf_counter() >= t_end:
                break
        metrics = {k: statistics.median(t[k] for t in tables) for k in tables[0]}
        r0_four = {k: statistics.median(t.round_layer_wall(0)[k] for t in tracers) for k in ROW_LAYERS}

        # the untraced crawl runs after the traced ones, on a JVM at least
        # as warm as theirs, so the overhead below is an upper bound
        lo = job_id_high(sc) + 1
        u = self.crawl(CommitClock())
        crawl_stats = stage_metrics(sc, lo, job_id_high(sc), None)["crawl"]
        ref_rows = self.check(u)
        for c in crawls:
            self.check(c, ref_rows)

        # round 0 again at local[1]: the row layers' N -> 4N speedup
        self.session(1)
        tracer = Tracer(self.spark, f"pb{self.n_crawls}")
        with tracer:
            c = self.crawl(TracingIO(tracer), max_rounds=1)
        self.check(c, [r for r in ref_rows if r[0] == 0] if ref_rows else None)
        r0_one = tracer.round_layer_wall(0)
        for layer in ROW_LAYERS:
            metrics[f"{layer}.speedup_1to4"] = r0_one[layer] / r0_four[layer]
        metrics["crawl.jobs"] = crawl_stats["jobs"]
        metrics["crawl.tasks"] = crawl_stats["tasks"]
        metrics["crawl.gc_s"] = crawl_stats["gc_s"]
        metrics["trace.overhead_s"] = statistics.median(walls) - u["wall_s"]

        trace_out.write_text(json.dumps({
            "workload": self.wl.name, "seed": self.seed, "untraced_wall_s": u["wall_s"],
            "traced_wall_s": walls, "metrics": metrics,
            "rounds": [t.round_accounting() for t in tracers],
            "spans": [t.finished_spans() for t in tracers],
        }, indent=1))
        n = len(tables)
        return report(
            {k: (v, f"median of {n} traced crawls") for k, v in metrics.items()},
            dict(layer_metric_names()),
        )


def report(values: dict, units: dict) -> dict:
    """Print one line per metric and return the result's metrics map."""
    out = {}
    for name, unit in units.items():
        value, detail = values[name]
        log(f"{name} = {value:.6g} {unit} ({detail})", stdout=True)
        out[name] = {"value": value, "unit": unit}
    return out


def log(msg: str, stdout: bool = False) -> None:
    print(msg, file=sys.stdout if stdout else sys.stderr, flush=True)


def declared_metrics(trace: bool) -> set[str]:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


def run(wl, seed: int, seconds: float, trace: bool, work: Path) -> dict:
    bench = Bench(wl, seed, work)
    try:
        setup_s = bench.setup()
        if trace:
            # beside the run's work directory: .perfbench/ for a run, the
            # (deleted) run directory for the self-test's tiny runs
            metrics = bench.traced(seconds, work.parent / f"trace-{wl.name}-seed{seed}.json")
        else:
            metrics = bench.end_to_end(seconds, setup_s)
    finally:
        if bench.spark is not None:
            bench.spark.stop()
    if set(metrics) != declared_metrics(trace):
        raise RuntimeError(f"printed metrics differ from BENCHMARK.json: {sorted(set(metrics) ^ declared_metrics(trace))}")
    return {
        "correct": bench.failed == 0, "attempted": bench.attempted,
        "failed": bench.failed, "metrics": metrics,
    }


def self_test(work: Path) -> bool:
    """Tiny-size run of every workload, traced and untraced: wrappers
    leave the crawl log unchanged and the metric names match
    BENCHMARK.json (run() raises otherwise)."""
    ok = True
    for wl in WORKLOADS.values():
        for trace in (False, True):
            res = run(wl.tiny(), 0, 0, trace, work / f"{wl.name}-{int(trace)}")
            log(f"self-test {wl.name} trace={int(trace)}: correct={res['correct']} "
                f"attempted={res['attempted']} failed={res['failed']}", stdout=True)
            ok &= res["correct"]
    return ok


def stop_jvm() -> None:
    """End the JVM the sessions ran in and wait for it: it exits when
    its stdin closes, and the Python workers exit with it."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    args = ap.parse_args()
    if not args.self_test and not args.workload:
        ap.error("--workload is required")

    work = ROOT / ".perfbench" / f"run-{os.getpid()}"
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ.update(
        TMPDIR=str(tmp), SPARK_LOCAL_DIRS=str(tmp),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM, SPARK_GRAFT_CPUS=str(CORES),
    )
    tempfile.tempdir = str(tmp)
    try:
        if args.self_test:
            return 0 if self_test(work) else 1
        result = run(WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace), work)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
