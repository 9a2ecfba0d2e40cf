"""Render traced runs (``.perfbench/trace-*.json``) as markdown tables.

    python3 perfbench/report.py > perfbench/RESULTS.md
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path[:0] = [str(ROOT / "perfbench"), str(ROOT)]
from tracing import LAYER_FUNCS  # noqa: E402
COLS = ["wall_s", "exec_run_s", "jobs", "tasks", "rows_in", "rows_out", "shuffle_write_bytes"]


def fmt(v) -> str:
    return "" if v is None else f"{v:.3f}" if isinstance(v, float) and not v.is_integer() else f"{int(v)}"


def render(t: dict) -> str:
    m = t["metrics"]
    lines = [
        f"## {t['workload']} (seed {t['seed']})", "",
        "Traced " + ", ".join(f"{w:.2f}" for w in t["traced_wall_s"])
        + f" s; untraced crawl after them {t['untraced_wall_s']:.2f} s "
        f"({fmt(m['crawl.jobs'])} jobs, {fmt(m['crawl.tasks'])} tasks); "
        f"tracing overhead {m['trace.overhead_s']:.2f} s.", "",
        "| layer | " + " | ".join(COLS) + " |", "|---" * (len(COLS) + 1) + "|",
    ]
    for layer in [*LAYER_FUNCS, "stateio", "commit", "scheduler"]:
        lines.append(f"| {layer} | " + " | ".join(fmt(m.get(f"{layer}.{c}")) for c in COLS) + " |")
    lines += [
        "", f"commit: log {m['commit.log_s']:.3f} s, state {m['commit.state_s']:.3f} s; "
        f"scheduler self {m['scheduler.self_s']:.3f} s.", "",
        "Ratios: " + ", ".join(f"{k} {m[k]:.3f}" for k in sorted(m) if k.endswith("_ratio")) + ".",
        "local[1] to local[4] speedup of round 0: "
        + ", ".join(f"{k.split('.')[0]} {m[k]:.2f}x" for k in sorted(m) if k.endswith("speedup_1to4")) + ".", "",
        "Round accounting of the first traced crawl (self = wall - union of child spans):", "",
        "| round | wall_s | children_sum_s | children_union_s | self_s |", "|---|---|---|---|---|",
    ]
    for r in t["rounds"][0]:
        lines.append(
            f"| {r['round']} | {r['wall_s']:.3f} | {r['children_sum_s']:.3f} | "
            f"{r['children_union_s']:.3f} | {r['self_s']:.3f} |"
        )
    return "\n".join(lines)


def main() -> None:
    traces = sorted((ROOT / ".perfbench").glob("trace-*.json"))
    print("# Traced runs\n")
    print("Per-layer metrics from `python3 perfbench/run.py --trace 1`; see perfbench/README.md.\n")
    for p in traces:
        print(render(json.loads(p.read_text())) + "\n")


if __name__ == "__main__":
    main()
