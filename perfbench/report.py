"""Summaries of the run records that perfbench/run.py leaves in
.perfbench/out/ (one JSON file per workload, seed and trace flag).

    python3 perfbench/report.py spread   # e2e median + IQR/median
    python3 perfbench/report.py layers   # per-layer markdown table

`spread` is the steadiness check: for each workload and end-to-end
metric, the median over the untraced runs and the distance between the
first and third quartile as a share of it. `layers` prints, per
workload, the traced run's per-layer metrics and its span self times.
"""

from __future__ import annotations

import json
import statistics
import sys
from pathlib import Path

OUT = Path(__file__).resolve().parent.parent / ".perfbench" / "out"
WORKLOADS = ("extract_fresh", "extract_resume", "headline_queries")

# layer metric prefix → (end-to-end metric it should move, where)
MOVES = {
    "setup.": "setup_s, all workloads",
    "sources.": "pass_cpu_s: scan on extract_resume; task straggle "
                "moves wall time (trace.untraced_pass_s) on extract_fresh",
    "extract.": "pass_cpu_s on extract_fresh (most) and extract_resume; "
                "peak_rss_mb",
    "kernel.": "pass_cpu_s on extract_fresh, about a quarter as much on "
               "extract_resume; operators.ex4_flagship_rollup_s on "
               "headline_queries",
    "catalog.": "pass_cpu_s: append on extract_fresh, read on extract_resume",
    "resume.": "pass_cpu_s on extract_resume",
    "operators.": "pass_cpu_s on headline_queries; nothing on extract_*",
    "input.": "(input property, not a cost)",
    "memory.": "(JVM peak RSS; peak_rss_mb covers the Python processes)",
    "self.": "(span self time)",
    "trace.": "(tracing overhead)",
}


def _records(trace: int) -> list[dict]:
    return [json.loads(p.read_text())
            for p in sorted(OUT.glob(f"*-t{trace}.json"))]


def spread() -> None:
    by: dict[str, list[dict]] = {}
    for r in _records(0):
        by.setdefault(r["workload"], []).append(r)
    for w in WORKLOADS:
        runs = [r for r in by.get(w, []) if r["failed"] == 0
                and r["metrics"]]
        if len(runs) < 2:
            continue
        print(f"{w}: {len(runs)} runs, seeds "
              f"{sorted(r['seed'] for r in runs)}")
        for m in runs[0]["metrics"]:
            vals = [r["metrics"][m] for r in runs]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4)
            print(f"  {m:<12} median {med:10.4f}  IQR/median "
                  f"{(q3 - q1) / med:.4f}  min {min(vals):.4f} "
                  f"max {max(vals):.4f}")


def layers() -> None:
    for r in _records(1):
        m = r["metrics"]
        print(f"### {r['workload']} (seed {r['seed']}, "
              f"local[{r['cores']}], nproc {r['nproc']}, host steal "
              f"{100 * r['steal_frac']:.2f}%)\n")
        print("| layer metric | value | should move |")
        print("|---|---|---|")
        for name, value in m.items():
            if value == 0 or name.startswith(("self.", "trace.")):
                continue
            moves = next(v for k, v in MOVES.items() if name.startswith(k))
            print(f"| `{name}` | {value:.4g} | {moves} |")
        selfs = r["context"].get("self_times", [])
        if selfs:
            names = sorted({n for s in selfs for n in s},
                           key=lambda n: -statistics.median(
                               [s.get(n, 0.0) for s in selfs]))
            print("\n| span | self time s (median of "
                  f"{len(selfs)} traced passes) |")
            print("|---|---|")
            total = 0.0
            for n in names:
                v = statistics.median([s.get(n, 0.0) for s in selfs])
                total += v
                print(f"| `{n}` | {v:.3f} |")
            print(f"\nΣ self = {total:.3f} s of a {m['trace.pass_s']:.3f} s "
                  f"traced pass; untraced pass "
                  f"{m['trace.untraced_pass_s']:.3f} s; tracing overhead "
                  f"(traced − untraced) {m['trace.overhead_s']:.3f} s.\n")


if __name__ == "__main__":
    {"spread": spread, "layers": layers}[sys.argv[1]]()
