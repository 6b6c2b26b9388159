"""Alternating parent/change runs of the CDC benchmark, and their table.

    python3 tools/cdcbench_pairs.py --parent <dir> --change <dir> \
        --workload stream_trickle --seeds 1001-1010 --out pairs.jsonl
    python3 tools/cdcbench_pairs.py --table pairs.jsonl

Each side is a checkout of the repository with its own `.bench_build`. For
every seed the two sides run `cdcbench/run.py` one after the other, the
parent first on odd seeds and the change first on even ones, so a drift of
the host lands on both. Each run appends one JSON line to `--out`: side,
workload, seed, rc, wall_s, steal (host CPU-steal ticks during the run),
window_ops (from the `[cdcbench] window: N ops` line) and the result JSON
the run printed. Runs already in `--out` are skipped, so an interrupted
series resumes.

The table gives, per workload and end-to-end metric, the median [Q1, Q3]
of each side, the change of the medians, and in how many pairs the change
was better (by the metric's direction in BENCHMARK.json). Pairs whose
`dv_update` window op counts differ are flagged: the window then holds
different work on the two sides, and its write metrics are not comparable.
On `read_mix` and `stream_trickle` the window's work is fixed, so
`write_amp` and `space_bytes_per_row` depend only on what the write path
stores; a pair where they differ is flagged as a drift of the data, sidecar
or metadata format.
"""

import argparse
import json
import math
import os
import re
import statistics
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
# "[cdcbench]   12.04 s  window: 12 ops in 3.23 s: ..." (not the "untraced window" line)
WINDOW = re.compile(r"^\[cdcbench\]\s+[\d.]+ s\s+window: (\d+) ops")
# workloads whose stored bytes are deterministic per seed, and those metrics
FIXED_WRITE = ("read_mix", "stream_trickle")
STORED = ("write_amp", "space_bytes_per_row")


def steal_ticks() -> int:
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return 0


def run_one(side: str, root: Path, workload: str, seed: int, seconds: int, trace: int) -> dict:
    env = {k: v for k, v in os.environ.items() if k != "CARGO_TARGET_DIR"}
    cmd = [sys.executable, "cdcbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    s0, t0 = steal_ticks(), time.monotonic()
    p = subprocess.run(cmd, cwd=root, env=env, capture_output=True, text=True)
    wall, steal = time.monotonic() - t0, steal_ticks() - s0
    ops = [int(m.group(1)) for m in map(WINDOW.match, p.stderr.splitlines()) if m]
    result = None
    for line in reversed(p.stdout.splitlines()):
        try:
            result = json.loads(line)
            break
        except ValueError:
            continue
    return {"side": side, "workload": workload, "seed": seed, "trace": trace, "rc": p.returncode,
            "wall_s": round(wall, 1), "steal": steal, "window_ops": ops[0] if ops else None,
            "result": result}


def seeds_of(spec: str):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def load(path: Path):
    if not path.exists():
        return []
    return [json.loads(l) for l in path.read_text().splitlines() if l.strip()]


def fmt(x: float) -> str:
    if abs(x) >= 1000:
        return f"{x:,.0f}"
    return f"{x:.3g}"


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q2, q1, q3


def table(rows, spec: dict) -> str:
    better = {m["name"]: m["better"] for m in spec["end_to_end"]}
    out = []
    for w in sorted({r["workload"] for r in rows}):
        runs = [r for r in rows if r["workload"] == w and r["trace"] == 0 and r["result"]]
        by = {(r["side"], r["seed"]): r for r in runs}
        seeds = sorted(s for s in {r["seed"] for r in runs} if ("parent", s) in by and ("change", s) in by)
        if not seeds:
            continue
        fails = sum(1 for r in runs if r["rc"] != 0)
        out.append(f"\n**{w}** ({len(seeds)} pairs, seeds {seeds[0]}-{seeds[-1]}; "
                   f"{fails} runs with a non-zero exit)\n")
        out.append("| metric | parent median [Q1, Q3] | change median [Q1, Q3] | change vs parent "
                   "| pairs the change wins |")
        out.append("|---|---|---|---|---|")
        for m, dirn in better.items():
            pv = [by[("parent", s)]["result"]["metrics"][m]["value"] for s in seeds]
            cv = [by[("change", s)]["result"]["metrics"][m]["value"] for s in seeds]
            (pm, p1, p3), (cm, c1, c3) = quartiles(pv), quartiles(cv)
            rel = (cm - pm) / pm * 100 if pm else 0.0
            wins = sum(1 for a, b in zip(pv, cv) if (b < a if dirn == "lower" else b > a))
            out.append(f"| `{m}` | {fmt(pm)} [{fmt(p1)}, {fmt(p3)}] | {fmt(cm)} [{fmt(c1)}, {fmt(c3)}] "
                       f"| {rel:+.1f} % | {wins}/{len(seeds)} |")
        ops = [(s, by[("parent", s)]["window_ops"], by[("change", s)]["window_ops"]) for s in seeds]
        out.append("\nwindow ops per pair (seed: parent/change): "
                   + ", ".join(f"{s}: {a}/{b}" for s, a, b in ops))
        if w == "dv_update":
            bad = [s for s, a, b in ops if a != b]
            out.append(f"FLAG: dv_update window op counts differ in seeds {bad}" if bad
                       else "dv_update window op counts are equal in every pair")
        if w in FIXED_WRITE:
            vals = [(s, m, by[("parent", s)]["result"]["metrics"][m]["value"],
                     by[("change", s)]["result"]["metrics"][m]["value"]) for s in seeds for m in STORED]
            bad = [f"FLAG: {w} seed {s} {m} differs: parent {a!r}, change {b!r}"
                   for s, m, a, b in vals if not math.isclose(a, b, rel_tol=1e-9)]
            out.extend(bad or [f"{w} {' and '.join(STORED)} are equal in every pair"])
    return "\n".join(out)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", type=Path, help="checkout of the parent commit")
    ap.add_argument("--change", type=Path, help="checkout of the change")
    ap.add_argument("--workload", action="append", default=[])
    ap.add_argument("--seeds", default="1001-1010", help="e.g. 1001-1010 or 1,5,9")
    ap.add_argument("--seconds", type=int, default=6)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    ap.add_argument("--out", type=Path, help="JSON-lines file the runs are appended to")
    ap.add_argument("--table", type=Path, help="only print the table of this JSON-lines file")
    a = ap.parse_args()
    spec = json.loads((REPO / "BENCHMARK.json").read_text())
    if a.table:
        print(table(load(a.table), spec))
        return 0
    if not (a.parent and a.change and a.out and a.workload):
        ap.error("--parent, --change, --out and at least one --workload are required")
    done = {(r["side"], r["workload"], r["seed"], r["trace"]) for r in load(a.out)}
    sides = {"parent": a.parent.resolve(), "change": a.change.resolve()}
    for seed in seeds_of(a.seeds):
        for w in a.workload:
            order = ["parent", "change"] if seed % 2 else ["change", "parent"]
            for side in order:
                if (side, w, seed, a.trace) in done:
                    continue
                r = run_one(side, sides[side], w, seed, a.seconds, a.trace)
                with open(a.out, "a") as f:
                    f.write(json.dumps(r) + "\n")
                m = (r["result"] or {}).get("metrics", {})
                key = "events_per_s" if "events_per_s" in m else next(iter(m), None)
                shown = f"{key}={m[key]['value']:.1f}" if key else "no result"
                print(f"{side:6} {w} seed={seed} rc={r['rc']} ops={r['window_ops']} {shown}",
                      file=sys.stderr)
    print(table(load(a.out), spec))
    return 0


if __name__ == "__main__":
    sys.exit(main())
