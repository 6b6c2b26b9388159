"""CDC engine benchmark: one workload, one seed, one timed window.

    python3 cdcbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the engine and the benchmark from
source (see build.py), then runs one JVM at local[4] that generates the
workload's WAL from the seed, sets up its tables, warms up, measures a closed
loop with one client for `--seconds`, and checks the final table against an
independent replay of the WAL. The last line of standard output is the
result as JSON: the end-to-end metrics with `--trace 0`, the per-layer
metrics with `--trace 1` (plus a span file and a per-layer rollup under the
build directory's cdcbench/traces). Exits non-zero if any check fails.

WAL, tables and Spark scratch space live in a per-run directory under the
build directory, removed at exit.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

import build

WORKLOADS = ["stream_trickle", "dv_update", "read_mix"]
# a hung JVM is killed well before a run reaches three minutes
JVM_TIMEOUT_S = 170


def declared_metrics(trace: bool):
    spec = json.loads((build.REPO / "BENCHMARK.json").read_text())
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    a = ap.parse_args()

    out = build.build_dir()
    try:
        build.build(out)
    except (OSError, subprocess.SubprocessError) as e:
        print(f"[cdcbench] build failed: {e}", file=sys.stderr)
        return 2

    data = out / f"data-{os.getpid()}"
    shutil.rmtree(data, ignore_errors=True)
    (data / "tmp").mkdir(parents=True)
    logs = out / "logs"
    logs.mkdir(parents=True, exist_ok=True)
    log = logs / f"{a.workload}-{a.seed}-trace{a.trace}.log"
    cmd = build.jvm(out, data, f"-XX:SharedArchiveFile={out / 'classes.jsa'}")
    cmd += ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", str(data), "--trace-out", str(out / "traces")]
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True, cwd=data)
        signal.signal(signal.SIGTERM, lambda *_: proc.kill())
        try:
            stdout, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            print(f"[cdcbench] timed out after {JVM_TIMEOUT_S} s; log: {log}", file=sys.stderr)
            return 3
        finally:
            shutil.rmtree(data, ignore_errors=True)
    lines = [l for l in stdout.splitlines() if l.startswith("CDCBENCH_RESULT ")]
    if proc.returncode != 0 or not lines:
        tail = log.read_text().splitlines()[-40:]
        print("\n".join(tail), file=sys.stderr)
        print(f"[cdcbench] JVM exited with {proc.returncode}; log: {log}", file=sys.stderr)
        return 4
    result = json.loads(lines[-1][len("CDCBENCH_RESULT "):])
    bad = [m for m in declared_metrics(bool(a.trace))
           if not isinstance(result["metrics"].get(m, {}).get("value"), (int, float))]
    if bad:
        print(f"[cdcbench] metrics missing or not measured: {bad}", file=sys.stderr)
        return 5
    for line in log.read_text().splitlines():
        if line.startswith("[cdcbench]"):
            print(line, file=sys.stderr)
    for k, v in result["metrics"].items():
        print(f"[cdcbench] {a.workload} {k} = {v['value']} {v['unit']}", file=sys.stderr)
    print(json.dumps(result))
    return 0 if result["correct"] and result["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
