#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

Usage:
  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the program and the benchmark from source (perfbench/build.py),
starts one JVM that runs workload W, and prints as the last line of
stdout a JSON object with `correct`, `attempted`, `failed` and
`metrics`. With --trace 0 the metrics are the workload's end-to-end
metrics from BENCHMARK.json; with --trace 1 they are its per-layer
metrics, the per-layer self-time table goes to stderr and the spans to
.bench_build/last-W.spans.jsonl. Every workload reports every declared
metric: a per-layer metric of a layer the workload never runs reads 0
(see MEASURES). The JVM log is kept as .bench_build/last-W.log. A wrong
answer makes the exit code 1. A run that cannot start, or that leaves
a metric it measures empty, exits 2 without a result line.
"""
import argparse
import json
import os
import re
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.dont_write_bytecode = True
import build  # noqa: E402

# The per-layer metrics each workload measures, as name patterns. A
# declared per-layer metric that its workload's pattern does not match
# belongs to a layer the workload never runs (the RPC node and the
# stream under serve_hot, the HTTP server under backfill, the registry
# under both, the system's ingest and serving under batch_registry) and
# reads 0.
ALL = r"cpu_ms_per_op$|(jvm|trace|ops)\."
MEASURES = {
    "backfill": ALL + r"|(sources|ingest|store|backfill)\.|spark\.\w+_per_cycle$",
    "serve_hot": ALL + r"|(api|http|loadgen|serve)\.|store\.(read_ms|files_per_bucket|bytes_per_block)$"
                       r"|spark\.\w+_per_request\.",
    "batch_registry": ALL + r"|batch\.",
}
WORKLOADS = tuple(MEASURES)
TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def declared(kind):
    """Declared metric name -> unit."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def layer_table(metrics):
    """Self-time rows (`<scope>.self.<name>`), as text for stderr."""
    lines = []
    walls = {k[: -len(".wall")]: v["value"] for k, v in metrics.items() if k.endswith(".wall")}
    for scope, wall in sorted(walls.items()):
        lines.append(f"{scope}: {wall:.1f} ms of measured time")
        rows = [(k.split(".self.", 1)[1], v["value"]) for k, v in metrics.items()
                if k.startswith(scope + ".self.")]
        for name, ms in sorted(rows, key=lambda r: -r[1]):
            lines.append(f"  {name:<28} {ms:12.1f} ms  {100 * ms / wall if wall else 0:6.1f}%")
    return "\n".join(lines)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        classpath = build.build()
    except SystemExit as e:
        print(e, file=sys.stderr)
        return 2
    work = os.path.join(build.OUT, "runs", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    cmd = (["java", "-Xmx2g", "-XX:+UseG1GC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", ":".join(classpath + [os.path.join(build.spark_jars(), "*")]),
              "graft.perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace), "--out", out,
              "--work", work, "--data", os.path.join(BENCH, "data", "sf0.01")])
    log_path = os.path.join(work, "jvm.log")
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work,
                                    start_new_session=True)

            def stop(*_):
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                raise SystemExit(f"run: {args.workload} stopped")
            signal.signal(signal.SIGTERM, stop)
            try:
                proc.wait(timeout=TIMEOUT_S)
            except subprocess.TimeoutExpired:
                print(f"run: {args.workload} exceeded {TIMEOUT_S} s", file=sys.stderr)
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
        with open(log_path) as fh:
            log_text = fh.read()
        shutil.copy(log_path, os.path.join(build.OUT, f"last-{args.workload}.log"))
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            shutil.copy(spans, os.path.join(build.OUT, f"last-{args.workload}.spans.jsonl"))
        sys.stderr.writelines(l + "\n" for l in log_text.splitlines() if l.startswith("[perfbench]"))
        if not os.path.exists(out):
            sys.stderr.write(log_text[-4000:])
            print(f"run: {args.workload} produced no result (exit {proc.returncode})", file=sys.stderr)
            return 2
        with open(out) as fh:
            res = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    metrics = res["metrics"]
    if args.trace:
        print(layer_table(metrics), file=sys.stderr)
    keep = declared("per_layer" if args.trace else "end_to_end")
    if args.trace:
        own = re.compile(MEASURES[args.workload])
        for name, unit in keep.items():
            if not own.match(name):
                metrics.setdefault(name, {"value": 0, "unit": unit})
    shown = {k: metrics[k] for k in keep if k in metrics}
    empty = sorted(k for k in keep if shown.get(k, {}).get("value") is None)
    if empty:
        print(f"run: {args.workload} could not measure {', '.join(empty)}", file=sys.stderr)
        return 2
    wrong = sorted(k for k, u in keep.items() if shown[k]["unit"] != u)
    if wrong:
        print(f"run: {args.workload} reported other units for {', '.join(wrong)}", file=sys.stderr)
        return 2
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": shown}))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
