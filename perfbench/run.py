#!/usr/bin/env python3
"""One workload of the benchmark, end to end.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run compiles the program's
sources (`src/main/scala`) together with the benchmark's own Scala sources
(`perfbench/src`) and generates the input tables; both are kept under
`.bench_build/` and reused while the sources are unchanged. Each run then
starts one JVM (`graft.perfbench.Main`), checks every result against
`perfbench/goldens.json`, and prints one JSON line with the metrics:
end-to-end metrics with `--trace 0`, per-layer metrics with `--trace 1`.
Exit code 0 only when every operation succeeded and every result matched.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import uuid

sys.dont_write_bytecode = True
import layers  # noqa: E402
import stats  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
GOLDENS = os.path.join(HERE, "goldens.json")

# scale factor of the generated tables each workload reads
DATA_SF = {"interactive": 0.01, "batch_cold": 0.01, "stream_ingest": 0.1}
# percentiles a workload's request latencies support (ten samples beyond)
TAIL_FLOOR = {"interactive": stats.TAIL_SAMPLES, "stream_ingest": stats.TAIL_SAMPLES,
              "batch_cold": 0}
JVM_OPTS = [
    "-Xms3g", "-Xmx3g", "-Xss8m", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
    "-Duser.timezone=UTC",
] + [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
) for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, or next to the
    `spark-submit` on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("Spark not found: set SPARK_HOME")
    return os.path.join(home, "jars")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                        recursive=True))
    if not main:
        raise SystemExit("no program sources under src/main/scala")
    return main + sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))


def build(deadline):
    """Compile the program and the benchmark into one class directory,
    keyed by a hash of every source file."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    os.makedirs(BUILD, exist_ok=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(BUILD, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs))
    log(f"compiling {len(srcs)} source files")
    cp = os.path.join(spark_jars(), "*")
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    run([
        "java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}", "-cp", cp, "scala.tools.nsc.Main",
        "-classpath", cp, "-d", tmp, "-nowarn", "@" + args_file,
    ], deadline, os.path.join(BUILD, "compile.log"))
    os.replace(tmp, out)
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        if old != out:
            shutil.rmtree(old, ignore_errors=True)
    return out


def data(sf, deadline):
    """Generated input tables at scale `sf`, keyed by the generator's hash."""
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        key = hashlib.sha256(f.read()).hexdigest()[:16]
    out = os.path.join(BUILD, f"data-{key}", f"sf{sf}")
    if not os.path.isdir(out):
        log(f"generating tables at sf{sf}")
        os.makedirs(os.path.dirname(out), exist_ok=True)
        run([sys.executable, os.path.join(HERE, "gen.py"), out, str(sf)], deadline,
            os.path.join(BUILD, "gen.log"))
    return out


def run(cmd, deadline, log_path):
    """Run `cmd` to completion with its output in `log_path`; kill it and
    fail if it outlives `deadline` (a time.monotonic() value)."""
    with open(log_path, "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"timed out: {cmd[0]} (log: {log_path})")
    if code != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"{cmd[0]} exited with {code} (log: {log_path})")


def end_to_end(workload, raw):
    passes = raw["passes"]
    if workload == "stream_ingest":
        p = passes[0]
        due, commit = p["due_ms"], p["commit_ms"]
        if any(c is None for c in commit):
            raise ValueError("a landed file never committed")
        lat = stats.open_loop_latencies(due, commit)
        makespan_s = (max(commit) - min(due)) / 1e3
        wall_s, throughput = makespan_s, len(commit) / makespan_s
        backlog = stats.backlog_at_arrivals(due, commit)
        late = [s - d for d, s in zip(due, p["sent_ms"])]
        log(f"generator lateness: median {statistics.median(late):.2f} ms, max {max(late):.2f} ms")
    else:
        lat = [q["ms"] for p in passes for q in p["queries"]]
        walls = [p["wall_ms"] / 1e3 for p in passes]
        wall_s = statistics.median(walls)
        throughput = len(lat) / sum(walls)
        backlog = 1.0  # closed loop, one client: one query in flight
    floor = TAIL_FLOOR[workload]
    return {
        "setup_s": (raw["setup_s"], "s"),
        "wall_s": (wall_s, "s"),
        "throughput_per_s": (throughput, "1/s"),
        "latency_p50_ms": (stats.percentile(lat, 50, floor), "ms"),
        "backlog_files": (backlog, "count"),
        "peak_rss_mb": (raw["peak_rss_mb"], "MB"),
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(DATA_SF))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-goldens", action="store_true",
                    help="record this run's result fingerprints as the goldens")
    a = ap.parse_args()

    start = time.monotonic()
    classes = build(start + 840)
    data_dir = data(DATA_SF[a.workload], start + 870)
    deadline = time.monotonic() + 170

    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{uuid.uuid4().hex[:8]}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    raw_path = os.path.join(run_dir, "raw.json")
    try:
        run(["java"] + JVM_OPTS + [
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            "-cp", f"{classes}{os.pathsep}{os.path.join(spark_jars(), '*')}",
            "graft.perfbench.Main", a.workload, str(a.seed), str(a.seconds), str(a.trace),
            data_dir, run_dir, raw_path,
        ], deadline, os.path.join(BUILD, f"jvm-{a.workload}.log"))
        with open(raw_path) as f:
            raw = json.load(f)
        shutil.copy(raw_path, os.path.join(BUILD, f"raw-{a.workload}.json"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    goldens = {}
    if os.path.exists(GOLDENS):
        with open(GOLDENS) as f:
            goldens = json.load(f)
    if a.write_goldens:
        goldens.update(raw["fingerprints"])
        with open(GOLDENS, "w") as f:
            json.dump(dict(sorted(goldens.items())), f, indent=1)
            f.write("\n")
    failures = list(raw["failures"])
    for name in stats.compare_goldens(raw["fingerprints"], goldens):
        failures.append({"name": name, "error": "result differs from golden"})
    attempted, failed = int(raw["attempted"]), len(failures)
    for f in failures:
        log(f"FAIL {f['name']}: {f['error']}")

    try:
        metrics = trace_metrics(a, raw) if a.trace else end_to_end(a.workload, raw)
    except ValueError as e:
        raise SystemExit(f"no metrics: {e}")
    log(f"{a.workload}: {attempted} attempted, {failed} failed "
        f"(failed_ratio {failed / max(attempted, 1):.4f})")
    for k, (v, unit) in metrics.items():
        log(f"  {k} = {v:.6g} {unit}")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0 if failed == 0 else 1


def trace_metrics(a, raw):
    """Per-layer metrics; the spans and a per-query table go to a trace
    file."""
    metrics, detail = layers.per_layer(a.workload, raw)
    trace_dir = os.path.join(BUILD, "traces")
    os.makedirs(trace_dir, exist_ok=True)
    trace_path = os.path.join(trace_dir, f"{a.workload}-seed{a.seed}.json")
    with open(trace_path, "w") as f:
        json.dump({"metrics": metrics, "queries": detail, "spans": raw["spans"],
                   "executions": raw["executions"]}, f)
    log(f"trace written to {os.path.relpath(trace_path, ROOT)}")
    return metrics


if __name__ == "__main__":
    sys.exit(main())
