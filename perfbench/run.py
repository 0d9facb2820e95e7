#!/usr/bin/env python3
"""Benchmark runner for the tsodspark engine.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
        [--record]

Builds the engine and the benchmark driver (perfbench/build.sbt) from the
checkout's sources when they changed since the last build, then runs one
workload in a fresh JVM and prints one JSON object as the last line of
standard output: {"correct", "attempted", "failed", "metrics"}.

Everything is written under .bench_build/ in the checkout: the build stamp
and classpath, one work directory per run (generated tables, the engine's
artifact root, streaming checkpoints; removed after the run, except for the
JVM's log when the run fails), the full result of every run under results/
and span files under traces/.

The metric names and units come from BENCHMARK.json: a traced run reports 0
for a layer its workload does not touch, and a metric the JVM reports that
BENCHMARK.json does not list is an error.

--record merges the run's per-query checksums into perfbench/checksums.json,
the expected table later runs of the same workload and seed are held to.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = ROOT / ".bench_build"
WORKLOADS = ("detect", "corpus")
# the heap is fixed and pre-touched (-Xms = -Xmx, AlwaysPreTouch): a growing
# heap faults its pages in during the timed region
HEAP = "2g"
FIRST_RUN_LIMIT_S = 880
RUN_LIMIT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

_child = None


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def stop_child(*_):
    if _child is not None and _child.poll() is None:
        try:
            os.killpg(_child.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        _child.wait()


def on_signal(signum, _frame):
    stop_child()
    sys.exit(128 + signum)


def run_child(cmd, cwd, log_path, deadline, env=None):
    """Runs cmd in its own process group; kills the group at the deadline."""
    global _child
    with open(log_path, "wb") as out:
        _child = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                                  env=env, start_new_session=True)
        try:
            return _child.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            stop_child()
            return None
        finally:
            stop_child()
            _child = None


def tail(path, n=30):
    try:
        return "\n".join(Path(path).read_text(errors="replace").splitlines()[-n:])
    except OSError:
        return ""


def source_files():
    files = [ROOT / "build.sbt", BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    files += sorted((ROOT / "project").glob("*.properties")) + sorted((ROOT / "project").glob("*.sbt"))
    for base in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    return files


def source_hash():
    h = hashlib.sha256()
    for p in source_files():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def ensure_build(deadline):
    """Returns the runtime classpath, building first if the sources changed."""
    stamp = OUT / "build.json"
    digest = source_hash()
    if stamp.is_file():
        built = json.loads(stamp.read_text())
        if built.get("sources") == digest:
            return built["classpath"], False
    log("building engine and benchmark driver (sbt)")
    OUT.mkdir(parents=True, exist_ok=True)
    build_log = OUT / "build.log"
    code = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                      "export perfbench/Runtime/fullClasspath"],
                     BENCH, build_log, deadline)
    lines = Path(build_log).read_text(errors="replace").splitlines()
    cp = next((l.strip() for l in reversed(lines) if "perfbench" in l and
               os.pathsep in l and not l.startswith("[")), None)
    if code != 0 or cp is None:
        log(f"build failed (exit {code}):\n{tail(build_log)}")
        sys.exit(3)
    stamp.write_text(json.dumps({"sources": digest, "classpath": cp}))
    return cp, True


def record_checksums(result):
    """Merges the run's per-query checksums into the committed table."""
    path = BENCH / "checksums.json"
    table = json.loads(path.read_text()) if path.is_file() else {}
    prefix = f"{result['workload']}/{result['seed']}/"
    for op, value in result["fingerprints"].items():
        table[prefix + op] = value
    path.write_text(json.dumps(dict(sorted(table.items())), indent=1) + "\n")
    log(f"recorded {len(result['fingerprints'])} checksums under {prefix}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    start = time.monotonic()

    spec_path = ROOT / "BENCHMARK.json"
    if not spec_path.is_file() or not (ROOT / "build.sbt").is_file() or \
            not (ROOT / "src" / "main" / "scala").is_dir():
        log(f"no engine sources at {ROOT} (BENCHMARK.json, build.sbt, src/main/scala): "
            "run from the root of a full checkout")
        sys.exit(2)
    if shutil.which("sbt") is None or shutil.which("java") is None:
        log("sbt and java must be on PATH")
        sys.exit(2)

    cp, built = ensure_build(start + FIRST_RUN_LIMIT_S - 60)
    deadline = start + (FIRST_RUN_LIMIT_S if built else RUN_LIMIT_S)

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = OUT / "runs" / f"{tag}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    for d in ("results", "traces"):
        (OUT / d).mkdir(parents=True, exist_ok=True)
    result_path = work / "result.json"
    spans_path = OUT / "traces" / f"{tag}.jsonl"
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
           f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", str(work), "--result", str(result_path),
            "--expected", str(BENCH / "checksums.json")]
    if args.trace:
        cmd += ["--spans", str(spans_path)]
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    code = run_child(cmd, ROOT, work / "jvm.log", deadline, env)
    if code != 0 or not result_path.is_file():
        why = "timed out" if code is None else f"exit {code}"
        log(f"benchmark JVM failed ({why}):\n{tail(work / 'jvm.log')}")
        for p in work.iterdir():
            if p.name != "jvm.log":
                shutil.rmtree(p) if p.is_dir() else p.unlink()
        sys.exit(1)
    result = json.loads(result_path.read_text())
    shutil.rmtree(work, ignore_errors=True)

    spec = json.loads(spec_path.read_text())["per_layer" if args.trace else "end_to_end"]
    values = result["metrics"]
    unknown = sorted(set(values) - {m["name"] for m in spec})
    missing = [m["name"] for m in spec if m["name"] not in values]
    if unknown or (missing and not args.trace):
        log(f"metrics not in BENCHMARK.json: {unknown}; missing: {missing}")
        sys.exit(4)
    result["metrics"] = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
                         for m in spec}
    (OUT / "results" / f"{tag}.json").write_text(json.dumps(result, indent=1) + "\n")
    for f in result["failures"]:
        log(f"FAILED {f}")
    if args.record and result["correct"] and result["fingerprints"]:
        record_checksums(result)
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
