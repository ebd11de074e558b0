#!/usr/bin/env python3
"""The resolve benchmark: one workload, one seed, one run.

Run from the repository root:

    python3 resolvebench/run.py --workload resolve_longtext --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source (sbt, offline) when any
source changed since the last build, starts one JVM that generates the
workload's corpus from the seed, drives the workload's entry for the given
seconds and checks every output, then prints each metric with its unit and,
as the last line, one JSON object: correct, attempted, failed, metrics.
`--trace 0` reports the end-to-end metrics; `--trace 1` the per-layer
metrics of a traced run, whose spans are kept in resolvebench/results/.
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
CLASSPATH_FILE = BENCH / "target" / "bench-classpath.txt"
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
HEAP = "-Xmx3g"

# Spark on JDK 17 needs these outside spark-submit (the same list the
# engine's own build passes to forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=1):
    print(f"resolvebench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    files = [ROOT / "build.sbt", BENCH / "build.sbt",
             ROOT / "project" / "build.properties",
             BENCH / "project" / "build.properties"]
    for tree in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in tree.rglob("*") if p.is_file())
    return files


def source_stamp():
    h = hashlib.sha256()
    for p in source_files():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes() if p.exists() else b"<missing>")
    return h.hexdigest()


def run_group(cmd, cwd, timeout, out):
    """Run cmd in its own process group; on timeout kill the whole group
    and wait for it, so nothing outlives the benchmark."""
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def classpath():
    """The runtime classpath, building first when the sources changed."""
    stamp = source_stamp()
    if CLASSPATH_FILE.exists():
        lines = CLASSPATH_FILE.read_text().splitlines()
        if len(lines) == 2 and lines[0] == stamp:
            return lines[1]
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    log = BENCH / "target" / "build.log"
    log.parent.mkdir(parents=True, exist_ok=True)
    os.environ["COURSIER_MODE"] = "offline"
    os.environ["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                              "-Dsbt.server.autostart=false -Xmx2g")
    with open(log, "w") as out:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "export resolvebench/Runtime/fullClasspath"],
                       BENCH, BUILD_TIMEOUT_S, out)
    text = log.read_text()
    if rc != 0:
        tail = [l[:300] for l in text.splitlines()[-30:]]
        fail(f"build failed (exit {rc}); last lines of {log}:\n" + "\n".join(tail))
    cp = [l for l in text.splitlines() if l and not l.startswith("[") and ".jar" in l]
    if not cp:
        fail(f"build printed no classpath; see {log}")
    CLASSPATH_FILE.write_text(f"{stamp}\n{cp[-1].strip()}\n")
    return cp[-1].strip()


def declared_metrics(trace):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala").is_dir() or not (ROOT / "build.sbt").is_file():
        fail(f"no engine sources next to the benchmark (expected {ROOT}/src/main/scala)", 2)
    wanted = declared_metrics(args.trace)
    cp = classpath()

    results = BENCH / "results"
    results.mkdir(exist_ok=True)
    work = BENCH / "work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    result_file = work / "result.json"
    spans_file = results / f"spans-{args.workload}-seed{args.seed}.json"
    cmd = ["java", HEAP, f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false"]
    cmd += [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += ["-cp", cp, "resolvebench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", str(work), "--result", str(result_file), "--spans", str(spans_file)]
    log = work / "jvm.log"
    t0 = time.monotonic()
    try:
        with open(log, "w") as out:
            rc = run_group(cmd, ROOT, RUN_TIMEOUT_S, out)
        if rc != 0 or not result_file.exists():
            tail = "\n".join(log.read_text(errors="replace").splitlines()[-40:])
            fail(f"{args.workload} run failed (exit {rc}) after {time.monotonic() - t0:.1f} s:\n{tail}")
        res = json.loads(result_file.read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)

    metrics = res["metrics"]
    missing = [m for m in wanted if m not in metrics]
    if missing:
        fail(f"run did not report {missing}")
    print(f"resolvebench {args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace}: correct={res['correct']} attempted={res['attempted']} "
          f"failed={res['failed']}")
    for k, v in res.get("info", {}).items():
        print(f"  {k} = {v['value']:.6g} {v['unit']}" if isinstance(v, dict) else f"  {k} = {v}")
    for name in wanted:
        print(f"  {name} = {metrics[name]['value']:.6g} {metrics[name]['unit']}")
    if args.trace:
        print(f"  spans: {spans_file.relative_to(ROOT)}")
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"],
                      "metrics": {m: metrics[m] for m in wanted}}))


if __name__ == "__main__":
    main()
