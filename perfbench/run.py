#!/usr/bin/env python3
"""Run one workload of the graft benchmark in a fresh JVM.

    python3 perfbench/run.py --workload forecast_run --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source with sbt when the sources
changed since the last build (the classpath is cached under .bench_build/),
then starts `perfbench.Main` in a fresh JVM inside a scratch directory under
.bench_work/. The last line of standard output is one JSON object with
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`. The exit code is 0 only
when every operation and output check passed.
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
BUILD_DIR = ROOT / ".bench_build" / "perfbench"
WORK_DIR = ROOT / ".bench_work"
WORKLOADS = ("forecast_run", "retrieval_live")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
# the heap the engine's own launch gives a driver (build.sbt: SPARK_DRIVER_MEM, default 8g)
HEAP = os.environ.get("SPARK_DRIVER_MEM", "8g")

# Spark 4 on JDK 17 outside spark-submit; the same list as the engine's build.sbt.
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]

# What the build reads: the engine's build and main sources, and ours.
BUILD_INPUTS = [
    ROOT / "build.sbt", ROOT / "project" / "build.properties", ROOT / "src" / "main",
    BENCH / "build.sbt", BENCH / "project" / "build.properties", BENCH / "src" / "main",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    h = hashlib.sha256()
    for base in BUILD_INPUTS:
        files = sorted(p for p in base.rglob("*") if p.is_file()) if base.is_dir() else [base]
        for p in files:
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + str(Path.home() / ".sbt" / "repositories"),
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g", "-XX:-UsePerfData",
    ])
    return env


def classpath():
    """The runtime classpath of a build of the current sources."""
    digest = source_digest()
    stamp = BUILD_DIR / "classpath.json"
    if stamp.exists():
        cached = json.loads(stamp.read_text())
        if cached.get("digest") == digest and cached.get("root") == str(ROOT):
            return cached["classpath"]
    print("perfbench: building with sbt ...", file=sys.stderr)
    t0 = time.time()
    proc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                      "export Runtime/fullClasspath"],
                     cwd=BENCH, env=sbt_env(), timeout=BUILD_TIMEOUT_S)
    lines = [l for l in proc.stdout.splitlines() if l.startswith("/")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail(f"sbt build failed (exit {proc.returncode})")
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    BUILD_DIR.mkdir(parents=True, exist_ok=True)
    stamp.write_text(json.dumps({"digest": digest, "root": str(ROOT), "classpath": lines[-1]}))
    return lines[-1]


def run_group(cmd, cwd, env, timeout, stdout=subprocess.PIPE, stderr=subprocess.STDOUT):
    """Run `cmd` in its own process group and wait for it; on timeout kill
    the whole group and wait for it to end."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=stderr,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        fail(f"{cmd[0]} timed out after {timeout} s")
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise
    proc.stdout = out
    return proc


def declared_metrics(trace):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    # a terminated run stops its build or JVM too (see run_group)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir() or not (ROOT / "build.sbt").is_file():
        fail(f"no graft sources under {ROOT}: run from a checkout of the repository")
    if not (ROOT / "BENCHMARK.json").is_file():
        fail("BENCHMARK.json missing")
    declared = declared_metrics(args.trace)
    cp = classpath()

    work = WORK_DIR / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    cpus = len(os.sched_getaffinity(0))
    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + [f"-Xmx{HEAP}", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--cpus", str(cpus), "--work", str(work / "run")])
    try:
        with open(work / "jvm.log", "w") as log:
            proc = run_group(cmd, cwd=work, env=env, timeout=RUN_TIMEOUT_S, stderr=log)
        out = proc.stdout.splitlines()
        for line in out[:-1]:
            print(line, file=sys.stderr)
        with open(work / "jvm.log") as log:
            for line in log:
                if line.startswith("[perfbench]"):
                    sys.stderr.write(line)
        try:
            result = json.loads(out[-1]) if out else None
        except json.JSONDecodeError:
            result = None
        if result is None:
            sys.stderr.write((work / "jvm.log").read_text()[-6000:])
            fail(f"the benchmark JVM printed no result (exit {proc.returncode})")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    metrics = result["metrics"]
    if args.trace:
        # layers a workload does not run report zero
        for name, unit in declared.items():
            metrics.setdefault(name, {"value": 0.0, "unit": unit})
    if set(metrics) != set(declared) or any(metrics[n]["unit"] != u for n, u in declared.items()):
        fail(f"metrics differ from BENCHMARK.json: extra {sorted(set(metrics) - set(declared))}, "
             f"missing {sorted(set(declared) - set(metrics))}")
    result["metrics"] = {n: metrics[n] for n in declared}
    print(json.dumps(result))
    sys.exit(0 if result["correct"] and proc.returncode == 0 else 1)


if __name__ == "__main__":
    main()
