#!/usr/bin/env python3
"""graft benchmark: build, run one workload, print one result line.

Usage (from the repository root):

    python3 perfbench/run.py --workload <dashboard|ingest> \
        --seed <n> --seconds <s> --trace <0|1>

The engine (src/main/scala of the repository) and the benchmark harness
(perfbench/src) compile together with sbt into perfbench/target; the
build is redone only when a source file changed, and the tables are
generated once per build, in a JVM of their own. Each run is a fresh JVM
on local[4] with one client thread. Everything the run writes stays in
perfbench/: generated tables in .data (cached by recipe), per-run state
in .work (deleted after the run), traces and run records in .out, sbt
state in .sbt. The last line of stdout is the result object.
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

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
ENGINE_SRC = ROOT / "src" / "main" / "scala"
STATE = HERE / ".build"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    files = sorted(ENGINE_SRC.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))
    return files + [HERE / "build.sbt", HERE / "project" / "build.properties"]


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise
    return proc.returncode, out


def build():
    """Compile when any source changed; return the runtime classpath and
    the sources' digest."""
    if not (ENGINE_SRC / "graft").is_dir():
        fail(f"engine sources not found under {ENGINE_SRC}", 2)
    stamp, cp_file = STATE / "stamp", STATE / "classpath"
    key = digest(sources())
    if stamp.exists() and cp_file.exists() and stamp.read_text() == key:
        return cp_file.read_text().strip(), key
    STATE.mkdir(parents=True, exist_ok=True)
    sbt_state = HERE / ".sbt"
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.override.build.repos=true", "-Dsbt.offline=true",
           "-Dsbt.server.autostart=false",
           f"-Dsbt.global.base={sbt_state / 'global'}",
           f"-Dsbt.boot.directory={sbt_state / 'boot'}",
           "compile", "export Runtime/fullClasspath"]
    # sbt state lives in perfbench/.sbt; artifacts resolve offline from
    # the toolchain's caches through its repository config
    opts = os.environ.get("SBT_OPTS", "")
    repos = Path.home() / ".sbt" / "repositories"
    if "sbt.repository.config" not in opts and repos.exists():
        opts += f" -Dsbt.repository.config={repos}"
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS=f"{opts} -Djava.io.tmpdir={STATE}")
    try:
        rc, out = run_bounded(cmd, BUILD_TIMEOUT_S, cwd=HERE, env=env,
                              stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                              stderr=subprocess.STDOUT, text=True)
    except subprocess.TimeoutExpired:
        fail("build timed out", 3)
    (STATE / "build.log").write_text(out)
    lines = [l for l in out.splitlines() if l.strip()]
    if rc != 0 or not lines or "scala-2.13/classes" not in lines[-1]:
        sys.stderr.write(out[-4000:])
        fail(f"build failed (exit {rc})", 3)
    cp_file.write_text(lines[-1])
    stamp.write_text(key)
    return lines[-1], key


def java(classpath, main_class, args, work, log):
    """Run one JVM with its temp and Spark dirs under `work`; return
    (exit code, stdout). `work` is deleted afterwards."""
    (work / "tmp").mkdir(parents=True)
    cmd = (["java"] + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Xmx3g", f"-Djava.io.tmpdir={work / 'tmp'}",
              "-Dspark.ui.enabled=false", "-cp", classpath, main_class]
           + args + ["--data", str(HERE / ".data"), "--work", str(work)])
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    try:
        with open(log, "w") as err:
            return run_bounded(cmd, RUN_TIMEOUT_S, cwd=ROOT, env=env,
                               stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                               stderr=err, text=True)
    except subprocess.TimeoutExpired:
        fail(f"{main_class} timed out after {RUN_TIMEOUT_S}s (log: {log})", 4)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def generate(classpath, key, out_dir):
    """Generate the input tables once per build, in a JVM of its own, so
    no timed run pays for generation or runs after it in its process."""
    stamp = STATE / "data-stamp"
    if stamp.exists() and stamp.read_text() == key:
        return
    log = out_dir / "jvm-generate.log"
    rc, _ = java(classpath, "graft.perfbench.Generate", [],
                 HERE / ".work" / f"generate-{os.getpid()}-{time.time_ns()}", log)
    if rc != 0:
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"table generation failed (exit {rc}, log: {log})", 5)
    stamp.write_text(key)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["dashboard", "ingest"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()

    classpath, key = build()
    out_dir = HERE / ".out"
    out_dir.mkdir(exist_ok=True)
    generate(classpath, key, out_dir)
    log = out_dir / f"jvm-{a.workload}-seed{a.seed}-trace{a.trace}.log"
    rc, out = java(classpath, "graft.perfbench.Main",
                   ["--workload", a.workload, "--seed", str(a.seed),
                    "--seconds", str(a.seconds), "--trace", a.trace, "--out", str(out_dir)],
                   HERE / ".work" / f"{a.workload}-{a.seed}-{os.getpid()}-{time.time_ns()}", log)
    lines = [l for l in out.splitlines() if l.strip()]
    if rc != 0 or not lines:
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"run failed (exit {rc}, log: {log})", 5)
    print(json.dumps(result_line(json.loads(lines[-1]), a.trace == "1")))


def result_line(raw, traced):
    """The JVM's values by name, with units, in BENCHMARK.json's order.
    End-to-end metrics must all be measured; a per-layer metric a
    workload does not exercise reads 0; an undeclared name is a bug."""
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    declared = bench["per_layer" if traced else "end_to_end"]
    names = {m["name"] for m in bench["per_layer"] + bench["end_to_end"]}
    values = raw["metrics"]
    undeclared = set(values) - names
    missing = {m["name"] for m in declared} - set(values)
    if undeclared or (missing and not traced):
        fail(f"metrics not matching BENCHMARK.json: undeclared {sorted(undeclared)}, "
             f"missing {sorted(missing)}", 6)
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
               for m in declared}
    return {"correct": raw["correct"], "attempted": raw["attempted"],
            "failed": raw["failed"], "metrics": metrics}


if __name__ == "__main__":
    main()
