#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload suite_warm --seed 1 --seconds 15 --trace 0

Builds the engine and the harness from source with sbt the first time
(or whenever a source file changed), then starts one JVM for the run.
The run gets an empty scratch directory under perfbench/.work/, which is
deleted when the run ends. The last line of standard output is the
result object; the line before it is the report (host facts, seed,
workload-specific figures).

--record FILE writes the panel's row counts and digests to FILE
instead of checking them; it is how expected.sf0.001.json is refreshed.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
WORK = HERE / ".work"
DATA = HERE / "data" / "sf0.001"
EXPECTED = HERE / "expected.sf0.001.json"
WORKLOADS = ("suite_warm", "admin_service")
HEAP = "2g"
TIMEOUT_S = 170
# The JIT stops at the C1 tier. Under the default tiered compiler the
# suite's passes kept getting faster for about 25 passes, and the pass
# where C2 code landed differed from JVM to JVM, so runs of the same
# code spread by a quarter. With C1 alone the passes are level after the
# first two. The parallel collector on a fixed-size heap has no
# concurrent marking cycles whose timing differs between JVMs.
JIT_GC = ["-XX:TieredStopAtLevel=1", "-XX:+UseParallelGC"]

# Spark 4 on JDK 17 needs these when the session is created outside
# spark-submit (the engine's build.sbt passes the same list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_stamp():
    """Hash of every file the build reads from this checkout."""
    h = hashlib.sha256()
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for root in (REPO / "src" / "main", HERE / "src" / "main"):
        files += sorted(p for p in root.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(REPO)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile with sbt unless the classpath for these sources exists."""
    stamp = source_stamp()
    cp_file, stamp_file = WORK / "classpath.txt", WORK / "stamp"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    WORK.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=840)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    classpath = lines[-1].strip()
    if not all(Path(p).exists() for p in classpath.split(os.pathsep)[:3]):
        fail(f"unexpected classpath from sbt: {classpath[:200]}")
    cp_file.write_text(classpath)
    stamp_file.write_text(stamp)
    return classpath


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record")
    a = ap.parse_args()

    if not (REPO / "build.sbt").exists() or not (REPO / "src" / "main" / "scala").is_dir():
        fail(f"no engine sources next to {HERE.name}/; run from a full checkout")
    if not DATA.is_dir():
        fail(f"missing input tables under {DATA}")
    classpath = build()

    root = WORK / f"run-{os.getpid()}"
    shutil.rmtree(root, ignore_errors=True)
    root.mkdir(parents=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", *JIT_GC,
        f"-Djava.io.tmpdir={root / 'tmp'}",
        f"-Dspark.local.dir={root / 'spark-local'}",
        f"-Dspark.sql.warehouse.dir={root / 'warehouse'}",
        f"-Dderby.system.home={root}",
        "-Dspark.ui.enabled=false",
        "-cp", classpath, "perfbench.Harness",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--data", str(DATA), "--root", str(root),
        "--expected", str(EXPECTED),
    ]
    if a.record:
        cmd += ["--record", str(Path(a.record).resolve())]
    (root / "tmp").mkdir()
    # Settings the engine reads from the environment would override the
    # run's own scratch directory and session configuration.
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_LOCAL_DIRS", "SPARK_GRAFT_EXTRA_CONF", "SPARK_GRAFT_CPUS")}
    log_path = root / "jvm.log"
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=subprocess.PIPE, stderr=log,
                                    text=True, start_new_session=True)
            try:
                out, _ = proc.communicate(timeout=TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                fail(f"run exceeded {TIMEOUT_S} s")
        # The harness's own warnings (failed checks, failed operations)
        # go to standard error; Spark's log stays in the scratch root.
        notes = [l for l in log_path.read_text().splitlines() if l.startswith("perfbench:")]
        if notes:
            sys.stderr.write("\n".join(notes[:50]) + "\n")
        if proc.returncode != 0:
            fail(f"harness exited with {proc.returncode}")
        if a.record:
            return
        lines = [l for l in out.splitlines() if l.startswith("{")]
        if not lines:
            fail("harness printed no result")
        result = json.loads(lines[-1])
        for l in lines[:-1]:
            print(l)
        print(json.dumps(result))
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
