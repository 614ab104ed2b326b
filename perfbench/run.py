#!/usr/bin/env python3
"""Run one workload of the graft benchmark.

    python3 perfbench/run.py --workload curate|feed|serve --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first call builds the benchmark and the
program from source with sbt (perfbench/build.sbt); later calls reuse the
build while the sources are unchanged. The benchmark prints one line per
metric and, as its last line, one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
Build output, engine logs, work files and full records (spans and engine
counters) go under .bench_build/perfbench/.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build" / "perfbench"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# Spark on JDK 17 outside spark-submit needs these opens (the same list the
# program's own build passes to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
HEAP = "2g"


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads from the checkout, in a stable order."""
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for base in (ROOT / "project", HERE / "project"):
        files += sorted(base.glob("*.sbt")) + sorted(base.glob("*.properties"))
    for base in (ROOT / "src" / "main", HERE / "src" / "main"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    return files


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes() + b"\0")
    return h.hexdigest()


def classpath():
    """The runtime classpath, building first when the sources changed."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no program sources under {ROOT} (build.sbt, src/main/scala): nothing to build")
    cached = BUILD / "classpath.json"
    want = stamp()
    if cached.is_file():
        got = json.loads(cached.read_text())
        if got.get("stamp") == want:
            return got["classpath"]
    BUILD.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    # resolve only from the local caches, as the program's own build does
    env.setdefault("COURSIER_MODE", "offline")
    repos = Path.home() / ".sbt" / "repositories"
    if "SBT_OPTS" not in env and repos.is_file():
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true")
    log = BUILD / "build.log"
    with open(log, "w") as out:
        try:
            r = subprocess.run(
                ["sbt", "-batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out, text=True,
                timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out after {BUILD_TIMEOUT_S} s; see {log}")
        out.write(r.stdout)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines or lines[-1].startswith("["):
        fail(f"build failed (exit {r.returncode}); see {log}")
    cp = lines[-1].strip()
    cached.write_text(json.dumps({"stamp": want, "classpath": cp}))
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cp = classpath()
    for d in ("tmp", "spark-local", "logs", "records", "work"):
        (BUILD / d).mkdir(parents=True, exist_ok=True)
    java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        f"-Djava.io.tmpdir={BUILD / 'tmp'}",
        f"-Dspark.sql.warehouse.dir={BUILD / 'warehouse'}",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", str(BUILD / "work"), "--records", str(BUILD / "records"),
    ]
    log = BUILD / "logs" / f"{args.workload}-seed{args.seed}-trace{args.trace}.log"
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(BUILD / "spark-local"))
    t0 = time.time()
    with open(log, "w") as err:
        try:
            r = subprocess.run(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=err,
                               text=True, timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"run timed out after {RUN_TIMEOUT_S} s; see {log}", 3)
    out = r.stdout.rstrip("\n")
    if r.returncode != 0:
        sys.stdout.write(out + "\n" if out else "")
        fail(f"run failed (exit {r.returncode}) after {time.time() - t0:.1f} s; see {log}", r.returncode or 1)
    print(out)


if __name__ == "__main__":
    main()
