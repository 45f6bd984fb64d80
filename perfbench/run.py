#!/usr/bin/env python3
"""Run the benchmark of the graft engine.

    python3 perfbench/run.py --workload <build_rank|serve> --seed <n> \
        --seconds <s> --trace <0|1>
    python3 perfbench/run.py --seed <n>     # every workload, untraced then traced

Run it from the root of a checkout. The first run compiles the engine's
sources together with the benchmark code (an sbt project in this
directory), packs the classes into a jar and records a class-data-sharing
archive from one short training run, all under perfbench/.build; later
runs launch the JVM directly with that archive, which roughly halves JVM
and Spark start-up. The benchmark JVM prints metric and check lines, and as
its last line one JSON object: the end-to-end metrics with --trace 0, the
per-layer metrics with --trace 1. The exit code is the JVM's: 1 when a
correctness check failed (with several runs: non-zero when any run failed).
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys
import zipfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
ENGINE_SRC = ROOT / "src" / "main" / "scala"
BUILD = HERE / ".build"
ARCHIVE = BUILD / "classes.jsa"
WORK = HERE / ".work"
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def source_stamp():
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    inputs = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for top in (ENGINE_SRC, HERE / "src" / "main"):
        inputs += sorted(p for p in top.rglob("*") if p.is_file())
    for p in inputs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile with sbt, pack the classes into a jar and record the
    class-data-sharing archive, unless the cached build matches the
    sources. Returns the classpath."""
    stamp = source_stamp()
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    # the build resolves only from local caches: there may be no network
    offline = ["-Dsbt.offline=true"]
    repositories = Path.home() / ".sbt" / "repositories"
    if repositories.exists():
        offline += ["-Dsbt.override.build.repos=true",
                    f"-Dsbt.repository.config={repositories}"]
    cmd = ["sbt", "-batch", "-Dsbt.server.autostart=false", *offline,
           "compile", "export Runtime/fullClasspath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    out = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                         stderr=subprocess.STDOUT, text=True, timeout=600)
    lines = [l.strip() for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write(out.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    BUILD.mkdir(parents=True, exist_ok=True)
    stamp_file.unlink(missing_ok=True)
    # class-data sharing archives classes from jars only, not directories
    classes, *deps = lines[-1].split(":")
    jar = BUILD / "perfbench.jar"
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for p in sorted(Path(classes).rglob("*")):
            if p.is_file():
                z.write(p, p.relative_to(classes))
    classpath = ":".join([str(jar), *deps])
    ARCHIVE.unlink(missing_ok=True)
    # one short traced run records the classes it loads; without the
    # archive the runs are only slower to start, so a failed training run
    # is reported and its partial archive dropped, not fatal
    trained = run(classpath, "build_rank", 0, 1, "1", [f"-XX:ArchiveClassesAtExit={ARCHIVE}"],
                  stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    if trained != 0:
        sys.stderr.write(f"perfbench: training run failed ({trained}); no class-data archive\n")
        ARCHIVE.unlink(missing_ok=True)
    cp_file.write_text(classpath)
    stamp_file.write_text(stamp)
    return classpath


def run(classpath, workload, seed, seconds, trace, jvm_flags=(), **io):
    """One benchmark JVM; returns its exit code."""
    if not jvm_flags and ARCHIVE.exists():
        jvm_flags = [f"-XX:SharedArchiveFile={ARCHIVE}"]
    java = [
        "java", *[a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
        "-Xmx3g", "-XX:+UseParallelGC", *jvm_flags,
        f"-Djava.io.tmpdir={WORK / 'tmp'}",
        "-cp", classpath, "graft.perfbench.Main",
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", trace,
        "--work", str(WORK / "run"),
    ]
    (WORK / "tmp").mkdir(parents=True, exist_ok=True)
    proc = subprocess.Popen(java, cwd=ROOT, **io)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"perfbench: run exceeded {RUN_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    return code


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=[w["name"] for w in spec["workloads"]],
                    help="default: every workload")
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", choices=["0", "1"], help="default: 0, then 1")
    args = ap.parse_args()
    if not ENGINE_SRC.is_dir():
        raise SystemExit(f"perfbench: engine sources not found at {ENGINE_SRC}; "
                         "run from the root of a full checkout")
    classpath = build()
    workloads = [args.workload] if args.workload else [w["name"] for w in spec["workloads"]]
    traces = [args.trace] if args.trace else ["0", "1"]
    codes = [run(classpath, w, args.seed, args.seconds, t) for w in workloads for t in traces]
    sys.exit(next((c for c in codes if c != 0), 0))


if __name__ == "__main__":
    main()
