#!/usr/bin/env python3
"""Run one benchmark workload of the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine
(src/main/scala) together with the benchmark (perfbench/src) with sbt,
records the JVM classes a short training run loads in a class-data-sharing
archive (it shortens every later JVM start by about 4 s on 4 cores), and
stamps the sources; later runs reuse the build until a source changes. A
build whose training run fails is a failed build: every run starts from
the archive. Each run starts a fresh JVM, relays its stdout (the last
line is the result JSON) and exits with its code. Everything the benchmark writes
goes under .bench_build/ in the checkout; the run's own work directory is
removed when it ends.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path.cwd()
BENCH = ROOT / "perfbench"
ENGINE = ROOT / "src" / "main" / "scala"
BUILD = ROOT / ".bench_build"
ARCHIVE = BUILD / "classes.jsa"
WORKLOADS = ("etl_incremental", "index_ingest", "index_merge")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800

# Spark 4 on JDK 17 needs these when the session is not started through
# spark-submit (the same list as the engine's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for d in (ENGINE, BENCH / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def stamp():
    h = hashlib.sha256()
    for p in sources():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compiles engine and benchmark unless the stamp of their sources
    matches the last build; returns the runtime classpath."""
    cp_file = BENCH / "target" / "bench.classpath"
    stamp_file = BUILD / "build.stamp"
    want = stamp()
    if (cp_file.is_file() and ARCHIVE.is_file() and stamp_file.is_file()
            and stamp_file.read_text() == want):
        return cp_file.read_text().strip()
    stamp_file.unlink(missing_ok=True)
    # untraced medians of the old build must not set a new traced run's
    # overhead
    shutil.rmtree(BUILD / "state", ignore_errors=True)
    tmp = BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    repos = Path.home() / ".sbt" / "repositories"
    opts = env.get("SBT_OPTS", "").split()
    if repos.is_file() and not any(o.startswith("-Dsbt.repository.config") for o in opts):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}", "-Dsbt.offline=true"]
    opts += [f"-Dsbt.global.base={BUILD / 'sbt-global'}",
             f"-Djava.io.tmpdir={tmp}"]
    env["SBT_OPTS"] = " ".join(opts)
    env.setdefault("COURSIER_MODE", "offline")
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found on PATH")
    # sbt's log goes to stderr: stdout is reserved for the result
    try:
        r = subprocess.run([sbt, "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                           cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
                           timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if r.returncode != 0 or not cp_file.is_file():
        fail(f"build failed (sbt exit {r.returncode})")
    classpath = cp_file.read_text().strip()
    # training run for the class-data-sharing archive: a short index_merge
    # run loads the classes every workload needs
    ARCHIVE.unlink(missing_ok=True)
    work = BUILD / "work" / "train"
    try:
        r = subprocess.run(java_cmd(classpath, work, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"],
                                    ["--workload", "index_merge", "--seed", "0",
                                     "--seconds", "1", "--trace", "0"]),
                           cwd=ROOT, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                           timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        r = None
    shutil.rmtree(work, ignore_errors=True)
    if r is None or r.returncode != 0 or not ARCHIVE.is_file():
        ARCHIVE.unlink(missing_ok=True)
        fail("build failed: the class-data-sharing training run "
             + ("timed out" if r is None else f"exited {r.returncode} without an archive"))
    stamp_file.write_text(want)
    return classpath


def java_cmd(classpath, work, jvm_opts, args):
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    return (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
            ["-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={work / 'tmp'}",
             f"-Dperfbench.work={work}", f"-Dperfbench.traces={BUILD / 'traces'}",
             f"-Dperfbench.state={BUILD / 'state'}"] +
            jvm_opts + ["-cp", classpath, "perfbench.Main"] + args)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if not (ENGINE / "graft").is_dir():
        fail(f"engine sources not found under {ENGINE}; run from the root of a checkout")
    if not (BENCH / "build.sbt").is_file():
        fail("perfbench/build.sbt not found; run from the root of a checkout")
    classpath = build()

    work = BUILD / "work" / f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    cmd = java_cmd(classpath, work, [f"-XX:SharedArchiveFile={ARCHIVE}"],
                   ["--workload", a.workload, "--seed", str(a.seed),
                    "--seconds", str(a.seconds), "--trace", a.trace])
    # Spark's log goes to stderr; the JVM's stdout is the benchmark's
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                            text=True)
    try:
        out, err = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 3)
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write("\n".join(l for l in err.splitlines()
                                   if "[perfbench]" in l or "Exception" in l)[-4000:] + "\n")
    if lines:
        print("\n".join(lines))
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
