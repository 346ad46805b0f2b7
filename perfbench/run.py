#!/usr/bin/env python3
"""Run one benchmark workload against the program built from this checkout.

    python3 perfbench/run.py --workload NAME --seed N --seconds T --trace 0|1

Run from the root of a checkout. The first run builds the program and the
harness (sbt, offline) and the one-time fixtures under perfbench/.work;
later runs reuse both. The last line of standard output is one JSON object
with the keys correct, attempted, failed and metrics.
"""

import argparse
import fcntl
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import zipfile
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = BENCH / ".work"
ARCHIVE = WORK / "classes.jsa"
# The workloads BENCHMARK.json names; the others run by hand.
BENCHMARK_WORKLOADS = ("log_replay", "write_mix")
WORKLOADS = BENCHMARK_WORKLOADS + ("table_read", "tree_maint")
RUN_TIMEOUT_S = 170
HEAP = "3g"
# Spark on JDK 17 needs these outside spark-submit (the root build's list).
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]
# Sources whose change invalidates the fixtures.
FIXTURE_SOURCES = ["Fixtures.scala", "SyntheticLog.scala", "Oracles.scala"]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def digest(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def sources():
    files = [ROOT / "build.sbt", BENCH / "build.sbt",
             BENCH / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", BENCH / "src" / "main"):
        files += [p for p in d.rglob("*") if p.is_file()]
    return files


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.is_file():
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def jar_dirs(classpath):
    """Replace class directories by jars: class-data sharing archives
    only jars."""
    jars = WORK / "jars"
    shutil.rmtree(jars, ignore_errors=True)
    jars.mkdir()
    out = []
    for i, entry in enumerate(classpath.split(os.pathsep)):
        src = Path(entry)
        if src.is_dir():
            dst = jars / f"{i:02d}-{src.parent.parent.parent.name}.jar"
            with zipfile.ZipFile(dst, "w") as z:
                for f in sorted(src.rglob("*")):
                    if f.is_file():
                        z.write(f, f.relative_to(src).as_posix())
            entry = str(dst)
        out.append(entry)
    return os.pathsep.join(out)


def build():
    """Compile the program and the harness; return the runtime classpath."""
    stamp, cp_file = WORK / "build.stamp", WORK / "classpath.txt"
    want = digest(sources())
    if cp_file.is_file() and stamp.is_file() and stamp.read_text() == want:
        return cp_file.read_text().strip()
    ARCHIVE.unlink(missing_ok=True)
    log("building the program and the harness with sbt")
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=sbt_env(), stdout=subprocess.PIPE, stderr=sys.stderr,
        stdin=subprocess.DEVNULL, text=True, timeout=800)
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(out.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    cp = jar_dirs(lines[-1].strip())
    cp_file.write_text(cp)
    stamp.write_text(want)
    return cp


def java(cp, args, timeout):
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # JVM class-data sharing: the archive of the classes a run loads is
    # dumped once, at the end of `prepare`, and mapped by every later JVM
    cds = (f"-XX:SharedArchiveFile={ARCHIVE}" if ARCHIVE.is_file()
           else f"-XX:ArchiveClassesAtExit={ARCHIVE}")
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", cds,
           "-Xlog:disable", "-Xlog:all=warning:stderr",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}"]
    for o in OPENS:
        cmd += ["--add-opens", f"java.base/{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + args + [
        "--data", str(WORK), "--cores", str(len(os.sched_getaffinity(0)))]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True,
                            start_new_session=True)
    lines = []
    try:
        out, _ = proc.communicate(timeout=timeout)
        lines = out.splitlines()
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"perfbench: {args[0]} did not finish in {timeout}s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    return proc.returncode, lines


def prepare(cp, workload):
    """Build missing fixtures and the class-data archive. A benchmark
    workload prepares all of them at once, on the first run."""
    ws = BENCHMARK_WORKLOADS if workload in BENCHMARK_WORKLOADS else (workload,)
    want = digest([BENCH / "src" / "main" / "scala" / "perfbench" / f
                   for f in FIXTURE_SOURCES])
    marker = lambda w: WORK / "fixtures" / f"{w}.prepared"
    todo = [w for w in ws
            if not marker(w).is_file() or marker(w).read_text() != want]
    if not todo and ARCHIVE.is_file():
        return
    for w in todo:
        shutil.rmtree(WORK / "fixtures" / w, ignore_errors=True)
    log(f"preparing fixtures and the class-data archive for {', '.join(ws)}")
    code, lines = java(cp, ["prepare", "--workloads", ",".join(ws)], timeout=700)
    for l in lines:
        print(l, file=sys.stderr)
    if code != 0:
        raise SystemExit("perfbench: prepare failed")
    for w in ws:
        marker(w).write_text(want)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        raise SystemExit("perfbench: run from the root of a checkout of the "
                         "program (build.sbt and src/main/scala not found)")
    WORK.mkdir(exist_ok=True)
    with open(WORK / "lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        cp = build()
        prepare(cp, a.workload)
    code, lines = java(cp, ["run", "--workload", a.workload,
                            "--seed", str(a.seed), "--seconds", str(a.seconds),
                            "--trace", a.trace], timeout=RUN_TIMEOUT_S)
    result = [l for l in lines if l.startswith("{")]
    for l in lines:
        if not l.startswith("{"):
            print(l, flush=True)
    if code != 0 or not result:
        raise SystemExit(f"perfbench: run failed (exit {code})")
    print(result[-1], flush=True)


if __name__ == "__main__":
    main()
