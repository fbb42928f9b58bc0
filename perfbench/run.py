#!/usr/bin/env python3
"""Run one benchmark workload from the root of a checkout.

    python3 perfbench/run.py --workload {serve,library} \
        --seed N --seconds S --trace {0,1}

Builds the program and the benchmark harness from source with sbt (once
per source tree; the class path is cached under .bench_build/), runs the
workload in one JVM on the program's own session (GraftSession.local
with one Spark task thread per core), and relays its output. The last
line of standard output is one JSON object: correct, attempted, failed,
metrics. The full record of the run, spans included, is written to
.bench_build/records/. Exits non-zero when the build fails, when an
operation fails or returns a wrong result, or when the run overruns.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
WORKLOADS = ("serve", "library")
# One run must end within 180 s, the build excluded.
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
JVM_HEAP = "2g"

# Spark on JDK 17 needs these when started outside spark-submit (the
# program's build file passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads from the checkout."""
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for d in (ROOT / "project", HERE / "project"):
        files += sorted(p for p in d.glob("*") if p.is_file())
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def tree_digest():
    h = hashlib.sha256()
    for p in source_files():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def run_bounded(cmd, limit_s, **kw):
    """Run cmd in its own process group; kill the group on overrun, or
    when this script is interrupted or terminated."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None, None
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out


def build():
    """Compile program and harness; return the runtime class path."""
    stamp = BUILD / "stamp"
    cp_file = BUILD / "classpath"
    digest = tree_digest()
    if stamp.exists() and cp_file.exists() and stamp.read_text() == digest:
        return cp_file.read_text().strip()
    BUILD.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    for flag in ("-Dsbt.override.build.repos=true", "-Dsbt.offline=true"):
        if flag.split("=")[0] not in opts:
            opts += " " + flag
    env["SBT_OPTS"] = opts.strip()
    log("building program and harness with sbt")
    tmp = BUILD / "tmp"
    tmp.mkdir(exist_ok=True)
    rc, out = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "-Dsbt.server.autostart=false", f"-Djava.io.tmpdir={tmp}",
         "-J-XX:-UsePerfData", "export perfbench/Runtime/fullClasspath"],
        BUILD_LIMIT_S, cwd=HERE, env=env, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True)
    if rc != 0:
        sys.stderr.write(out or "build timed out\n")
        raise SystemExit("build failed")
    cp = out.strip().splitlines()[-1].strip()
    if "perfbench" not in cp:
        sys.stderr.write(out)
        raise SystemExit("build printed no class path")
    cp_file.write_text(cp + "\n")
    stamp.write_text(digest)
    return cp


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS + ("record-library",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    ap.add_argument("--extra-query", default="",
                    help="library: append this query name to the mix, "
                    "e.g. an unknown one to see failure accounting")
    a = ap.parse_args()

    if not (ROOT / "build.sbt").is_file() or \
            not (ROOT / "src" / "main" / "scala").is_dir():
        raise SystemExit("no program sources next to the benchmark")
    cp = build()

    work = BUILD / "work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    record = BUILD / "records" / f"{a.workload}-seed{a.seed}-trace{a.trace}.json"
    for sub in ("tmp", "spark-local", "warehouse", "stage"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    cmd = ["java", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData"]
    for pkg in ADD_OPENS:
        cmd += ["--add-opens", f"{pkg}=ALL-UNNAMED"]
    cmd += [
        f"-Djava.io.tmpdir={work / 'tmp'}",
        f"-Dspark.local.dir={work / 'spark-local'}",
        f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
        f"-Dgraft.stage.dir={work / 'stage'}",
        "-Dspark.ui.enabled=false",
        f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
        "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", a.trace,
        "--work", str(work), "--data", str(HERE / "inputs"),
        "--record", str(record),
    ]
    if a.extra_query:
        cmd += ["--extra-query", a.extra_query]
    try:
        rc, _ = run_bounded(cmd, RUN_LIMIT_S, cwd=work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc is None:
        raise SystemExit(f"run exceeded {RUN_LIMIT_S} s")
    sys.exit(rc)


if __name__ == "__main__":
    main()
