#!/usr/bin/env python3
"""Run one psispark benchmark workload.

    python3 perfbench/run.py --workload search --seed 1 --seconds 10 --trace 0

Builds the benchmark (the engine's sources plus perfbench/src) with sbt the
first time and whenever a source changes, then runs the workload in one JVM
and prints its report. The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are
the end-to-end metrics of BENCHMARK.json, with --trace 1 the per-layer ones.

Exits non-zero, without a result line, when the engine's sources are missing,
the build fails or the run fails.
"""
import argparse
import hashlib
import os
import pathlib
import shutil
import signal
import subprocess
import sys
import zipfile

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
TARGET = HERE / "target"
CLASSPATH_FILE = TARGET / "bench-classpath.txt"
STAMP_FILE = TARGET / "bench-build.stamp"
JAR_FILE = TARGET / "perfbench.jar"
# Class-data-sharing archive of the classes a run loads: recorded once by a
# tiny training run at build time, it cuts JVM and Spark start-up by seconds.
CDS_FILE = TARGET / "perfbench.jsa"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 needs these outside spark-submit (as in the root build.sbt).
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED"
    for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
    )
]
# The JIT compiler threads live as long as the JVM, so that the op clock can
# leave out their CPU (perfbench.Run.cpuMs).
JVM_OPTS = ["-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UseDynamicNumberOfCompilerThreads",
            "-Xlog:disable", "-Xlog:all=warning:stderr"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [ROOT / "src" / "main", HERE / "src" / "main"]
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for r in roots:
        files += sorted(p for p in r.rglob("*") if p.is_file())
    return files


def sources_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = pathlib.Path.home() / ".sbt" / "repositories"
        if repos.is_file():
            opts = ["-Dsbt.override.build.repos=true",
                    f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compiles the benchmark if needed; returns its runtime classpath."""
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"engine sources not found under {ROOT / 'src'}; run from a repository checkout")
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    digest = sources_digest()
    if STAMP_FILE.is_file() and CLASSPATH_FILE.is_file() and \
            STAMP_FILE.read_text().strip() == digest:
        return CLASSPATH_FILE.read_text().strip()
    print("perfbench: building (sbt compile)", file=sys.stderr)
    try:
        res = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [l for l in res.stdout.splitlines() if l.strip()]
    if res.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    # CDS archives only classes from jars: pack the compiled classes into one
    entries = lines[-1].strip().split(os.pathsep)
    classes = pathlib.Path(entries[0])
    JAR_FILE.unlink(missing_ok=True)
    with zipfile.ZipFile(JAR_FILE, "w") as jar:
        for f in sorted(classes.rglob("*")):
            if f.is_file():
                jar.write(f, f.relative_to(classes).as_posix())
    classpath = os.pathsep.join([str(JAR_FILE)] + entries[1:])
    CDS_FILE.unlink(missing_ok=True)
    train = ["--workload", "search", "--seed", "1", "--seconds", "1", "--trace", "0",
             "--size", "tiny", "--work", str(TARGET / "train-work")]
    if java(classpath, train, [f"-XX:ArchiveClassesAtExit={CDS_FILE}"],
            TARGET / "train.log")[0] != 0:
        CDS_FILE.unlink(missing_ok=True)  # runs work without it, only slower
    CLASSPATH_FILE.write_text(classpath)
    STAMP_FILE.write_text(digest)
    return classpath


def java(classpath, args, extra, log):
    """Runs perfbench.Main in a JVM of its own; returns (exit code, stdout)."""
    tmp = TARGET / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = [shutil.which("java") or "java", *JVM_OPTS, *extra, *ADD_OPENS,
           f"-Djava.io.tmpdir={tmp}", "-cp", classpath, "perfbench.Main", *args]
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err,
                                stdin=subprocess.DEVNULL, text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None, ""
    return proc.returncode, out


def run(args, classpath):
    work = TARGET / "work"
    log = TARGET / f"run-{args.workload}.log"
    cds = [f"-XX:SharedArchiveFile={CDS_FILE}"] if CDS_FILE.is_file() else []
    opts = ["--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--size", args.size, "--work", str(work)]
    code, out = java(classpath, opts, cds, log)
    if code is None:
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run did not finish within {RUN_TIMEOUT_S} s (log: {log})")
    lines = out.splitlines()
    if code != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(out[-4000:])
        sys.stderr.write("".join(open(log).readlines()[-40:]))
        fail(f"run failed with exit code {code} (log: {log})")
    sys.stdout.write(out)


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["search", "build", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full",
                    help="corpus size; tiny is for the self-tests")
    args = ap.parse_args()
    run(args, build())


if __name__ == "__main__":
    main()
