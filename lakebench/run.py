#!/usr/bin/env python3
"""Build (when the sources changed) and run the CDC lakehouse benchmark.

    python3 lakebench/run.py --workload cdc_uniform_cow --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The client and the engine are compiled
into .bench_build/lakebench; every file the run writes stays under that
directory. The last line of standard output is the JSON result.
"""
import argparse
import hashlib
import os
import pathlib
import shutil
import signal
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".bench_build" / "lakebench"
RUN_TIMEOUT_S = 170
# Class-data sharing archive of the classes a run loads: the first run after
# a build writes it at exit, and keeps it only if the run succeeded (a run
# that failed early would archive few classes); later runs map it and start
# faster.
CDS_ARCHIVE = OUT / "classes.jsa"
CDS_DUMP = OUT / "classes.jsa.tmp"

# Spark on JDK 17 needs these outside spark-submit (the same list as build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = str(pathlib.Path(shutil.which("spark-submit")).resolve().parent.parent)
    return pathlib.Path(home or "") / "jars"


def sources():
    engine = ROOT / "src" / "main"
    return sorted(p for d in (engine, HERE / "src") for p in d.rglob("*") if p.is_file()) + [
        HERE / "build.sh"]


def build():
    digest = hashlib.sha256()
    for p in sources():
        digest.update(str(p.relative_to(ROOT)).encode())
        digest.update(p.read_bytes())
    stamp = OUT / "stamp"
    if stamp.exists() and stamp.read_text() == digest.hexdigest() and \
            (OUT / "classes" / "lakebench.jar").is_file():
        return
    subprocess.run(["bash", str(HERE / "build.sh"), str(OUT)], check=True,
                   stdout=sys.stderr)
    CDS_ARCHIVE.unlink(missing_ok=True)
    stamp.write_text(digest.hexdigest())


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, help="TPC-H scale factor of the generated tables")
    ap.add_argument("--inject-mismatch", type=int, choices=(0, 1), default=0,
                    help="drop one reference row, to prove the correctness gate fails")
    a = ap.parse_args()
    if not (ROOT / "src" / "main" / "scala").is_dir():
        sys.exit("engine sources (src/main/scala) not found: run from the root of a checkout")
    if not spark_jars().is_dir():
        sys.exit("Spark jars not found: set SPARK_HOME")
    OUT.mkdir(parents=True, exist_ok=True)
    build()
    tmp = OUT / "tmp"
    tmp.mkdir(exist_ok=True)
    java = pathlib.Path(os.environ["JAVA_HOME"]) / "bin" / "java" if os.environ.get("JAVA_HOME") else "java"
    # a fixed heap and two GC threads: no heap resizing, and the JVM's own
    # threads stay within the cores Spark's two task threads leave free.
    # -Xlog:disable keeps JVM warnings off stdout, whose last line is the result.
    dump = not CDS_ARCHIVE.exists()
    CDS_DUMP.unlink(missing_ok=True)
    cds = f"-XX:ArchiveClassesAtExit={CDS_DUMP}" if dump else f"-XX:SharedArchiveFile={CDS_ARCHIVE}"
    cmd = [str(java), "-Xms2g", "-Xmx2g", "-XX:ParallelGCThreads=2", "-XX:ConcGCThreads=1",
           cds, "-Xlog:disable", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{OUT / 'classes' / 'lakebench.jar'}{os.pathsep}{spark_jars() / '*'}",
            "lakebench.Bench",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", str(OUT / "work"),
            "--inject-mismatch", str(a.inject_mismatch)]
    if a.scale is not None:
        cmd += ["--scale", str(a.scale)]
    proc = subprocess.Popen(cmd, cwd=OUT)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit(f"benchmark exceeded {RUN_TIMEOUT_S} s")
    if dump and code == 0 and CDS_DUMP.exists():
        CDS_DUMP.replace(CDS_ARCHIVE)
    CDS_DUMP.unlink(missing_ok=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
