#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's sources
(src/main/scala) together with the benchmark driver (perfbench/src) with
the Scala compiler that ships in Spark's jars, packs the classes into
.bench_build/perfbench.jar, and records a class-data-sharing archive
(.bench_build/perfbench.jsa) from one tiny pass over every workload, which
cuts each benchmark JVM's class-loading start-up by several seconds. A
stamp over every source file skips all of it when nothing changed.

    python3 perfbench/build.py        # prints the jar
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", HERE / "src"]


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            sys.exit("perfbench: set SPARK_HOME or put spark-submit on PATH")
        home = str(Path(os.path.realpath(submit)).parent.parent)
    jars = Path(home) / "jars"
    if not any(jars.glob("scala-compiler-*.jar")):
        sys.exit(f"perfbench: no Scala compiler among Spark's jars in {jars}")
    return jars


def sources() -> list:
    for d in SOURCE_DIRS:
        if not d.is_dir():
            sys.exit(f"perfbench: missing source directory {d.relative_to(ROOT)}")
    return sorted(p for d in SOURCE_DIRS for p in d.rglob("*.scala"))


ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def heap_gb() -> int:
    """min(8, MemTotal/2) GiB, at least 2."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return max(2, min(8, kb // (2 * 1024 * 1024)))
    except (OSError, StopIteration, ValueError):
        return 2


def java_cmd(jar: Path, work: Path, args: list, cds: list) -> list:
    """The benchmark JVM: ParallelGC with half the heap young (the
    program's own run settings), at a fixed heap size so collections do
    not depend on how far the heap has grown; scratch and logs inside
    `work`."""
    heap = f"{heap_gb()}g"
    cmd = ["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:+UseParallelGC", "-XX:NewRatio=1",
           "-XX:-UseAdaptiveSizePolicy", "-XX:-UsePerfData",
           "-Xlog:all=warning:stderr", *cds,
           f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", f"{jar}{os.pathsep}{spark_jars() / '*'}",
                  "graft.perfbench.PerfBench", *args, "--work", str(work)]


def java_env() -> dict:
    """The environment minus SPARK_LOCAL_DIRS, which would move Spark's
    scratch out of `work`."""
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)
    return env


def compile_jar(srcs: list, jar: Path) -> None:
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", str(spark_jars() / "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", str(tmp)]
    r = subprocess.run(cmd + [str(p) for p in srcs], stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.exit(f"perfbench: compile failed ({r.returncode})")
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for f in sorted(tmp.rglob("*")):
            if f.is_file():
                z.write(f, f.relative_to(tmp).as_posix())
    shutil.rmtree(tmp)


def train_cds(jar: Path, jsa: Path) -> None:
    """Record the archive from the classes one tiny pass loads. Without it
    the benchmark still runs, only slower to start."""
    work = BUILD / "work" / "cds-training"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    args = ["--workload", "cds-training", "--seed", "1", "--seconds", "1", "--trace", "0"]
    try:
        rc = subprocess.run(java_cmd(jar, work, args, [f"-XX:ArchiveClassesAtExit={jsa}"]),
                            cwd=work, env=java_env(), stdout=subprocess.DEVNULL,
                            stderr=subprocess.DEVNULL, timeout=600).returncode
    except subprocess.TimeoutExpired:
        rc = "timeout"
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0:
        jsa.unlink(missing_ok=True)
        print(f"perfbench: class-data-sharing archive skipped ({rc})",
              file=sys.stderr)


def build() -> Path:
    """Returns the jar; `cds_flags()` gives the flags to use the archive."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    h.update(" ".join(sorted(j.name for j in spark_jars().glob("*.jar"))).encode())
    stamp = h.hexdigest()
    jar, jsa, stamp_file = BUILD / "perfbench.jar", BUILD / "perfbench.jsa", BUILD / "build.stamp"
    if jar.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return jar
    BUILD.mkdir(exist_ok=True)
    stamp_file.unlink(missing_ok=True)
    jsa.unlink(missing_ok=True)
    compile_jar(srcs, jar)
    train_cds(jar, jsa)
    stamp_file.write_text(stamp)
    return jar


def cds_flags() -> list:
    jsa = BUILD / "perfbench.jsa"
    return [f"-XX:SharedArchiveFile={jsa}"] if jsa.is_file() else []


if __name__ == "__main__":
    print(build())
