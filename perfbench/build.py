#!/usr/bin/env python3
"""Build the PPDB benchmark: compile the program's main sources together with
the benchmark's own sources into one jar, then record a JVM class-data-sharing
archive of the classes a run loads.

    python3 perfbench/build.py

The Scala compiler and every library come from the Spark distribution
(`$SPARK_HOME/jars`, or the one next to `spark-submit` on PATH), the same
jars the program's own build compiles against. Output goes to
`.bench_build/perfbench/<stamp>/` at the repository root, where the stamp is
a hash of every source file, so each source state keeps its own build and
switching between two states does not rebuild.

The archive comes from one training run (`ppdbbench.Main --train`), which
drives every workload briefly on a small chunk stream. Every benchmark run
maps it, which takes several seconds of class loading off each JVM start.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = BENCH / "src"
OUT_ROOT = ROOT / ".bench_build" / "perfbench"
WORK_ROOT = ROOT / ".bench_work"
TRAIN_TIMEOUT_S = 300

# module opens Spark needs on JDK 17 outside spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


class Build:
    def __init__(self, out, jars):
        self.out = out
        self.jar = out / "perfbench.jar"
        self.archive = out / "perfbench.jsa"
        self.classpath = f"{self.jar}{os.pathsep}{jars}/*"

    def java(self, work, main, args, jvm_opts=None):
        """The command that runs `main` with its state under `work`; by
        default the JVM maps the class archive."""
        opts = ([f"-XX:SharedArchiveFile={self.archive}"] if jvm_opts is None
                else list(jvm_opts))
        for p in ADD_OPENS:
            opts += ["--add-opens", f"{p}=ALL-UNNAMED"]
        # JVM log lines go to stderr: the result JSON must stay the last line.
        # The heap is fixed, so no run spends its timed window growing it.
        return (["java", "-Xms3g", "-Xmx3g", "-XX:-UsePerfData",
                 "-Xlog:disable", "-Xlog:all=warning:stderr", *opts,
                 f"-Djava.io.tmpdir={work / 'tmp'}",
                 f"-Dderby.system.home={work}",
                 f"-Dderby.stream.error.file={work / 'derby.log'}",
                 f"-Dlog4j.configurationFile={BENCH / 'log4j2.properties'}",
                 "-cp", self.classpath, main] + args)

    @staticmethod
    def env(work):
        # Spark's scratch space stays inside the run's work dir
        return dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))


def new_work_dir(name):
    work = WORK_ROOT / f"{name}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    return work


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = str(Path(submit).resolve().parent.parent) if submit else None
    jars = Path(home) / "jars" if home else None
    if jars is None or not any(jars.glob("scala-compiler-*.jar")):
        raise BuildError("no Spark distribution with a Scala compiler found; set SPARK_HOME")
    return jars


def sources():
    if not PROGRAM_SRC.is_dir():
        raise BuildError(f"program sources not found at {PROGRAM_SRC}")
    return sorted(PROGRAM_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))


def build():
    """Compile and record the class archive if needed; return the Build."""
    jars = spark_jars()
    files = sources()
    digest = hashlib.sha256(str(jars).encode())
    for f in files:
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    b = Build(OUT_ROOT / digest.hexdigest()[:16], jars)
    done = b.out / "DONE"
    if done.is_file():
        return b

    shutil.rmtree(b.out, ignore_errors=True)
    b.out.mkdir(parents=True)
    staging = b.out / "perfbench.tmp.jar"
    args_file = b.out / "sources.txt"
    args_file.write_text("\n".join(str(f) for f in files) + "\n")
    print(f"compiling {len(files)} Scala sources", file=sys.stderr, flush=True)
    proc = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
         "-cp", f"{jars}/*", "scala.tools.nsc.Main",
         "-nowarn", "-classpath", f"{jars}/*", "-d", str(staging), f"@{args_file}"],
        stdout=sys.stderr, stderr=sys.stderr)
    if proc.returncode != 0:
        raise BuildError(f"compile failed (exit {proc.returncode})")
    staging.rename(b.jar)

    print("recording the class archive", file=sys.stderr, flush=True)
    work = new_work_dir("train")
    try:
        cmd = b.java(work, "ppdbbench.Main", ["--train", "--work", str(work)],
                     [f"-XX:ArchiveClassesAtExit={b.archive}"])
        proc = subprocess.run(cmd, cwd=ROOT, env=b.env(work), stdout=sys.stderr,
                              stderr=sys.stderr, timeout=TRAIN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise BuildError(f"training run exceeded {TRAIN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0 or not b.archive.is_file():
        raise BuildError(f"training run failed (exit {proc.returncode})")
    done.write_text("")
    return b


if __name__ == "__main__":
    try:
        print(build().classpath)
    except BuildError as e:
        print(f"build: {e}", file=sys.stderr)
        sys.exit(2)
