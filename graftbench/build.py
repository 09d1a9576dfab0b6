"""Build file of the graft benchmark.

Compiles graft's main sources together with the benchmark's own sources
into one jar, with the Scala compiler that ships among the Spark jars the
repository's build.sbt points at (`unmanagedBase`), or `$SPARK_HOME/jars`
when SPARK_HOME is set. Nothing is downloaded. A short training run of
the benchmark then dumps a class-data-sharing archive beside the jar, so
each measured run starts its JVM without re-loading Spark's classes. The
output lands under `.bench_build/graftbench/` at the repository root and is
reused while the sources are unchanged.

    python3 graftbench/build.py            # main classes
    python3 graftbench/build.py --tests    # main + the benchmark's tests
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "graftbench"
OUT = ROOT / ".bench_build" / "graftbench"
SCALA_VERSION_RE = re.compile(r"scala-(compiler|library|reflect)-2\.13\.\d+\.jar$")
JVM_OPTS = ["-Xms3g", "-Xmx3g", "-Xss4m", "-Duser.timezone=UTC", "-Xlog:cds=off", "-Xlog:cds+dynamic=off"] + [
    a for p in ("java.base/java.lang", "java.base/java.lang.invoke",
                "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
                "java.base/java.nio", "java.base/java.util",
                "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
                "java.base/sun.nio.ch", "java.base/sun.nio.cs",
                "java.base/sun.security.action", "java.base/sun.util.calendar")
    for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home:
        jars = Path(home) / "jars"
    else:
        sbt = ROOT / "build.sbt"
        if not sbt.is_file():
            raise BuildError(f"no build.sbt at {ROOT}: not a graft checkout")
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if not m:
            raise BuildError("build.sbt declares no unmanagedBase and SPARK_HOME is unset")
        jars = Path(m.group(1))
    if not jars.is_dir():
        raise BuildError(f"Spark jars directory {jars} does not exist")
    return jars


def sources(tests):
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        raise BuildError(f"graft sources not found at {main}")
    dirs = [main, BENCH / "src" / "main" / "scala"]
    if tests:
        dirs.append(BENCH / "src" / "test" / "scala")
    files = sorted(p for d in dirs for p in d.rglob("*.scala"))
    if not files:
        raise BuildError("no Scala sources")
    return files


def java_cmd(jar, jars, tmp, main, args, extra=()):
    cp = os.pathsep.join([str(jar), str(jars / "*")])
    archive = jar.parent / "app.jsa"
    share = [f"-XX:SharedArchiveFile={archive}"] if archive.is_file() and not extra else []
    return (["java"] + JVM_OPTS + share + list(extra) + [f"-Djava.io.tmpdir={tmp}", "-cp", cp,
            main] + list(args))


def train_archive(jar, jars, log):
    """Dumps the class-data-sharing archive from one short llm_ops run;
    without it runs still work, only their JVMs start slower."""
    work = OUT / "cds-train"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = java_cmd(jar, jars, work / "tmp", "graftbench.Main",
                   ["--workload", "llm_ops", "--seed", "0", "--seconds", "0", "--trace", "0",
                    "--work", str(work / "run"), "--cores", str(max(1, min(4, os.cpu_count() or 1)))],
                   extra=[f"-XX:ArchiveClassesAtExit={jar.parent / 'app.jsa'}"])
    print("graftbench: dumping the class-data-sharing archive", file=log, flush=True)
    (OUT / "logs").mkdir(parents=True, exist_ok=True)
    with open(OUT / "logs" / "cds-train.log", "w") as train_log:
        subprocess.run(cmd, stdout=subprocess.DEVNULL, stderr=train_log)
    shutil.rmtree(work, ignore_errors=True)


def build(tests=False, log=sys.stderr):
    """Returns (benchmark jar, Spark jars directory)."""
    jars = spark_jars()
    srcs = sources(tests)
    resources = ROOT / "src" / "main" / "resources"
    res_files = sorted(p for p in resources.rglob("*") if p.is_file()) if resources.is_dir() else []
    h = hashlib.sha256()
    for p in srcs + res_files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    key = h.hexdigest()[:16]
    dest = OUT / f"build-{'test-' if tests else ''}{key}"
    jar = dest / "graftbench.jar"
    if (dest / ".done").is_file():
        return jar, jars
    compiler = [j for j in sorted(jars.iterdir()) if SCALA_VERSION_RE.search(j.name)]
    if len(compiler) != 3:
        raise BuildError(f"Scala 2.13 compiler/library/reflect jars not found in {jars}")
    for old in OUT.glob(f"build-{'test-' if tests else ''}*"):
        shutil.rmtree(old)
    classes = dest / "classes"
    classes.mkdir(parents=True)
    argfile = dest / "sources.txt"
    argfile.write_text("\n".join(f'"{p}"' for p in srcs) + "\n")
    print(f"graftbench: compiling {len(srcs)} sources -> {dest.relative_to(ROOT)}",
          file=log, flush=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.pathsep.join(map(str, compiler)),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(classes),
           "-classpath", str(jars / "*"), f"@{argfile}"]
    if subprocess.run(cmd, stdout=log, stderr=log).returncode != 0:
        raise BuildError("compilation failed")
    with zipfile.ZipFile(jar, "w") as z:
        for p in sorted(classes.rglob("*")):
            if p.is_file():
                z.write(p, p.relative_to(classes).as_posix())
        for p in res_files:
            z.write(p, p.relative_to(resources).as_posix())
    shutil.rmtree(classes)
    argfile.unlink()
    if not tests:
        train_archive(jar, jars, log)
    (dest / ".done").write_text(key + "\n")
    return jar, jars


if __name__ == "__main__":
    try:
        jar, _ = build(tests="--tests" in sys.argv[1:])
    except BuildError as e:
        print(f"graftbench: build failed: {e}", file=sys.stderr)
        sys.exit(2)
    print(jar)
