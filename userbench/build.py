"""Build file of the benchmark package: compiles the engine's sources
(src/main/scala) together with the benchmark's own (userbench/src) with
the Scala compiler that ships among the Spark jars, and packs the
classes into .bench_build/userbench/bench.jar. A stamp over every source
file skips the compile when nothing changed.

    python3 userbench/build.py        # from the repository root
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)
OUT = os.path.join(REPO, ".bench_build", "userbench")


def spark_jars():
    """The Spark jars: $SPARK_HOME/jars, else the `unmanagedBase` the
    repository's sbt build compiles against."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = os.path.join(REPO, "build.sbt")
        m = os.path.exists(sbt) and re.search(
            r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        jars = m.group(1) if m else ""
    if not os.path.isdir(jars):
        raise SystemExit("build: no Spark jars found (set SPARK_HOME)")
    return jars


def sources():
    roots = [os.path.join(REPO, "src", "main", "scala"),
             os.path.join(BENCH, "src")]
    for r in roots:
        if not os.path.isdir(r):
            raise SystemExit(f"build: source directory {r} is missing")
    files = []
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build():
    """Compile if the sources changed; return (jar path, build stamp)."""
    files = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()[:16]
    jar = os.path.join(OUT, "bench.jar")
    stamp_file = os.path.join(OUT, "bench.stamp")
    if os.path.exists(jar) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                return jar, stamp
    tmp = os.path.join(OUT, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    print(f"build: compiling {len(files)} Scala files", file=sys.stderr)
    subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
                    "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
                    "-d", tmp, "-cp", cp, "@" + argfile],
                   check=True, stdout=sys.stderr)
    # a jar, not a class directory: the JVM's class-data sharing
    # archive (see run.py) only covers jar class paths
    with zipfile.ZipFile(jar + ".tmp", "w") as z:
        for d, _, names in os.walk(tmp):
            for n in sorted(names):
                p = os.path.join(d, n)
                z.write(p, os.path.relpath(p, tmp))
    os.replace(jar + ".tmp", jar)
    shutil.rmtree(tmp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return jar, stamp


if __name__ == "__main__":
    os.makedirs(OUT, exist_ok=True)
    print(build()[0])
