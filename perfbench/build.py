"""Build file of the benchmark package.

Compiles the program (`src/main/scala` at the repository root) together
with the benchmark program (`perfbench/src`) into one jar, with the Scala
compiler that ships in Spark's jar directory: the same Scala version the
repository's build.sbt pins, and no dependency resolution. It then runs
every workload once at a tiny scale (`graft.perfbench.Prime`) to write a
class data sharing archive, which cuts JVM and Spark start-up in every
later run; a JVM that cannot map the archive starts without it.

The output lives under `.bench_build/perfbench/` in the repository root,
keyed by a hash of every source file, so only the first run in a checkout
builds. Run it alone with `python3 perfbench/build.py`.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
SOURCES = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")

# Spark 4 on JDK 17 outside spark-submit (same list as the repository's build.sbt)
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
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home:
        raise SystemExit("no Spark 4 install: set SPARK_HOME or put spark-submit on PATH")
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
    if not jars:
        raise SystemExit(f"no jars under {os.path.join(home, 'jars')}")
    return jars


def source_files():
    files = []
    for top in SOURCES + [RESOURCES]:
        if not os.path.isdir(top):
            raise SystemExit(f"missing source directory {os.path.relpath(top, ROOT)}")
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def fingerprint(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def jvm_options(tmpdir):
    # a fixed heap size keeps the resident set comparable between runs.
    # C1 only: a run lives under a minute, and with the C2 tier its ops
    # kept getting faster (2x over the first three fold blocks) as C2
    # compiled, so a run measured how far the JIT had got, which depends
    # on the machine's load; C1 compiles within the set-up
    return (["-Xms1536m", "-Xmx1536m", "-XX:TieredStopAtLevel=1", f"-Djava.io.tmpdir={tmpdir}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + [x for o in ADD_OPENS for x in ("--add-opens", f"{o}=ALL-UNNAMED")])


def compile_jar(files, jars, jar):
    classes = os.path.join(OUT, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    args = os.path.join(OUT, "sources.txt")
    with open(args, "w") as fh:
        fh.write("\n".join(f for f in files if f.endswith(".scala")))
    r = subprocess.run(["java", "-Xmx3g", "-Xss16m", "-cp", os.pathsep.join(jars),
                        "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes,
                        "@" + args], stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"compile failed (exit {r.returncode})")
    shutil.copytree(RESOURCES, classes, dirs_exist_ok=True)
    with zipfile.ZipFile(jar, "w") as z:
        for d, _, names in os.walk(classes):
            for n in sorted(names):
                p = os.path.join(d, n)
                z.write(p, os.path.relpath(p, classes))
    shutil.rmtree(classes)


def prime_archive(cp, archive):
    work = os.path.join(OUT, "prime")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        r = subprocess.run(["java"] + jvm_options(os.path.join(work, "tmp"))
                           + [f"-XX:ArchiveClassesAtExit={archive}", "-cp", cp,
                              "graft.perfbench.Prime", work],
                           stdout=sys.stderr, stderr=subprocess.DEVNULL, timeout=600)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0 and os.path.exists(archive):
        os.remove(archive)


def build():
    """Build if the sources changed; return (class path, archive options)."""
    jars = spark_jars()
    files = source_files()
    key = fingerprint(files)
    jar = os.path.join(OUT, "perfbench.jar")
    archive = os.path.join(OUT, "classes.jsa")
    stamp = os.path.join(OUT, "stamp")
    cp = os.pathsep.join([jar] + jars)
    if not (os.path.exists(stamp) and open(stamp).read() == key):
        os.makedirs(OUT, exist_ok=True)
        for f in (stamp, archive):
            if os.path.exists(f):
                os.remove(f)
        compile_jar(files, jars, jar)
        prime_archive(cp, archive)
        with open(stamp, "w") as fh:
            fh.write(key)
    return cp, ([f"-XX:SharedArchiveFile={archive}"] if os.path.exists(archive) else [])


if __name__ == "__main__":
    build()
