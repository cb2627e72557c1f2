"""Build file of the XML-engine benchmark.

    python3 xmlbench/build.py        # from the repository root

Compiles the engine (`src/main/scala`, plus its resources) and the
benchmark harness (`xmlbench/src`) with the Scala compiler that ships in
Spark's own jar directory (`$SPARK_HOME/jars`, or the one next to the
`spark-submit` on PATH),
so the benchmark needs neither sbt nor a dependency cache, and packs each
into a jar.

Output goes to `.bench_build/xmlbench/` (or `$CARGO_TARGET_DIR/xmlbench/`
when that is set). Stamps holding hashes of the sources make each step run
only when something it depends on changed. Exits non-zero when the engine's
sources are missing or do not compile.
"""

import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")

HEAP = "2g"

# Spark 4 on JDK 17 needs these when a session is created outside
# spark-submit (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def build_dir():
    base = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    if not os.path.isabs(base):
        base = os.path.join(ROOT, base)
    return os.path.join(base, "xmlbench")


def spark_jars():
    """`$SPARK_HOME/jars`, else the `jars` directory of the first Spark
    installation whose `bin/spark-submit` is on PATH; it must hold the
    Scala compiler."""
    homes = [os.environ.get("SPARK_HOME") or ""]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        exe = os.path.join(d, "spark-submit")
        if os.path.isfile(exe):
            homes.append(os.path.dirname(os.path.dirname(
                os.path.realpath(exe))))
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and os.path.isdir(jars) and any(
                j.startswith("scala-compiler") for j in os.listdir(jars)):
            return jars
    raise SystemExit("xmlbench: no Spark jar directory with a Scala "
                     "compiler (set SPARK_HOME)")


def sources(top, exts):
    out = []
    for d, _, files in os.walk(top):
        for f in files:
            if f.endswith(exts):
                out.append(os.path.join(d, f))
    return sorted(out)


def tree_hash(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def fresh(target, want):
    """True when `target` was made from inputs hashing to `want`."""
    stamp = target + ".stamp"
    if os.path.exists(target) and os.path.exists(stamp):
        with open(stamp) as f:
            return f.read().strip() == want
    return False


def mark(target, want):
    with open(target + ".stamp", "w") as f:
        f.write(want + "\n")


def run_logged(cmd, log, what):
    with open(log, "ab") as lf:
        rc = subprocess.call(cmd, stdout=lf, stderr=subprocess.STDOUT,
                             cwd=ROOT)
    if rc != 0:
        with open(log, "rb") as lf:
            sys.stderr.write(lf.read()[-4000:].decode("utf-8", "replace"))
        raise SystemExit("xmlbench: %s failed (log: %s)" % (what, log))


def compile_jar(jar, srcs, classpath, res_root, res, log):
    """scalac `srcs` against `classpath`; pack the classes (and `res`,
    relative to `res_root`) into `jar`."""
    classes = jar[:-len(".jar")] + "-classes"
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = classes + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + os.path.dirname(jar),
           "-cp", os.path.join(spark_jars(), "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", classes]
    if classpath:
        cmd += ["-classpath", os.pathsep.join(classpath)]
    run_logged(cmd + ["@" + argfile], log, "compilation")
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for d, _, files in sorted(os.walk(classes)):
            for f in sorted(files):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, classes))
        for r in res:
            z.write(r, os.path.relpath(r, res_root))
    shutil.rmtree(classes)


def classpath():
    """The run classpath: the two jars, then Spark's jars in name order."""
    out = build_dir()
    jars = spark_jars()
    return ([os.path.join(out, "engine.jar"), os.path.join(out, "bench.jar")]
            + [os.path.join(jars, j) for j in sorted(os.listdir(jars))
               if j.endswith(".jar")])


def jvm_command(work, main_args):
    """The benchmark JVM: fixed heap, scratch files under `work` (and no
    `hsperfdata` file in the system temp directory)."""
    cmd = ["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+UseG1GC",
           "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    return cmd + [
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-Dderby.system.home=" + os.path.join(work, "derby"),
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
        "-Dspark.ui.enabled=false",
        "-cp", os.pathsep.join(classpath()),
        "xmlbench.Main"] + main_args + ["--work", work]


def build():
    """Make what is stale."""
    if not os.path.isdir(ENGINE_SRC):
        raise SystemExit("xmlbench: engine sources not found at " + ENGINE_SRC)
    out = build_dir()
    os.makedirs(out, exist_ok=True)
    log = os.path.join(out, "build.log")
    engine_jar = os.path.join(out, "engine.jar")
    bench_jar = os.path.join(out, "bench.jar")
    res = sources(ENGINE_RES, ("",)) if os.path.isdir(ENGINE_RES) else []
    engine_srcs = sources(ENGINE_SRC, (".scala", ".java"))
    engine_hash = tree_hash(engine_srcs + res)
    if not fresh(engine_jar, engine_hash):
        compile_jar(engine_jar, engine_srcs, None, ENGINE_RES, res, log)
        mark(engine_jar, engine_hash)
    bench_srcs = sources(BENCH_SRC, (".scala",))
    bench_hash = tree_hash(bench_srcs) + engine_hash
    if not fresh(bench_jar, bench_hash):
        compile_jar(bench_jar, bench_srcs, [engine_jar], None, [], log)
        mark(bench_jar, bench_hash)


if __name__ == "__main__":
    build()
    print(os.pathsep.join(classpath()[:2]))
