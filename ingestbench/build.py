"""Build file of the ingestion benchmark.

Compiles graft (``src/main/scala`` plus ``src/main/resources``) together
with the benchmark driver (``ingestbench/src``) using the Scala compiler
that ships in the Spark distribution, which is the same Scala version the
project builds with, and packs the classes into one jar. A short training
run of the benchmark then dumps a class-data-sharing archive of every class
it loaded, which cuts JVM and session start-up in every later run. Both
land in ``.bench_build/classes-<digest>`` under the checkout root; a build
whose sources are unchanged is reused.

    python3 ingestbench/build.py        # from the checkout root
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
OUT_DIR = ".bench_build"
HEAP = "-Xmx3g"
# Spark on JDK 17 outside spark-submit needs these (as graft's build.sbt);
# -XX:-UsePerfData keeps the JVM from writing its counters file outside the
# checkout
JVM_FLAGS = ["-XX:-UsePerfData"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")] + [
    HEAP, "-Dspark.ui.enabled=false", "-Xlog:disable", "-Xlog:all=warning:stderr"]


class BuildError(Exception):
    pass


def spark_jars(repo):
    """The Spark jar directory: $SPARK_HOME/jars, else the directory the
    project's own build.sbt names as its unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(repo, "build.sbt")
    if os.path.isfile(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildError("no Spark jars: set SPARK_HOME")


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else ""
    return exe if exe and os.path.isfile(exe) else "java"


def jvm_command(build_out, root, args):
    """The benchmark JVM: graftbench.Main with `args`, scratch under `root`."""
    cp, jsa = build_out
    share = [f"-XX:SharedArchiveFile={jsa}"] if os.path.isfile(jsa) else []
    return [java(), *JVM_FLAGS, *share, f"-Djava.io.tmpdir={os.path.join(root, 'tmp')}",
            "-cp", cp, "graftbench.Main", "--root", root, *args]


def _files(root, suffix):
    out = []
    for d, _, names in os.walk(root):
        out += [os.path.join(d, n) for n in names if n.endswith(suffix)]
    return sorted(out)


def _digest(paths, repo):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, repo).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def build(repo):
    """Compile if needed; returns (runtime classpath, CDS archive path)."""
    main_src = os.path.join(repo, "src", "main", "scala")
    resources = os.path.join(repo, "src", "main", "resources")
    if not os.path.isdir(main_src):
        raise BuildError("no graft sources under src/main/scala: "
                         "run from the root of a graft checkout")
    jars = spark_jars(repo)
    sources = _files(main_src, ".scala") + _files(os.path.join(BENCH_DIR, "src"), ".scala")
    res = _files(resources, "") if os.path.isdir(resources) else []
    digest = _digest(sources + res + [os.path.abspath(__file__)], repo)
    out = os.path.join(repo, OUT_DIR)
    classes = os.path.join(out, "classes-" + digest)
    result = (os.path.join(classes, "graftbench.jar") + os.pathsep + os.path.join(jars, "*"),
              os.path.join(classes, "graftbench.jsa"))
    if os.path.isfile(os.path.join(classes, ".complete")):
        return result

    def jar(prefix):
        found = [n for n in os.listdir(jars) if n.startswith(prefix) and n.endswith(".jar")]
        if not found:
            raise BuildError(f"no {prefix}*.jar in {jars}")
        return os.path.join(jars, sorted(found)[-1])

    os.makedirs(out, exist_ok=True)
    tmp = os.path.join(out, f"building-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(out, f"sources-{os.getpid()}.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    compiler_cp = os.pathsep.join(jar(p) for p in
                                  ("scala-compiler-", "scala-library-", "scala-reflect-"))
    lib_cp = os.pathsep.join(os.path.join(jars, n) for n in sorted(os.listdir(jars))
                             if n.endswith(".jar"))
    cmd = [java(), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", compiler_cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", lib_cp, "@" + argfile]
    print(f"ingestbench: compiling {len(sources)} Scala files", file=sys.stderr, flush=True)
    try:
        r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    finally:
        os.remove(argfile)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac failed with exit code {r.returncode}")
    # class-data sharing archives classes from jars only
    with zipfile.ZipFile(os.path.join(tmp, "graftbench.jar"), "w", zipfile.ZIP_STORED) as z:
        for base, files in ((tmp, _files(tmp, ".class")), (resources, res)):
            for p in files:
                z.write(p, os.path.relpath(p, base))
    for entry in os.listdir(tmp):
        if os.path.isdir(os.path.join(tmp, entry)):
            shutil.rmtree(os.path.join(tmp, entry))
    for old in os.listdir(out):
        if old.startswith("classes-"):
            shutil.rmtree(os.path.join(out, old), ignore_errors=True)
    os.rename(tmp, classes)
    _train(classes, result)
    open(os.path.join(classes, ".complete"), "w").close()
    return result


def _train(classes, result):
    """Dump the class-data-sharing archive from a short run of the
    benchmark. Runs go on without it if this fails."""
    root = os.path.join(classes, "train")
    os.makedirs(os.path.join(root, "tmp"))
    cp, jsa = result
    cmd = jvm_command((cp, ""), root, ["--workload", "group_full_small", "--seed", "0",
                                       "--seconds", "1", "--trace", "0", "--setup-reps", "1"])
    cmd.insert(1, f"-XX:ArchiveClassesAtExit={jsa}")
    print("ingestbench: training run for the class-data-sharing archive",
          file=sys.stderr, flush=True)
    proc = subprocess.Popen(cmd, cwd=root, stdout=subprocess.DEVNULL,
                            stderr=subprocess.DEVNULL)
    try:
        proc.wait(timeout=300)
    except subprocess.TimeoutExpired:
        pass
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(root, ignore_errors=True)
    if proc.returncode != 0 and os.path.exists(jsa):
        os.remove(jsa)


if __name__ == "__main__":
    try:
        print(build(os.getcwd()))
    except BuildError as e:
        print(f"ingestbench: {e}", file=sys.stderr)
        sys.exit(2)
