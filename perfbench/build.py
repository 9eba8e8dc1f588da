"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark harness (perfbench/scala) into one jar with the Scala compiler that
ships in Spark's jar directory, then records a class-data-sharing archive
from one short training run so later JVMs start faster.

Everything it writes goes under .bench_build/ in the checkout. A stamp over
the sources skips the build when nothing changed.

Usage: python3 perfbench/build.py        (run.py calls it on demand)
"""
import fcntl
import glob
import hashlib
import os
import re
import subprocess
import sys
import zipfile


class BuildError(Exception):
    pass


ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def spark_jars(root):
    """The jar directory the engine's own build compiles against
    (`unmanagedBase` in build.sbt); Spark ships its Scala compiler there."""
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if m is None:
        raise BuildError("build.sbt names no unmanagedBase jar directory")
    jars = m.group(1)
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError(f"no Spark jar directory with a Scala compiler at {jars}")
    return jars


def sources(root):
    prog = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "perfbench/scala/**/*.scala"), recursive=True))
    if not prog:
        raise BuildError("no engine sources under src/main/scala: run from a checkout root")
    if not bench:
        raise BuildError("no benchmark sources under perfbench/scala")
    return prog + bench


def stamp(files):
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def paths(root):
    out = os.path.join(root, ".bench_build", "perfbench")
    return {
        "out": out,
        "jar": os.path.join(out, "bench.jar"),
        "jsa": os.path.join(out, "app.jsa"),
        "stamp": os.path.join(out, "stamp"),
        "work": os.path.join(root, ".bench_build", "work"),
        "tmp": os.path.join(root, ".bench_build", "tmp"),
        "logs": os.path.join(root, ".bench_build", "logs"),
    }


def java_cmd(root, cds=True, heap="4g"):
    p = paths(root)
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    cmd = ["java", "-XX:-UsePerfData", f"-Xmx{heap}", "-Xss8m", f"-Djava.io.tmpdir={p['tmp']}",
           f"-Dperfbench.python={sys.executable}",
           f"-Dperfbench.dir={os.path.join(root, 'perfbench')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    if cds and os.path.exists(p["jsa"]):
        cmd += [f"-XX:SharedArchiveFile={p['jsa']}", "-Xshare:auto", "-Xlog:cds=off"]
    cmd += ["-cp", p["jar"] + os.pathsep + os.path.join(spark_jars(root), "*")]
    return cmd


def compile_jar(root, files, p):
    classes = os.path.join(p["out"], "classes")
    subprocess.run(["rm", "-rf", classes], check=True)
    os.makedirs(classes)
    jars = os.path.join(spark_jars(root), "*")
    argfile = os.path.join(p["out"], "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files) + "\n")
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", jars, "scala.tools.nsc.Main",
         "-nowarn", "-d", classes, "-classpath", jars, "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout.decode()[-4000:])
    tmp = p["jar"] + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as z:
        for dirpath, _, names in os.walk(classes):
            for n in sorted(names):
                full = os.path.join(dirpath, n)
                z.write(full, os.path.relpath(full, classes))
    os.replace(tmp, p["jar"])
    subprocess.run(["rm", "-rf", classes], check=True)


def train_cds(root, p):
    """Record the classes a short lloyd_2d run loads; best effort."""
    if os.path.exists(p["jsa"]):
        os.remove(p["jsa"])
    cmd = java_cmd(root, cds=False) + [f"-XX:ArchiveClassesAtExit={p['jsa']}",
                                      "perfbench.Main", "--workload", "lloyd_2d",
                                      "--seed", "0", "--seconds", "1", "--trace", "0",
                                      "--work", p["work"]]
    with open(os.path.join(p["logs"], "cds-train.log"), "wb") as log:
        r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=root, timeout=600)
    if r.returncode != 0 and os.path.exists(p["jsa"]):
        os.remove(p["jsa"])


def ensure(root):
    files = sources(root)
    p = paths(root)
    for d in ("out", "work", "tmp", "logs"):
        os.makedirs(p[d], exist_ok=True)
    want = stamp(files)
    with open(os.path.join(p["out"], "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        have = open(p["stamp"]).read() if os.path.exists(p["stamp"]) else ""
        if have != want or not os.path.exists(p["jar"]):
            if os.path.exists(p["stamp"]):
                os.remove(p["stamp"])
            compile_jar(root, files, p)
            train_cds(root, p)
            with open(p["stamp"], "w") as f:
                f.write(want)
    return p


if __name__ == "__main__":
    try:
        ensure(os.getcwd())
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
