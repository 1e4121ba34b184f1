"""Build file of the benchmark package: compiles graft's main sources
(without the `graft.examples` programs, which nothing here runs) and the
benchmark's own JVM sources with the Scala compiler that ships in the
Spark distribution's jar directory, packs them into one jar, and dumps a
class-data-sharing archive of a started Spark session so that each run's
JVM start loads Spark's classes from the archive.

Everything lands in `<build dir>/perfbench/<stamp>/`, where the stamp
hashes the graft sources, the benchmark's own files and the Spark jar
set: a build is made once per stamp, and builds of different sources
(say a change and its parent) sit side by side.

Usage: python3 perfbench/build.py     (from the repository root)
"""
import hashlib
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT, d) if not os.path.isabs(d) else d


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    one beside the `spark-submit` found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        exe = shutil.which("spark-submit")
        if exe:
            home = os.path.dirname(os.path.dirname(os.path.realpath(exe)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise SystemExit("perfbench: no Spark distribution found "
                         "(set SPARK_HOME)")
    if not any(f.startswith("scala-compiler") for f in os.listdir(jars)):
        raise SystemExit(f"perfbench: no scala-compiler jar in {jars}")
    return jars


def sources():
    if not os.path.isdir(os.path.join(GRAFT_SRC, "graft")):
        raise SystemExit("perfbench: graft sources (src/main/scala) missing; "
                         "run from a full checkout of the repository")
    out = []
    for base in (GRAFT_SRC, os.path.join(HERE, "src")):
        for dp, dns, fns in os.walk(base):
            dns[:] = sorted(d for d in dns if d != "examples")
            out += [os.path.join(dp, f) for f in sorted(fns)
                    if f.endswith(".scala")]
    return out


JDK_OPENS = ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar")


def java_cmd(out, tmp_dir, archive_flag):
    """The benchmark JVM's command prefix (up to the main class) for the
    build in `out`. The module opens are the ones spark-submit adds on
    JDK 17."""
    cmd = ["java", "-Xmx3g",
           f"-Djava.io.tmpdir={tmp_dir}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", archive_flag]
    for o in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{o}=ALL-UNNAMED"]
    cmd += ["-cp", os.path.join(out, "perfbench.jar") + os.pathsep +
            os.path.join(spark_jars(), "*"), "perfbench.PerfBench"]
    return cmd


def archive_flag(out):
    a = os.path.join(out, "session.jsa")
    return f"-XX:SharedArchiveFile={a}" if os.path.exists(a) else "-Xshare:auto"


def _jar(classes, jar):
    """Deterministic stored zip of the class tree."""
    import zipfile
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for dp, dns, fns in os.walk(classes):
            dns.sort()
            for f in sorted(fns):
                p = os.path.join(dp, f)
                info = zipfile.ZipInfo(os.path.relpath(p, classes),
                                       (1980, 1, 1, 0, 0, 0))
                with open(p, "rb") as fh:
                    z.writestr(info, fh.read())


def _archive(out):
    """Start and stop a session once with the archive dump enabled; on any
    failure the runs fall back to the JDK's default sharing."""
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    jsa = os.path.join(out, "session.jsa")
    cmd = java_cmd(out, tmp, f"-XX:ArchiveClassesAtExit={jsa}") + ["--session"]
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)
    r = subprocess.run(cmd, cwd=tmp, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, env=env)
    if r.returncode != 0 and os.path.exists(jsa):
        os.remove(jsa)
    shutil.rmtree(tmp, ignore_errors=True)


def stamp(jars, srcs):
    """Content hash of everything a run depends on: the sources compiled,
    the benchmark's Python files and the Spark jar names."""
    h = hashlib.sha256()
    py = sorted(os.path.join(HERE, f) for f in os.listdir(HERE)
                if f.endswith(".py"))
    for f in srcs + py:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()[:16]


def build():
    """Compile, pack and archive unless this stamp's build exists; return
    (build directory, seconds spent building)."""
    jars = spark_jars()
    srcs = sources()
    out = os.path.join(build_dir(), "perfbench", stamp(jars, srcs))
    done = os.path.join(out, "build_s")
    if os.path.exists(done):
        return out, 0.0
    t0 = time.time()
    shutil.rmtree(out, ignore_errors=True)
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    args_file = os.path.join(out, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-cp", cp, "@" + args_file]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    _jar(classes, os.path.join(out, "perfbench.jar"))
    shutil.rmtree(classes)
    _archive(out)
    secs = time.time() - t0
    with open(done, "w") as f:
        f.write(f"{secs:.1f}\n")
    return out, secs


if __name__ == "__main__":
    d, secs = build()
    print(f"{d} (built in {secs:.1f} s)" if secs else d)
