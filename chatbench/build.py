"""Build file of the chat-pipeline benchmark.

Compiles the program (`src/main/scala`) and the benchmark harness
(`chatbench/src`) with the Scala compiler that ships in the Spark jar
directory the program's own `build.sbt` names (`unmanagedBase`), into
`.bench_build/` at the repository root. A build is reused while the
sources it was made from are unchanged.

    python3 chatbench/build.py          # from the repository root
"""

import glob
import hashlib
import os
import re
import subprocess
import sys

BUILD_DIR = ".bench_build"
# the program's filter word lists, read from a build and removed with it
WORDLISTS = os.path.join(BUILD_DIR, "wordlists.json")
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def jar_dir(root):
    sbt = os.path.join(root, "build.sbt")
    if not os.path.exists(sbt):
        raise BuildError("no build.sbt: run from the repository root")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    if not m or not os.path.isdir(m.group(1)):
        raise BuildError("build.sbt names no usable unmanagedBase jar directory")
    return m.group(1)


def _sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def _scalac(jars, classpath, out, files):
    os.makedirs(out, exist_ok=True)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    tool = ":".join(sorted(
        j for k in ("compiler", "library", "reflect")
        for j in glob.glob(os.path.join(jars, f"scala-{k}-*.jar"))))
    if not tool:
        raise BuildError("no Scala compiler jars in " + jars)
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", tool,
         "scala.tools.nsc.Main",
         "-nowarn", "-classpath", classpath, "-d", out, "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])


def ensure(root):
    """Build if needed; return (java classpath, jvm options prefix)."""
    jars = jar_dir(root)
    prog = _sources(os.path.join(root, "src", "main", "scala"))
    bench = _sources(os.path.join(root, "chatbench", "src"))
    if not prog or not bench:
        raise BuildError("program or benchmark sources missing")
    h = hashlib.sha256()
    for f in prog + bench:
        h.update(f.encode())
        h.update(open(f, "rb").read())
    stamp = h.hexdigest()
    build = os.path.join(root, BUILD_DIR)
    prog_out = os.path.join(build, "program")
    bench_out = os.path.join(build, "bench")
    stamp_file = os.path.join(build, "stamp")
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
        subprocess.run(["rm", "-rf", prog_out, bench_out, stamp_file,
                        os.path.join(root, WORDLISTS)], check=True)
        jars_cp = os.path.join(jars, "*")
        _scalac(jars, jars_cp, prog_out, prog)
        _scalac(jars, jars_cp + ":" + prog_out, bench_out, bench)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    resources = os.path.join(root, "src", "main", "resources")
    return ":".join([bench_out, prog_out, resources, os.path.join(jars, "*")])


def jvm_options(work, heap="3g"):
    """The benchmark JVM: the parallel collector on a fixed heap, and the
    client (C1) compiler only, with the tiered code cache size. With G1's
    adaptive sizing and concurrent threads competing for 4 cores, the warm
    pass of one input varied by up to 30% between JVMs. With tiered
    compilation, Spark's planning code sits in profiled code and moves to
    C2 over dozens of passes, so pass times still fell after twelve passes
    and run medians had a quartile spread of 0.16; C1 alone settles within
    a few passes, at about 1.6x the tiered pass time. C1's own 48 MB code
    cache fills after about nine passes, and the flush and recompilation
    that follow add 4 s of compilation to one pass."""
    opts = []
    for p in JDK17_OPENS:
        opts += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # no hsperfdata file: the benchmark writes only inside its checkout
    return opts + ["-XX:-UsePerfData",
                   "-XX:+UseParallelGC", f"-Xms{heap}", f"-Xmx{heap}",
                   "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=240m",
                   "-Dfile.encoding=UTF-8",
                   f"-Djava.io.tmpdir={work}/tmp",
                   "-Dspark.ui.enabled=false",
                   "-Dspark.sql.session.timeZone=UTC"]


if __name__ == "__main__":
    try:
        print(ensure(os.getcwd()))
    except BuildError as e:
        sys.exit(f"build failed: {e}")
