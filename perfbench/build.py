"""Build file of the benchmark: compiles the engine's main sources and the
benchmark's own Scala harness with the Scala compiler that ships among
the Spark jars named in the repository's build.sbt (`unmanagedBase`).

Output goes to `.bench_build/perfbench/<hash of all sources>/` in the
checkout, so a checkout is compiled once and later runs reuse it.

    python3 perfbench/build.py    # prints the run classpath
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    """The jar directory build.sbt puts on the classpath."""
    sbt = open(os.path.join(ROOT, "build.sbt")).read()
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt)
    if not m:
        raise SystemExit("build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "scala/*.scala")))
    if not prog:
        raise SystemExit("no engine sources under src/main/scala")
    return prog, bench


def scalac(jars, classpath, out, files):
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + out,
           "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out]
    if classpath:
        cmd += ["-classpath", classpath]
    r = subprocess.run(cmd + files, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    if r.returncode != 0:
        raise SystemExit("scalac failed:\n" + r.stdout[-4000:])


def ensure():
    """Compile if needed; return the run classpath."""
    jars = spark_jars()
    prog, bench = sources()
    h = hashlib.sha256()
    for f in prog + bench:
        h.update(os.path.relpath(f, ROOT).encode())
        h.update(open(f, "rb").read())
    base = os.path.join(ROOT, ".bench_build", "perfbench", h.hexdigest()[:16])
    classpath = os.pathsep.join([os.path.join(base, "bench"), os.path.join(base, "program"),
                                 os.path.join(jars, "*")])
    if os.path.exists(os.path.join(base, "ok")):
        return classpath
    shutil.rmtree(base, ignore_errors=True)
    scalac(jars, None, os.path.join(base, "program"), prog)
    scalac(jars, os.path.join(base, "program"), os.path.join(base, "bench"), bench)
    open(os.path.join(base, "ok"), "w").close()
    return classpath


if __name__ == "__main__":
    print(ensure())
    sys.exit(0)
