"""Build file of the benchmark: compiles the program's sources together with
the benchmark's JVM harness into one class directory.

    python3 perfbench/build.py          # from the repository root

The program is compiled from source with the Scala compiler that ships in
the Spark jar directory (the same jars the program's own build uses), so
the build needs neither sbt nor a network. Output goes under `.bench_build/`
keyed by a digest of every input, so an unchanged tree is built once.

One literal is rewritten in the copy that gets compiled: the transcript
store's cache root, which the program hard-codes as an absolute path. The
benchmark points it at `.bench_build/store` so that a run reads and writes
only inside its checkout. Nothing else in the program changes.
"""

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = ".bench_build"
STORE_ROOT = BUILD + "/store/"
STORE_LITERAL = re.compile(r'(s?")[^"\s$]*target/transcripts/')


def spark_jars(root):
    """The Spark jar directory: $SPARK_HOME/jars, else the program's own
    build setting (`unmanagedBase := file("...")` in build.sbt)."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if m and os.path.isdir(m.group(1)):
        return m.group(1)
    raise SystemExit("perfbench: no Spark jar directory (set SPARK_HOME)")


def sources(root):
    prog = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    return prog, bench


def build(root):
    """Compile if needed; return the class directory."""
    prog, bench = sources(root)
    if not prog:
        raise SystemExit("perfbench: no program sources under src/main/scala")
    h = hashlib.sha1()
    for p in prog + bench + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    key = h.hexdigest()[:12]
    out = os.path.join(root, BUILD, "classes-" + key)
    if os.path.exists(os.path.join(out, "_OK")):
        return out
    src = os.path.join(root, BUILD, "src-" + key)
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    compiled = []
    for p in prog:
        dst = os.path.join(src, os.path.relpath(p, os.path.join(root, "src/main/scala")))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        with open(p) as f:
            text = f.read()
        with open(dst, "w") as f:
            f.write(STORE_LITERAL.sub(lambda m: m.group(1) + STORE_ROOT, text))
        compiled.append(dst)
    jars = spark_jars(root)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", cp] + compiled + bench
    r = subprocess.run(cmd, cwd=root)
    if r.returncode != 0:
        raise SystemExit("perfbench: compile failed")
    open(os.path.join(out, "_OK"), "w").close()
    shutil.rmtree(src, ignore_errors=True)
    return out


if __name__ == "__main__":
    print(build(os.getcwd()))
    sys.exit(0)
