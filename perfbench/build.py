"""Build file of the benchmark: compiles graft's main sources and the
harness under perfbench/harness with the Scala compiler that ships in
the Spark jars build.sbt compiles against, into the checkout's build dir.

The output is reused while a stamp over every source file, the compiler
jars and the JDK version still matches, so only the first run in a
checkout (or the first after a source change) pays the compile.
Run it alone with `python3 perfbench/build.py`.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars(root):
    """The Spark jars dir build.sbt compiles against (its `unmanagedBase`)."""
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not glob.glob(os.path.join(m.group(1), "scala-compiler-*.jar")):
        raise SystemExit("perfbench: build.sbt names no Spark jars dir with a Scala compiler")
    return m.group(1)


def sources(root):
    main = os.path.join(root, "src", "main", "scala")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    if not files:
        raise SystemExit(f"perfbench: no graft sources under {main}")
    return files + sorted(glob.glob(os.path.join(HERE, "harness", "**", "*.scala"),
                                    recursive=True))


def build_dir(root):
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")


def stamp(root):
    """Hash of every source file, the Scala jars and the JDK version."""
    jars = spark_jars(root)
    h = hashlib.sha256()
    h.update(subprocess.run(["java", "-XX:-UsePerfData", "-version"], capture_output=True,
                            text=True).stderr.encode())
    for f in sources(root) + sorted(glob.glob(os.path.join(jars, "scala-*.jar"))):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build(root):
    """Compile if needed; return the classpath to run the harness with."""
    jars = spark_jars(root)
    out = build_dir(root)
    classes = os.path.join(out, "classes")
    want = stamp(root)
    stamp_file = os.path.join(out, "stamp")
    cp = f"{classes}:{jars}/*"
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return cp
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(classes)
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
         "-nowarn", "-d", classes, "-classpath", f"{jars}/*", *sources(root)],
        capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        raise SystemExit("perfbench: compile failed")
    with open(stamp_file, "w") as f:
        f.write(want)
    return cp


if __name__ == "__main__":
    print(build(os.getcwd()))
