"""Build file of the benchmark: compiles the program's main sources and
the harness with the Scala compiler that ships in Spark's jars.

    python3 perfbench/build.py          # from the repository root

Output goes to $CARGO_TARGET_DIR (default .bench_build)/graftbench and is
rebuilt only when a source file changed.
"""
import glob
import hashlib
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    """Classpath glob of Spark's jars: $SPARK_HOME/jars, else the
    `unmanagedBase` directory the program's build.sbt compiles against."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(ROOT, "build.sbt")) as f:
                jars = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read()).group(1)
        except (OSError, AttributeError):
            raise SystemExit("set SPARK_HOME: build.sbt names no unmanagedBase for Spark's jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"no Spark/Scala jars under {jars} (set SPARK_HOME)")
    return os.path.join(jars, "*")


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "harness/src/**/*.scala"), recursive=True))
    if not main:
        raise SystemExit("program sources src/main/scala not found next to perfbench/")
    return main + harness


def out_dir():
    base = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    if not os.path.isabs(base):
        base = os.path.join(ROOT, base)
    return os.path.join(base, "graftbench")


def build():
    """Compile if stale; returns the classes directory."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    out = out_dir()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    if os.path.exists(classes):
        subprocess.run(["rm", "-rf", classes], check=True)
    os.makedirs(classes)
    jars = spark_jars()
    args_file = os.path.join(out, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={out}", "-cp", jars,
           "scala.tools.nsc.Main", "-nowarn", "-d", classes, "-classpath", jars,
           f"@{args_file}"]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build failed (exit {r.returncode})")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


if __name__ == "__main__":
    print(build())
