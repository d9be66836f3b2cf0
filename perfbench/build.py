"""Build file of the benchmark: compiles the engine sources (src/main/scala
of the repository) together with the benchmark's own sources (src/ here)
into one class directory with the Scala compiler that ships in Spark's jar
directory. The jar directory is the one the repository's build.sbt names
(`unmanagedBase`), or $SPARK_HOME/jars when SPARK_HOME is set.

A stamp of the sources' contents skips the compile when nothing changed.

Usage: python3 perfbench/build.py <class dir>
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def spark_jars():
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(REPO, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise RuntimeError("build.sbt names no unmanagedBase and SPARK_HOME is unset")
    return m.group(1)


def sources():
    engine = os.path.join(REPO, "src", "main", "scala")
    if not os.path.isdir(engine):
        raise RuntimeError(f"engine sources not found under {engine}")
    out = []
    for root in (engine, os.path.join(HERE, "src")):
        for d, _, fs in os.walk(root):
            out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def build(class_dir):
    """Compile if the sources changed; return the runtime classpath."""
    jars = spark_jars()
    cp = f"{jars}/*"
    srcs = sources()
    h = hashlib.sha256(jars.encode())
    for s in srcs:
        with open(s, "rb") as f:
            h.update(s.encode() + b"\0" + f.read())
    stamp = os.path.join(class_dir, ".stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return f"{class_dir}:{cp}"
    shutil.rmtree(class_dir, ignore_errors=True)
    os.makedirs(class_dir)
    subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
                    "-cp", cp, "-d", class_dir] + srcs, check=True, stdout=sys.stderr)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return f"{class_dir}:{cp}"


if __name__ == "__main__":
    print(build(os.path.abspath(sys.argv[1])))
