"""Build file of the benchmark package.

Compiles the graft library (``src/main/scala``) and the benchmark
(``perfbench/src``) with the Scala compiler that ships in Spark's jar
directory, so no sbt, network or cache outside the checkout is involved.
Each half is rebuilt only when a hash of its sources changes.

    python3 perfbench/build.py            # build, print the classpath
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


class BuildError(Exception):
    pass


def spark_jars():
    """`$SPARK_HOME/jars`, else the `unmanagedBase` the repo's sbt build
    declares for Spark's jars."""
    jars = None
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    elif os.path.exists(os.path.join(ROOT, "build.sbt")):
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        jars = m and m.group(1)
    if not jars or not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise BuildError(f"no Spark jars under {jars!r} (set SPARK_HOME)")
    return jars


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def _sources(pattern):
    return sorted(glob.glob(pattern, recursive=True))


def _digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _read(path):
    try:
        with open(path) as f:
            return f.read()
    except FileNotFoundError:
        return None


def _scalac(jars, out, classpath, sources, log):
    found = glob.glob(os.path.join(jars, "scala-compiler-*.jar"))
    if not found:
        raise BuildError(f"no scala-compiler jar under {jars}")
    version = os.path.basename(found[0])[len("scala-compiler-"):-len(".jar")]
    compiler = ":".join(os.path.join(jars, f"scala-{m}-{version}.jar")
                        for m in ("compiler", "library", "reflect"))
    if os.path.isdir(out):
        shutil.rmtree(out)
    os.makedirs(out)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(sources) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", classpath, "@" + argfile]
    with open(log, "w") as lf:
        rc = subprocess.call(cmd, stdout=lf, stderr=subprocess.STDOUT,
                             cwd=ROOT)
    if rc != 0:
        with open(log) as lf:
            tail = lf.read()[-4000:]
        raise BuildError(f"scalac failed ({rc}) for {out}:\n{tail}")


def build():
    """Compile what changed; return the runtime classpath (a list)."""
    lib_src = os.path.join(ROOT, "src", "main", "scala")
    resources = os.path.join(ROOT, "src", "main", "resources")
    if not os.path.isdir(os.path.join(lib_src, "graft")):
        raise BuildError(f"graft sources not found under {lib_src}")
    jars = spark_jars()
    out = build_dir()
    os.makedirs(out, exist_ok=True)
    stages = [
        ("graft", _sources(os.path.join(lib_src, "**", "*.scala"))),
        ("perfbench", _sources(os.path.join(HERE, "src", "**", "*.scala"))),
    ]
    classpath = []
    upstream = ""
    for name, sources in stages:
        if not sources:
            raise BuildError(f"no sources for {name}")
        classes = os.path.join(out, name + "-classes")
        stamp_file = os.path.join(out, name + ".stamp")
        stamp = _digest(sources, upstream)
        fresh = os.path.isdir(classes) and _read(stamp_file) == stamp
        if not fresh:
            if os.path.exists(stamp_file):
                os.remove(stamp_file)
            cp = ":".join(classpath + [os.path.join(jars, "*")])
            _scalac(jars, classes, cp, sources,
                    os.path.join(out, name + "-scalac.log"))
            with open(stamp_file, "w") as f:
                f.write(stamp)
        classpath.append(classes)
        upstream = stamp
    return classpath + [resources, os.path.join(jars, "*")]


if __name__ == "__main__":
    try:
        print(":".join(build()))
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
