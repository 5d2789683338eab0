"""Build the benchmark with the Scala 2.13 compiler that ships in Spark's jar
directory, in three steps: the repository's library (`src/main/scala`), the
benchmark (`loadbench/src/main/scala`) and its self-tests. Output goes under
`<build>/loadbench/`, where <build> is $CARGO_TARGET_DIR or `.bench_build`;
a stamp of each step's source contents makes an unchanged step skip.

The library and benchmark classes are packed as jars, and a class-data
archive (AppCDS) is written from a training run of every workload
(`loadbench.Train`). Runs that start from the archive load the JVM's and
Spark's classes from it, which cuts several seconds off each run's start.

    python3 loadbench/build.py            # main classes
    python3 loadbench/build.py --tests    # main + self-test classes
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the `unmanagedBase`
    directory the repository's sbt build compiles against."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = os.path.join(ROOT, "build.sbt")
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read()) \
            if os.path.exists(sbt) else None
        if not m:
            raise SystemExit("loadbench: set SPARK_HOME, or run from a checkout whose build.sbt "
                             "names Spark's jar directory (unmanagedBase)")
        jars = m.group(1)
    if not os.path.isdir(jars):
        raise SystemExit(f"loadbench: Spark jars not found at {jars}")
    return jars


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "loadbench")


def scala_files(d):
    if not os.path.isdir(d):
        raise SystemExit(f"loadbench: source directory {os.path.relpath(d, ROOT)} is missing; "
                         "run from the root of a checkout of the repository")
    out = []
    for base, _, files in os.walk(d):
        out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def compile_once(name, srcs, classpath, salt=""):
    """Compile `srcs` into <build>/<name> unless the stamp of their contents matches."""
    h = hashlib.sha256(salt.encode())
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    out = os.path.join(build_dir(), name)
    stamp_file = out + ".stamp"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out, stamp
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = out + ".sources"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath", classpath, "@" + argfile]
    print(f"loadbench: compiling {len(srcs)} sources into {os.path.relpath(out, ROOT)}",
          file=sys.stderr)
    if subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr).returncode != 0:
        raise SystemExit("loadbench: compile failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return out, stamp


def jar_once(classes, stamp):
    """Pack a classes directory as a jar (class-data archives need jars)."""
    jar = classes + ".jar"
    if not (os.path.exists(jar) and open(classes + ".stamp").read() == stamp
            and os.path.exists(jar + ".stamp") and open(jar + ".stamp").read() == stamp):
        if os.path.exists(jar):
            os.remove(jar)
        if subprocess.run(["jar", "cf", jar, "-C", classes, "."]).returncode != 0:
            raise SystemExit("loadbench: jar failed")
        with open(jar + ".stamp", "w") as f:
            f.write(stamp)
    return jar


def build(tests=False):
    """Compile what changed (library, benchmark, self-tests); return
    (runtime classpath, stamp of the benchmark build)."""
    jars = os.path.join(spark_jars(), "*")
    lib, lib_stamp = compile_once("library", scala_files(os.path.join(ROOT, "src", "main", "scala")),
                                  jars)
    bench, bench_stamp = compile_once("classes", scala_files(os.path.join(HERE, "src", "main", "scala")),
                                      os.pathsep.join([lib, jars]), lib_stamp)
    cp = [jar_once(bench, bench_stamp), jar_once(lib, lib_stamp), jars]
    if tests:
        t, _ = compile_once("test-classes", scala_files(os.path.join(HERE, "src", "test", "scala")),
                            os.pathsep.join(cp), bench_stamp)
        cp.insert(0, t)
    return os.pathsep.join(cp), bench_stamp


def class_archive(cp, stamp, java_cmd):
    """Path of the class-data archive for this build, writing it first if
    needed by running `loadbench.Train` under `java_cmd` (a function of the
    extra JVM flags and the main class). None if it cannot be written."""
    jsa = os.path.join(build_dir(), f"classes-{stamp[:16]}.jsa")
    if not os.path.exists(jsa):
        for old in os.listdir(build_dir()):
            if old.endswith(".jsa"):
                os.remove(os.path.join(build_dir(), old))
        print("loadbench: writing the class-data archive (one training run)", file=sys.stderr)
        work = os.path.join(ROOT, ".bench_work")
        os.makedirs(os.path.join(work, "logs"), exist_ok=True)
        with open(os.path.join(work, "logs", "train.log"), "w") as log:
            r = subprocess.run(java_cmd([f"-XX:ArchiveClassesAtExit={jsa}"], "loadbench.Train", [work]),
                               stdout=log, stderr=log, timeout=600)
        if r.returncode != 0 or not os.path.exists(jsa):
            print("loadbench: no class-data archive; runs start without one", file=sys.stderr)
            return None
    return jsa


if __name__ == "__main__":
    build(tests="--tests" in sys.argv[1:])
