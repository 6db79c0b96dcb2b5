"""Build file of the benchmark harness.

Compiles the engine's sources (`src/main/scala` at the repository root)
together with the harness (`perfbench/src/main/scala`) into
`perfbench/.build/main`, with the Scala compiler that ships among Spark's
jars, so a checkout needs nothing beyond Java and a Spark distribution.
This is a second way to compile the engine, beside its sbt build, because
sbt resolves and caches its own dependencies under the user's home
directory, and every file the benchmark writes must stay under perfbench/.
The build is skipped when no source has changed since the last one.

    python3 perfbench/build.py          # build
    python3 perfbench/build.py --test   # build, then run the harness tests
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
MAIN_SRC = os.path.join(HERE, "src", "main", "scala")
TEST_SRC = os.path.join(HERE, "src", "test", "scala")


class BuildError(Exception):
    pass


def jvm_flags():
    """Flags of every JVM the benchmark starts. -XX:-UsePerfData: no
    hsperfdata file outside the checkout. Spark 4 on JDK 17 needs
    --add-opens outside spark-submit; the list is the one the engine's sbt
    build passes (`jdk17AddOpens` in build.sbt)."""
    sbt = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(sbt):
        raise BuildError(f"no {sbt}")
    with open(sbt) as f:
        m = re.search(r"val jdk17AddOpens\s*=\s*Seq\(([^)]*)\)", f.read())
    if not m:
        raise BuildError("no jdk17AddOpens list in build.sbt")
    opens = re.findall(r'"([^"]+)"', m.group(1))
    return ["-XX:-UsePerfData"] + [f"--add-opens={p}=ALL-UNNAMED" for p in opens]


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the directory the
    engine's own sbt build names as its `unmanagedBase`."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildError("no Spark jars: set SPARK_HOME")


def sources(*dirs):
    out = []
    for d in dirs:
        for base, _, names in os.walk(d):
            out += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    return sorted(out)


def digest(files, extra):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def scalac(files, out, classpath):
    jars = spark_jars()
    compiler = [os.path.join(jars, n) for n in sorted(os.listdir(jars))
                if re.match(r"scala-(compiler|library|reflect)-.*\.jar$", n)]
    if len(compiler) != 3:
        raise BuildError(f"no Scala compiler among the jars in {jars}")
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath,
           "-d", tmp, "@" + argfile]
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("compilation failed")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def ensure(out_name, src_dirs, classpath):
    """Compile `src_dirs` into .build/<out_name> unless an identical build
    is there. Returns the output directory."""
    files = sources(*src_dirs)
    if not files:
        raise BuildError("no sources in " + ", ".join(src_dirs))
    out = os.path.join(BUILD, out_name)
    stamp_file = out + ".stamp"
    stamp = digest(files, classpath)
    if os.path.isdir(out) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return out
    os.makedirs(BUILD, exist_ok=True)
    scalac(files, out, classpath)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return out


def main_classpath():
    """Build the engine and the harness; return the run classpath."""
    if not os.path.isdir(ENGINE_SRC):
        raise BuildError(f"engine sources missing: {ENGINE_SRC}")
    jars = os.path.join(spark_jars(), "*")
    out = ensure("main", [ENGINE_SRC, MAIN_SRC], jars)
    return os.pathsep.join([out, jars])


def run_tests():
    cp = main_classpath()
    out = ensure("test", [TEST_SRC], cp)
    work = os.path.join(HERE, ".work", "tests")
    os.makedirs(work, exist_ok=True)
    cmd = ["java", "-Xmx1g", *jvm_flags(), f"-Djava.io.tmpdir={work}",
           f"-Dspark.local.dir={work}", "-Dspark.ui.enabled=false",
           "-cp", os.pathsep.join([out, cp]), "graftbench.HarnessTests"]
    try:
        return subprocess.run(cmd, cwd=work).returncode
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    try:
        if "--test" in sys.argv[1:]:
            sys.exit(run_tests())
        print(main_classpath())
    except BuildError as e:
        print(f"build: {e}", file=sys.stderr)
        sys.exit(2)
