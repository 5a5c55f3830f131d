"""Build, data and JVM plumbing shared by the benchmark commands.

Everything the benchmark writes lives under `.perfbench/` in the checkout:
compiled classes keyed by a hash of the sources, the generated tables, the
DuckDB answer cache and one directory per run.
"""
import glob
import hashlib
import importlib.util
import json
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(ROOT, ".perfbench")
HEAP = "6g"
# the module options spark-submit would pass on JDK 17 (build.sbt lists the same)
OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _spark_jars():
    """$SPARK_HOME/jars, else the jars of the installed pyspark package."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    spec = importlib.util.find_spec("pyspark")
    if spec is None:
        fail("set SPARK_HOME to a Spark 4 install")
    return os.path.join(os.path.dirname(spec.origin), "jars")


SPARK_JARS = _spark_jars()


def cores():
    return len(os.sched_getaffinity(0))


def load_json(name):
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


def _sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isfile(os.path.join(main, "graft", "SparkEntry.scala")):
        fail(f"no graft sources under {main}: run from the root of a checkout")
    srcs = glob.glob(os.path.join(main, "**", "*.scala"), recursive=True)
    return sorted(srcs) + sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))


def build():
    """Compile graft and the runner with the Scala compiler Spark ships;
    reuse the classes while no source file changes. Returns the classpath."""
    srcs = _sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(WORK, "build", h.hexdigest()[:16])
    if not os.path.isdir(out):
        tmp = f"{out}.tmp{os.getpid()}"
        os.makedirs(tmp)
        jars = os.path.join(SPARK_JARS, "*")
        r = subprocess.run(["java", "-Xmx3g", "-Xss8m", "-cp", jars,
                            "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
                            "-classpath", jars, *srcs],
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            fail("build failed:\n" + r.stdout[-4000:])
        try:
            os.replace(tmp, out)
        except OSError:  # a concurrent build finished first
            shutil.rmtree(tmp)
    return out + os.pathsep + os.path.join(SPARK_JARS, "*")


def data(sf):
    """(directory, content hash) of the generated tables at scale factor
    `sf` (a string)."""
    import gendata
    with open(os.path.join(HERE, "gendata.py"), "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(WORK, "data", version, f"sf{sf}")
    if not os.path.isdir(d):
        gendata.write(d, float(sf))
    h = hashlib.sha256()
    for t in sorted(glob.glob(os.path.join(d, "*.parquet"))):
        with open(t, "rb") as f:
            h.update(f.read())
    return d, h.hexdigest()


def java(classpath, args, log):
    """Run perfbench.Runner; its stdout and stderr go to `log`."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", *OPENS, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", classpath, "perfbench.Runner", *args]
    with open(log, "w") as f:
        return subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT).returncode


def runner(classpath, args):
    """Stdout of one of the runner's listing modes (--list, --oracle FILE)."""
    return subprocess.run(["java", *OPENS, "-cp", classpath, "perfbench.Runner", *args],
                          stdout=subprocess.PIPE, text=True, check=True).stdout


def records(out_dir):
    with open(os.path.join(out_dir, "records.jsonl")) as f:
        return [json.loads(line) for line in f]
