"""Build file of the benchmark package.

Compiles graft's main sources together with the benchmark's own
(`perfbench/src`) with the Scala compiler that ships in Spark's jar
directory, and generates the benchmark corpus. Both land under
`.bench_build/` in the checkout, keyed by a hash of their inputs, so a
second call is a no-op.

    python3 perfbench/build.py            # build classes and corpus
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
OUT = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the program's build.sbt
    names as its unmanagedBase.
    """
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(ROOT, "build.sbt")) as f:
                jars = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read()).group(1)
        except (OSError, AttributeError):
            jars = ""
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        sys.exit(f"perfbench: no Spark jars in '{jars}' (set SPARK_HOME)")
    return jars


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        sys.exit(f"perfbench: no program sources under {ROOT}/src/main/scala")
    return main + sorted(glob.glob(os.path.join(HERE, "src/*.scala")))


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _publish(tmp, final):
    try:
        os.rename(tmp, final)
    except OSError:  # built meanwhile by another call
        shutil.rmtree(tmp, ignore_errors=True)


def classes():
    """Compiled classes directory for the current sources."""
    srcs = sources()
    final = os.path.join(OUT, "classes-" + digest(srcs))
    if os.path.isdir(final):
        return final
    jars = spark_jars()
    tmp = f"{final}.tmp{os.getpid()}"
    os.makedirs(tmp)
    compiler = [glob.glob(os.path.join(jars, f"scala-{n}-2.*.jar"))[0]
                for n in ("compiler", "library", "reflect")]
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.path.join(jars, "*"),
           "-d", tmp] + srcs
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.exit("perfbench: compilation failed")
    _publish(tmp, final)
    return final


def corpus():
    """Directory of the generated parquet corpus."""
    gen = os.path.join(HERE, "gen_corpus.py")
    final = os.path.join(OUT, "corpus-" + digest([gen]))
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    if subprocess.run([sys.executable, gen, tmp], stdout=sys.stderr).returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.exit("perfbench: corpus generation failed")
    _publish(tmp, final)
    return final


if __name__ == "__main__":
    print(classes())
    print(corpus())
