"""Build file of the benchmark: compiles the program and the harness.

The program's sources (src/main/scala) and the harness (perfbench/src)
compile together with the Scala compiler that ships in the Spark
distribution's jars, against those same jars, into
.bench_build/classes/<fingerprint>/. The fingerprint covers every
source file and this file, so a checkout builds once and later runs
reuse the classes.

  python3 perfbench/build.py    # from the checkout root; prints the dir
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


class BuildError(Exception):
    pass


def spark_jars():
    """The jars directory of the Spark distribution on this host."""
    homes = [os.environ.get("SPARK_HOME")]
    submit = shutil.which("spark-submit")
    if submit:
        homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise BuildError("no Spark distribution with a Scala compiler found "
                     "(set SPARK_HOME)")


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    own = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    if not main:
        raise BuildError("no program sources under src/main/scala")
    if not own:
        raise BuildError("no harness sources under perfbench/src")
    return main + own


def fingerprint(files):
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build(log=sys.stderr):
    """Returns (classes dir, jars dir), compiling when the sources changed."""
    jars = spark_jars()
    files = sources()
    out = os.path.join(ROOT, ".bench_build", "classes", fingerprint(files))
    if os.path.isfile(os.path.join(out, "_OK")):
        return out, jars
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(tmp, "_sources")
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile]
    print(f"[perfbench] compiling {len(files)} sources", file=log, flush=True)
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + p.stdout[-4000:])
    open(os.path.join(tmp, "_OK"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out, jars


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        sys.exit(f"[perfbench] build failed: {e}")
