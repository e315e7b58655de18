#!/usr/bin/env python3
"""Builds the engine and the benchmark from source.

Compiles the engine's `src/main/scala` together with the benchmark's own
`perfbench/src` with the Scala compiler that ships among the Spark jars, into
`.bench_build/classes-<hash>` at the root of the checkout. The hash covers
every source file, so an unchanged tree is never rebuilt and a changed one
always is.

Usage: build.py            (prints the class directory)
"""
import glob
import hashlib
import importlib.util
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = Path(__file__).resolve().parent
OUT = ROOT / ".bench_build"


def spark_jars():
    """The Spark jar directory: `SPARK_JARS_DIR`, else `$SPARK_HOME/jars`,
    else that of the Spark install whose `spark-submit` is on the PATH, else
    that of the installed `pyspark` package."""
    if os.environ.get("SPARK_JARS_DIR"):
        return Path(os.environ["SPARK_JARS_DIR"])
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"]) / "jars"
    submit = shutil.which("spark-submit")
    if submit:
        return Path(submit).resolve().parent.parent / "jars"
    spec = importlib.util.find_spec("pyspark")
    if spec and spec.origin:
        return Path(spec.origin).parent / "jars"
    return Path("jars")


SPARK_JARS = spark_jars()


class BuildError(Exception):
    pass


def sources():
    engine = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not engine:
        raise BuildError(f"no engine sources under {ROOT / 'src/main/scala'}")
    own = sorted((BENCH / "src").rglob("*.scala"))
    return engine + own


def jar(prefix):
    found = sorted(glob.glob(str(SPARK_JARS / f"{prefix}-2.13*.jar")))
    if not found:
        raise BuildError(f"{prefix} jar not found in {SPARK_JARS}")
    return found[-1]


def classpath(classes):
    resources = ROOT / "src" / "main" / "resources"
    return os.pathsep.join([str(classes), str(resources), str(SPARK_JARS / "*")])


def build():
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    stamp = h.hexdigest()[:16]
    classes = OUT / f"classes-{stamp}"
    if (classes / "BUILD_OK").exists():
        return classes, stamp
    compiler = [jar("scala-compiler"), jar("scala-library"), jar("scala-reflect")]
    staging = OUT / f"staging-{stamp}-{os.getpid()}"
    shutil.rmtree(staging, ignore_errors=True)
    staging.mkdir(parents=True)
    argfile = staging / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-release", "17",
           "-d", str(staging), "-classpath", str(SPARK_JARS / "*"), f"@{argfile}"]
    res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    argfile.unlink()
    if res.returncode != 0:
        shutil.rmtree(staging, ignore_errors=True)
        raise BuildError(f"scalac exited with {res.returncode}")
    (staging / "BUILD_OK").write_text(stamp + "\n")
    for old in OUT.glob("classes-*"):
        shutil.rmtree(old, ignore_errors=True)
    staging.rename(classes)
    return classes, stamp


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(f"build: {e}", file=sys.stderr)
        sys.exit(2)
