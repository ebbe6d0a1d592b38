"""Build file of the benchmark: compiles graft's main sources together
with the benchmark harness (perfbench/scala) into one class directory,
offline, with the Scala compiler that ships in Spark's jars. The build
is skipped when the sources have not changed since the last one.

    python3 perfbench/build.py          # prints the class directory

Output goes to .bench_build/classes under the repository root; nothing
under src/ or build.sbt is touched.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SCALA_VERSION = "2.13.17"
BUILD_DIR = ROOT / ".bench_build"


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"]) / "jars"
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  sbt.read_text() if sbt.is_file() else "")
    if not m:
        raise SystemExit("Spark jars not found: set SPARK_HOME")
    return Path(m.group(1))


SPARK_JARS = spark_jars()


def sources():
    dirs = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "scala"]
    files = sorted(p for d in dirs if d.is_dir() for p in d.rglob("*.scala"))
    if not any(str(p).startswith(str(dirs[0])) for p in files):
        raise SystemExit(f"no graft sources under {dirs[0]}")
    return files


def compiler_classpath():
    jars = [SPARK_JARS / f"scala-{n}-{SCALA_VERSION}.jar"
            for n in ("compiler", "library", "reflect")]
    missing = [str(j) for j in jars if not j.is_file()]
    if missing:
        raise SystemExit(f"Scala compiler jars not found: {missing}")
    return os.pathsep.join(map(str, jars))


def run_child(cmd, timeout, **kw):
    """Run a child process; whatever happens here (timeout, signal,
    error), it is killed and reaped before this returns or raises."""
    p = subprocess.Popen(cmd, **kw)
    try:
        return p.wait(timeout=timeout)
    finally:
        if p.poll() is None:
            p.kill()
            p.wait()


def build():
    files = sources()
    digest = hashlib.sha256()
    for f in files:
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    stamp = digest.hexdigest()
    out = BUILD_DIR / "classes"
    if (out / "STAMP").is_file() and (out / "STAMP").read_text() == stamp:
        return out
    tmp = BUILD_DIR / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", compiler_classpath(),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp),
           "-classpath", str(SPARK_JARS / "*")] + [str(f) for f in files]
    log = BUILD_DIR / "compile.log"
    with open(log, "w") as out_log:
        code = run_child(cmd, 800, stdout=out_log, stderr=subprocess.STDOUT)
    if code != 0:
        sys.stderr.write(log.read_text()[-8000:])
        raise SystemExit(f"compile failed with code {code}")
    (tmp / "STAMP").write_text(stamp)
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return out


if __name__ == "__main__":
    print(build())
