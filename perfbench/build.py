"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark sources (perfbench/src) with the Scala compiler that ships
in Spark's jars, into a directory named after a hash of every source.
A build whose sources are unchanged is reused.

    python3 perfbench/build.py          # prints the classes directory
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build"


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home or not (Path(home) / "jars").is_dir():
        raise SystemExit("SPARK_HOME must name a Spark 4 install (its jars/ holds the Scala compiler)")
    return Path(home) / "jars"


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def sources() -> list:
    program = ROOT / "src" / "main" / "scala"
    if not program.is_dir():
        raise SystemExit(f"no program sources under {program.relative_to(ROOT)}")
    return sorted(program.rglob("*.scala")) + sorted((BENCH / "src").glob("*.scala"))


def build() -> Path:
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    classes = BUILD / f"classes-{h.hexdigest()[:16]}"
    if (classes / ".done").exists():
        return classes
    tmp = BUILD / f"classes-tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", str(spark_jars() / "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(tmp)] + [str(f) for f in files]
    try:
        subprocess.run(cmd, check=True, stdout=sys.stderr, timeout=800)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    (tmp / ".done").touch()
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    for old in BUILD.glob("classes-*"):
        if old != classes:
            shutil.rmtree(old, ignore_errors=True)
    return classes


if __name__ == "__main__":
    print(build())
