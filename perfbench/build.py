"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark's own Scala sources with the Scala compiler that ships in Spark's
jars, into .bench_build/classes. Rebuilds only when a source changed.

    python3 perfbench/build.py      # prints the classes directory
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise SystemExit("perfbench: Spark not found (set SPARK_HOME)")
    return Path(home) / "jars"


def sources():
    dirs = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "scala"]
    if not dirs[0].is_dir():
        raise SystemExit(f"perfbench: engine sources missing at {dirs[0]}")
    return sorted(p for d in dirs for p in d.rglob("*.scala"))


def build():
    """Compile if stale; return the classes directory."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    stamp = h.hexdigest()
    classes = OUT / "classes"
    stamp_file = OUT / "classes.stamp"
    if classes.is_dir() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    cp = f"{spark_jars()}/*"
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs))
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp,
                        f"-Djava.io.tmpdir={OUT}", "scala.tools.nsc.Main",
                        "-nowarn", "-d", str(classes), "-classpath", cp, f"@{argfile}"],
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    stamp_file.write_text(stamp)
    return classes


if __name__ == "__main__":
    print(build())
