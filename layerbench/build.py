"""Build file of the benchmark: compiles the engine's sources (src/main/scala)
and the benchmark's (layerbench/src) with the Scala compiler that ships in
Spark's jar directory, into .bench_build/classes. A stamp of every source
file's path and content skips the build when nothing changed.

    python3 layerbench/build.py        # from the repository root
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build"


def java():
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the `unmanagedBase`
    the repository's build.sbt compiles against."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.is_file() else None
    if m and Path(m.group(1)).is_dir():
        return Path(m.group(1))
    sys.exit("layerbench: no Spark jar directory (set SPARK_HOME)")


def sources():
    engine = ROOT / "src" / "main" / "scala"
    if not (engine / "graft").is_dir():
        sys.exit(f"layerbench: engine sources not found under {engine}")
    files = sorted(engine.rglob("*.scala")) + sorted((ROOT / "layerbench" / "src").rglob("*.scala"))
    return files


def ensure_built():
    """Compile if any source changed; return the classes directory."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    classes, stamp_file = OUT / "classes", OUT / "stamp"
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return classes
    tmp = OUT / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    print(f"layerbench: compiling {len(files)} sources", file=sys.stderr, flush=True)
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", f"{spark_jars()}/*", "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(tmp)] + [str(f) for f in files]
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        sys.exit("layerbench: compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(stamp)
    return classes


if __name__ == "__main__":
    print(ensure_built())
