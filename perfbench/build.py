"""Build file of the benchmark.

Compiles the engine's sources (`src/main/scala` at the repository root)
together with the benchmark's own (`perfbench/src`) into one class
directory, using the Scala compiler that ships among Spark's jars. The
output lands in `.bench_build/classes-<hash of every source>`, so an
unchanged tree is compiled once per checkout.

    python3 perfbench/build.py        # prints the run classpath
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = ROOT / ".bench_build"


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    """Spark's jar directory: `$SPARK_HOME/jars`, else the engine build's
    own `unmanagedBase`."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sbt = ROOT / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m and Path(m.group(1)).is_dir():
            return Path(m.group(1))
    raise BuildError("no Spark jars: set SPARK_HOME")


def _sources():
    engine = ROOT / "src" / "main" / "scala"
    if not engine.is_dir():
        raise BuildError(f"engine sources not found under {ROOT}")
    files = sorted(engine.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))
    resources = ROOT / "src" / "main" / "resources"
    extra = sorted(p for p in resources.rglob("*") if p.is_file()) if resources.is_dir() else []
    return files, resources, extra


def build() -> str:
    """Compiles if needed and returns the classpath to run with."""
    jars = spark_jars()
    files, resources, extra = _sources()
    h = hashlib.sha256()
    for p in files + extra:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    h.update(",".join(sorted(j.name for j in jars.glob("scala-*.jar"))).encode())
    dest = OUT / f"classes-{h.hexdigest()[:16]}"
    classpath = f"{dest}{os.pathsep}{jars}/*"
    if (dest / ".done").exists():
        return classpath
    tmp = OUT / f"tmp-classes-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    args = tmp / "sources.txt"
    args.write_text("\n".join(f'"{p}"' for p in files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", f"{jars}/*", f"@{args}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("compilation failed:\n" + r.stdout[-4000:])
    args.unlink()
    for p in extra:
        target = tmp / p.relative_to(resources)
        target.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(p, target)
    (tmp / ".done").write_text("ok\n")
    shutil.rmtree(dest, ignore_errors=True)
    tmp.rename(dest)
    return classpath


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"perfbench build: {e}", file=sys.stderr)
        sys.exit(2)
