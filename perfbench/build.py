"""Build file of the benchmark's JVM side.

Compiles graft's main sources (src/main/scala) together with the
benchmark's own (perfbench/src) into <build dir>/classes, using the Scala
compiler that ships in Spark's jars, and copies the main resources next to
them. The build is skipped when a stamp of every source and resource file
matches the last build. Run it alone with `python3 perfbench/build.py`.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
BUILD_DIR = ROOT / ".bench_build"
MAIN_SOURCES = ROOT / "src" / "main" / "scala"
MAIN_RESOURCES = ROOT / "src" / "main" / "resources"
BENCH_SOURCES = BENCH / "src"
COMPILE_TIMEOUT_S = 800


class BuildError(RuntimeError):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        exe = shutil.which("spark-submit")
        if exe:
            home = str(Path(os.path.realpath(exe)).parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise BuildError("Spark jars not found: set SPARK_HOME")
    return Path(home) / "jars"


def java():
    home = os.environ.get("JAVA_HOME")
    exe = Path(home) / "bin" / "java" if home else None
    return str(exe) if exe and exe.exists() else "java"


def _files(base, suffix=None):
    if not base.is_dir():
        return []
    return sorted(p for p in base.rglob("*") if p.is_file() and (suffix is None or p.suffix == suffix))


def inputs():
    if not (MAIN_SOURCES / "graft" / "crawl" / "CrawlEngine.scala").is_file():
        raise BuildError(f"graft sources not found under {MAIN_SOURCES}")
    sources = _files(MAIN_SOURCES, ".scala") + _files(BENCH_SOURCES, ".scala")
    return sources, _files(MAIN_RESOURCES)


def stamp(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build(log=sys.stderr):
    """Returns the classes directory, compiling first if anything changed."""
    sources, resources = inputs()
    classes = BUILD_DIR / "classes"
    want = stamp(sources + resources)
    stamp_file = classes / ".stamp"
    if stamp_file.is_file() and stamp_file.read_text() == want:
        return classes
    jars = spark_jars()
    tmp = BUILD_DIR / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = BUILD_DIR / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in sources) + "\n")
    cmd = [java(), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-d", str(tmp), "-classpath", f"{jars}/*", "-nowarn", f"@{argfile}"]
    print(f"perfbench: compiling {len(sources)} sources", file=log, flush=True)
    proc = subprocess.run(cmd, stdout=log, stderr=log, timeout=COMPILE_TIMEOUT_S)
    if proc.returncode != 0:
        raise BuildError(f"scalac exited with {proc.returncode}")
    for r in resources:
        dest = tmp / r.relative_to(MAIN_RESOURCES)
        dest.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(r, dest)
    (tmp / ".stamp").write_text(want)
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"perfbench build failed: {e}", file=sys.stderr)
        sys.exit(2)
