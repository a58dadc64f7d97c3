"""Build file of the benchmark.

Compiles the engine's main sources (src/main/scala) together with the
benchmark's own Scala sources (perfbench/src) into one jar,
with the Scala compiler that ships among Spark's jars. Nothing outside
the build directory is written. A build is keyed by a hash of every
source file, so an unchanged tree is compiled once.

    python3 perfbench/build.py            # prints the jar
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"


class BuildError(Exception):
    pass


def build_dir() -> Path:
    """The benchmark's build directory, under CARGO_TARGET_DIR if set."""
    base = Path(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    if not base.is_absolute():
        base = ROOT / base
    return base / "perfbench"


def spark_jars() -> Path:
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(Path(os.environ["SPARK_HOME"]) / "jars")
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(Path(submit).resolve().parent.parent / "jars")
    for c in candidates:
        if any(c.glob("spark-sql_*.jar")) and any(c.glob("scala-compiler-*.jar")):
            return c
    raise BuildError("no Spark installation with a Scala compiler found "
                     "(set SPARK_HOME)")


def sources() -> list:
    main = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not main:
        raise BuildError(f"engine sources not found under {ROOT / 'src/main/scala'}")
    return main + sorted((BENCH / "src").rglob("*.scala"))


def source_hash(files) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def build() -> Path:
    """Compiles if needed and returns the jar of the engine and benchmark.
    A jar, not a class directory: the JVM's class-data archive, which
    run.py uses to cut start-up time, only covers classes from jars."""
    files = sources()
    jar = build_dir() / f"perfbench-{source_hash(files)}.jar"
    if jar.is_file():
        return jar
    jars = spark_jars()
    tmp = build_dir() / f"{jar.stem}.classes"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = build_dir() / f"{jar.stem}.args"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cp = f"{jars}/*"
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-cp", cp, f"@{argfile}"]
    print(f"perfbench: compiling {len(files)} Scala sources", file=sys.stderr)
    r = subprocess.run(cmd, cwd=ROOT)
    argfile.unlink()
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac exited with {r.returncode}")
    partial = jar.with_suffix(".partial")
    with zipfile.ZipFile(partial, "w", zipfile.ZIP_DEFLATED) as z:
        for f in sorted(tmp.rglob("*")):
            if f.is_file():
                z.write(f, f.relative_to(tmp).as_posix())
    shutil.rmtree(tmp)
    partial.rename(jar)
    return jar


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"perfbench build: {e}", file=sys.stderr)
        sys.exit(2)
