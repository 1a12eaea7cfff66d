"""Build file of the benchmark: compiles the engine's main sources together
with the benchmark's own Scala sources into one class directory.

Uses the Scala compiler that ships among the Spark jars, so the build needs
no dependency resolution and no network. The output goes under the build
directory (``$CARGO_TARGET_DIR``, default ``.bench_build`` at the checkout
root) and is reused while the sources are unchanged.

    python3 kbbench/build.py          # build (or confirm the build is fresh)
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent


class BuildError(Exception):
    pass


def build_dir() -> Path:
    return ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def spark_jars() -> Path:
    """The Spark jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    candidates = [Path(home) / "jars"] if home else []
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(Path(submit).resolve().parent.parent / "jars")
    for c in candidates:
        if any(c.glob("spark-core_*.jar")):
            return c
    raise BuildError("no Spark jars found (set SPARK_HOME)")


def sources() -> list:
    engine = ROOT / "src" / "main" / "scala"
    if not engine.is_dir():
        raise BuildError(f"engine sources missing: {engine}")
    files = sorted(engine.rglob("*.scala")) + sorted((BENCH / "scala").rglob("*.scala"))
    if not files:
        raise BuildError("no Scala sources")
    return files


def source_digest(files) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(b"\0")
        h.update(f.read_bytes())
    return h.hexdigest()


def ensure() -> dict:
    """Compile if the sources changed since the last build; return the
    class directory, the jar directory and the source digest."""
    files = sources()
    jars = spark_jars()
    digest = source_digest(files)
    out = build_dir()
    classes = out / "classes"
    stamp = out / "classes.sha256"
    built = False
    if not (stamp.is_file() and stamp.read_text() == digest and classes.is_dir()):
        if classes.exists():
            shutil.rmtree(classes)
        classes.mkdir(parents=True)
        argfile = out / "sources.txt"
        argfile.write_text("\n".join(str(f) for f in files) + "\n")
        cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", str(jars / "*"),
               "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
               "-d", str(classes), "@" + str(argfile)]
        # run from the build directory: scalac puts the working directory
        # on its class path, and the checkout root holds source folders
        p = subprocess.run(cmd, cwd=out, stdout=sys.stderr, stderr=sys.stderr)
        if p.returncode != 0:
            raise BuildError(f"scalac failed with code {p.returncode}")
        stamp.write_text(digest)
        built = True
    return {"classes": classes, "jars": jars, "source_digest": digest, "built": built}


if __name__ == "__main__":
    try:
        info = ensure()
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(1)
    print(f"classes at {info['classes']} ({'built' if info['built'] else 'fresh'})")
