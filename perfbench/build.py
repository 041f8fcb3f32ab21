#!/usr/bin/env python3
"""Build file of the graft benchmark.

Compiles the program (`src/main/scala`, plus `src/main/resources`) together
with the benchmark's own sources (`perfbench/src`) using the Scala compiler that
ships in Spark's jars, into `<build dir>/classes`. A content hash of every
input is stamped beside the classes, so an unchanged tree is not rebuilt.

    python3 perfbench/build.py [build dir]      # default: .bench_build
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else found from spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise BuildError("Spark not found: set SPARK_HOME or put spark-submit on PATH")
    return Path(home) / "jars"


def build_dir():
    d = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    return d if d.is_absolute() else ROOT / d


def _inputs():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        raise BuildError(f"program sources not found under {main.relative_to(ROOT)}")
    sources = sorted(main.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))
    res = ROOT / "src" / "main" / "resources"
    resources = sorted(p for p in res.rglob("*") if p.is_file()) if res.is_dir() else []
    return sources, res, resources


def build(out=None):
    """Compile if needed; return the classpath (classes dir, Spark jars)."""
    out = Path(out) if out else build_dir()
    jars = spark_jars()
    sources, res, resources = _inputs()
    h = hashlib.sha256()
    for p in sources + resources:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    digest = h.hexdigest()
    classes, stamp = out / "classes", out / "classes.sha256"
    if classes.is_dir() and stamp.is_file() and stamp.read_text().strip() == digest:
        return [str(classes), str(jars / "*")]
    tmp = out / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", str(jars / "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", str(jars / "*")] + [str(p) for p in sources]
    print(f"[build] compiling {len(sources)} Scala sources", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac exited with {r.returncode}")
    for p in resources:
        dst = tmp / p.relative_to(res)
        dst.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(p, dst)
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp.write_text(digest + "\n")
    return [str(classes), str(jars / "*")]


if __name__ == "__main__":
    try:
        print(os.pathsep.join(build(sys.argv[1] if len(sys.argv) > 1 else None)))
    except BuildError as e:
        sys.exit(f"[build] {e}")
