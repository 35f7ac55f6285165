#!/usr/bin/env python3
"""Build file of the benchmark: compiles the library (`src/main/scala`) and
the benchmark's JVM side (`perfbench/scala`) into one class directory with the
Scala compiler that ships in Spark's jar directory, the same jars the
library's own build compiles against (build.sbt `unmanagedBase`).

The class directory is keyed by a hash of every source file, so a checkout
builds once and later runs reuse it.

Usage: python3 perfbench/build.py [--root DIR]   (prints the class dir)
"""
import argparse
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the one beside the
    `spark-submit` on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = str(Path(shutil.which("spark-submit")).resolve().parent.parent)
    jars = Path(home or "") / "jars"
    if not home or not glob.glob(str(jars / "spark-sql_*.jar")):
        raise SystemExit("perfbench: Spark jars not found (set SPARK_HOME)")
    return jars


def sources(root):
    lib = sorted((root / "src" / "main" / "scala").rglob("*.scala"))
    if not lib:
        raise SystemExit(f"perfbench: no library sources under {root}/src/main/scala")
    return lib + sorted((BENCH_DIR / "scala").rglob("*.scala"))


def build(root):
    """Returns the class directory, compiling it first if absent."""
    jars = spark_jars()
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    key = h.hexdigest()[:16]
    out = root / ".bench_build" / f"classes-{key}"
    if (out / "BUILD_OK").exists():
        return out, key, 0.0
    t0 = time.time()
    tmp = out.with_name(out.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    compiler = [str(next(jars.glob(f"scala-{n}-2.13.*.jar")))
                for n in ("compiler", "library", "reflect")]
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp),
           "-classpath", str(jars / "*"), f"@{argfile}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit("perfbench: compilation failed")
    (tmp / "BUILD_OK").write_text(key + "\n")
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return out, key, time.time() - t0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--root", type=Path, default=BENCH_DIR.parent)
    out, _, secs = build(ap.parse_args().root.resolve())
    print(f"{out} ({secs:.1f} s)")


if __name__ == "__main__":
    main()
