#!/usr/bin/env python3
"""Builds the engine (src/main/scala) and the benchmark's Scala code
(perfbench/scala) with the Scala compiler that ships in Spark's jars.

Usage: python3 perfbench/build.py        (from the repository root)

Outputs go to .bench_build/ (or $BENCH_BUILD_DIR); each half is rebuilt
only when a hash of its sources changes. Nothing outside the checkout is
written; Spark's jars are read from $SPARK_HOME/jars or, without
SPARK_HOME, from the installed pyspark package.
"""
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

ROOT = pathlib.Path.cwd()


def spark_home() -> pathlib.Path:
    if os.environ.get("SPARK_HOME"):
        return pathlib.Path(os.environ["SPARK_HOME"])
    try:
        import pyspark
        return pathlib.Path(pyspark.__file__).parent
    except ImportError:
        return pathlib.Path("spark-not-found")


SPARK_JARS = spark_home() / "jars"
BUILD = ROOT / os.environ.get("BENCH_BUILD_DIR", ".bench_build")
ENGINE_SRC = ROOT / "src" / "main"
BENCH_SRC = ROOT / "perfbench" / "scala"


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    return str(pathlib.Path(home) / "bin" / "java") if home else "java"


def sources(root: pathlib.Path) -> list:
    return sorted(p for p in root.rglob("*") if p.suffix in (".scala", ".java") and p.is_file())


def digest(files: list) -> str:
    h = hashlib.sha256()
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def compile_tree(name: str, src: pathlib.Path, extra_cp: list) -> pathlib.Path:
    files = sources(src)
    if not files:
        raise SystemExit(f"perfbench build: no sources under {src}")
    if any(p.suffix == ".java" for p in files):
        raise SystemExit(f"perfbench build: {src} holds Java sources; only Scala is compiled here")
    out = BUILD / name
    stamp = BUILD / f"{name}.sha256"
    # the key covers the dependencies' own keys, so a rebuilt engine rebuilds the benchmark
    key = ":".join([digest(files)] + [(BUILD / f"{p.name}.sha256").read_text() for p in extra_cp])
    if stamp.is_file() and stamp.read_text() == key and out.is_dir():
        return out
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    # an explicit -classpath: scalac's default is ".", which would read the
    # checkout's directories as packages
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={BUILD}",
           "-cp", str(SPARK_JARS / "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-classpath", ":".join(str(p) for p in extra_cp + [out]),
           "-nowarn", "-d", str(out)] + [str(p) for p in files]
    print(f"perfbench build: compiling {len(files)} files of {name}", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        raise SystemExit(f"perfbench build: {name} failed to compile")
    stamp.write_text(key)
    return out


def build() -> list:
    """Returns the classpath entries of the built engine and benchmark."""
    if not ENGINE_SRC.is_dir() or not BENCH_SRC.is_dir():
        raise SystemExit("perfbench build: run from the repository root (src/main and perfbench/scala)")
    if not list(SPARK_JARS.glob("scala-compiler*.jar")):
        raise SystemExit(f"perfbench build: no Scala compiler in {SPARK_JARS}")
    engine = compile_tree("engine", ENGINE_SRC, [])
    bench = compile_tree("bench", BENCH_SRC, [engine])
    return [engine, bench]


if __name__ == "__main__":
    for p in build():
        print(p)
