#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the engine's main sources
(`src/main/scala`) together with the benchmark's own (`perfbench/src`) with
the Scala compiler that ships in the Spark distribution, so no build tool
or network is needed.

Usage: python3 perfbench/build.py        (from the repository root)

Output goes to `$CARGO_TARGET_DIR/perfbench` (default `.bench_build`). A
stamp over every input skips the compile when nothing changed. Prints the
run-time classpath.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
SCALA_VERSION = "2.13.17"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = Path(shutil.which("spark-submit")).resolve().parent.parent
    d = Path(home or ".") / "jars"
    jars = sorted(d.glob("*.jar"))
    if not jars:
        raise SystemExit(f"build: no Spark jars under {d} (set SPARK_HOME)")
    return d, jars


def java():
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def out_dir(root):
    return Path(root) / os.environ.get("CARGO_TARGET_DIR", ".bench_build") / "perfbench"


def sources(root):
    main = Path(root) / "src" / "main"
    scala = sorted((main / "scala").rglob("*.scala"))
    if not scala:
        raise SystemExit(f"build: no engine sources under {main / 'scala'}; "
                         "run from the root of a graft checkout")
    resources = sorted(p for p in (main / "resources").rglob("*") if p.is_file())
    bench = sorted((BENCH / "src").rglob("*.scala"))
    return main, scala, resources, bench


def build(root="."):
    """Compile if needed; return the classpath string."""
    root = Path(root).resolve()
    main, scala, resources, bench = sources(root)
    jar_dir, jars = spark_jars()
    out = out_dir(root)
    classes = out / "classes"
    h = hashlib.sha256()
    for p in scala + resources + bench + [BENCH / "build.py"]:
        h.update(str(p.relative_to(root) if p.is_relative_to(root) else p).encode())
        h.update(p.read_bytes())
    h.update("\n".join(j.name for j in jars).encode())
    stamp = h.hexdigest()
    stamp_file = out / "stamp"
    cp = os.pathsep.join([str(classes)] + [str(j) for j in jars])
    if stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp
    shutil.rmtree(out, ignore_errors=True)
    classes.mkdir(parents=True)
    compiler = os.pathsep.join(str(jar_dir / f"{n}-{SCALA_VERSION}.jar")
                               for n in ("scala-compiler", "scala-library", "scala-reflect"))
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in scala + bench) + "\n")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", os.pathsep.join(str(j) for j in jars),
           "-d", str(classes), f"@{argfile}"]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed with exit code {r.returncode}")
    for p in resources:
        dst = classes / p.relative_to(main / "resources")
        dst.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(p, dst)
    stamp_file.write_text(stamp)
    return cp


if __name__ == "__main__":
    print(build())
