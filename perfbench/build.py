#!/usr/bin/env python3
"""Build file of the graft benchmark.

Compiles the program under test (the repository's ``src/main/scala``) and the
benchmark (``perfbench/src``) in one scalac pass, with the Scala compiler and
the Spark jars of the local Spark install ($SPARK_HOME, or the one whose
``spark-submit`` is on PATH). Output goes to ``.bench_build/<hash>/classes``
at the repository root; the hash covers every source file, so an unchanged
tree is not rebuilt.

    python3 perfbench/build.py          # prints the run classpath and the build id
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = ROOT / ".bench_build"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    jars = Path(home or "") / "jars"
    if not home or not jars.is_dir():
        sys.exit("graftbench: no Spark install found (set SPARK_HOME)")
    return jars


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        sys.exit(f"graftbench: program sources not found at {main.relative_to(ROOT)}")
    files = sorted(main.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))
    resources = ROOT / "src" / "main" / "resources"
    return files, resources


def build():
    """Compiles if needed; returns the classpath to run with and the build id
    (the source hash)."""
    jars = spark_jars()
    files, resources = sources()
    digest = hashlib.sha256()
    for f in files + [Path(__file__).resolve()]:
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    if resources.is_dir():
        for f in sorted(p for p in resources.rglob("*") if p.is_file()):
            digest.update(str(f.relative_to(ROOT)).encode())
            digest.update(f.read_bytes())
    build_id = digest.hexdigest()[:16]
    target = OUT / build_id
    classes = target / "classes"
    classpath = f"{classes}{os.pathsep}{jars}/*"
    if (target / "ok").exists():
        return classpath, build_id

    compiler = [str(p) for name in ("scala-compiler", "scala-library", "scala-reflect")
                for p in sorted(jars.glob(f"{name}-2.13*.jar"))]
    if len(compiler) != 3:
        sys.exit("graftbench: the Spark install lacks the Scala 2.13 compiler jars")
    if OUT.exists():
        shutil.rmtree(OUT)
    classes.mkdir(parents=True)
    argfile = target / "sources.txt"
    argfile.write_text("\n".join(f'"{f}"' for f in files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(classes),
           "-classpath", f"{jars}/*", f"@{argfile}"]
    print(f"graftbench: compiling {len(files)} sources", file=sys.stderr, flush=True)
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        sys.exit("graftbench: compilation failed")
    if resources.is_dir():
        shutil.copytree(resources, classes, dirs_exist_ok=True)
    (target / "ok").write_text("")
    return classpath, build_id


if __name__ == "__main__":
    print(*build(), sep="\n")
