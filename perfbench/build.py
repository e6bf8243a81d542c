#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's main sources
(`src/main/scala`) together with the benchmark's own sources
(`perfbench/src`) using the Scala compiler that ships in the Spark jar
directory, into `.bench_build/perfbench/classes`.

A build is skipped when the digest of every input file matches the one
recorded by the previous build. Usage, from the repository root:

    python3 perfbench/build.py

It prints the classpath to run `perfbench.Main` with.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
DEFAULT_JARS = "/opt/spark/jars"


def spark_jars_dir(root):
    """The jar directory build.sbt compiles against (its unmanagedBase)."""
    sbt = root / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m:
            return Path(m.group(1))
    return Path(DEFAULT_JARS)


def sources(root):
    main = root / "src" / "main" / "scala"
    if not main.is_dir():
        raise SystemExit(f"perfbench: no program sources at {main.relative_to(root)}")
    files = sorted(main.rglob("*.scala")) + sorted((BENCH_DIR / "src").rglob("*.scala"))
    return files


def digest(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f).encode())
        h.update(f.read_bytes())
    for j in jars:
        h.update(j.name.encode())
    return h.hexdigest()


def build(root):
    """Compile if needed; return (classpath list, source digest)."""
    root = Path(root).resolve()
    out = root / ".bench_build" / "perfbench"
    classes = out / "classes"
    jars_dir = spark_jars_dir(root)
    jars = sorted(jars_dir.glob("*.jar"))
    if not jars:
        raise SystemExit(f"perfbench: no jars in {jars_dir}")
    files = sources(root)
    want = digest(files, jars)
    stamp = out / "classes.sha256"
    resources = root / "src" / "main" / "resources"
    cp = [str(classes), str(resources)] + [str(j) for j in jars]
    if classes.is_dir() and stamp.is_file() and stamp.read_text() == want:
        return cp, want
    compiler = [j for j in jars if re.match(r"scala-(compiler|library|reflect)-", j.name)]
    if len(compiler) != 3:
        raise SystemExit(f"perfbench: scala compiler jars not found in {jars_dir}")
    tmp = out / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", os.pathsep.join(map(str, compiler)),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp),
           "-classpath", os.pathsep.join(str(j) for j in jars), f"@{argfile}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit(f"perfbench: compile failed (exit {r.returncode})")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp.write_text(want)
    return cp, want


if __name__ == "__main__":
    cp, _ = build(Path.cwd())
    print(os.pathsep.join(cp))
