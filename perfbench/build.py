"""Compiles the program and the benchmark harness from source with the
Scala compiler that ships in Spark's jars directory, without sbt.

The classes land in `.perfbench/build/<hash>/`, keyed by a hash of every
source file, so a run after an unchanged build reuses them.
"""
import hashlib
import os
import re
import shutil
import subprocess
from pathlib import Path


class BuildError(Exception):
    pass


def spark_jars(root):
    """Spark's jars directory: `$SPARK_HOME/jars`, else the build's own
    `unmanagedBase`."""
    home = os.environ.get("SPARK_HOME")
    if home and Path(home, "jars").is_dir():
        return Path(home, "jars")
    sbt = root / "build.sbt"
    m = sbt.exists() and re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
    if m and Path(m.group(1)).is_dir():
        return Path(m.group(1))
    raise BuildError("Spark's jars not found: set SPARK_HOME")


def _sources(d):
    return sorted(p for p in d.rglob("*.scala") if p.is_file())


def _scalac(jars, classpath, out, sources):
    out.mkdir(parents=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-nowarn", "-d", str(out),
           "-classpath", os.pathsep.join(map(str, classpath)), *map(str, sources)]
    p = subprocess.run(cmd, capture_output=True, text=True)
    if p.returncode != 0:
        raise BuildError(f"scalac failed for {out.name}:\n{p.stdout}{p.stderr}")


def build(root):
    """Returns the class path of a run: program classes, harness classes,
    then Spark's jars."""
    program = _sources(root / "src" / "main" / "scala")
    harness = _sources(root / "perfbench" / "src")
    if not program:
        raise BuildError(f"no program sources under {root / 'src' / 'main' / 'scala'}")
    jars = spark_jars(root)
    digest = hashlib.sha256()
    for p in program + harness:
        digest.update(str(p.relative_to(root)).encode() + b"\0" + p.read_bytes())
    base = root / ".perfbench" / "build"
    out = base / digest.hexdigest()[:16]
    jar_list = sorted(jars.glob("*.jar"))
    if not (out / "done").exists():
        if base.exists():
            shutil.rmtree(base)
        _scalac(jars, jar_list, out / "program", program)
        _scalac(jars, [out / "program", *jar_list], out / "harness", harness)
        (out / "done").touch()
    return [out / "program", out / "harness", Path(f"{jars}/*")]
