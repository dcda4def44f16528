"""Builds the engine and the benchmark from source.

Compiles every Scala file under src/main/scala together with perfbench/src
into .bench_build/classes-<digest>, using the Scala compiler that ships with
Spark's jars. The digest covers the sources and the jar list, so an
unchanged checkout reuses its previous build.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path


def spark_jars(root: Path) -> Path:
    """Spark's jar directory: $SPARK_HOME/jars, else build.sbt's unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sbt = root / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m and Path(m.group(1)).is_dir():
            return Path(m.group(1))
    raise SystemExit("perfbench: no Spark jars (set SPARK_HOME)")


def sources(root: Path) -> list:
    engine = sorted((root / "src" / "main" / "scala").rglob("*.scala"))
    if not engine:
        raise SystemExit("perfbench: no engine sources under src/main/scala")
    return engine + sorted((root / "perfbench" / "src").glob("*.scala"))


def build(root: Path) -> str:
    """Compiles if needed and returns the classpath to run with."""
    jars = spark_jars(root)
    srcs = sources(root)
    h = hashlib.sha256()
    for f in srcs:
        h.update(str(f.relative_to(root)).encode() + b"\0" + f.read_bytes())
    for j in sorted(p.name for p in jars.glob("*.jar")):
        h.update(j.encode())
    out = root / ".bench_build" / ("classes-" + h.hexdigest()[:16])
    classpath = f"{out}{os.pathsep}{jars}/*"
    if (out / ".complete").is_file():
        return classpath
    tmp = out.with_name(out.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(f'"{f}"' for f in srcs) + "\n")
    compiler = os.pathsep.join(str(jars / n) for n in sorted(os.listdir(jars))
                               if re.match(r"scala-(compiler|library|reflect)-2\.13\.\d+\.jar$", n))
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
                    "-encoding", "UTF-8", "-nowarn", "-d", str(tmp), "-cp", f"{jars}/*",
                    f"@{argfile}"], check=True, stdout=sys.stderr, timeout=600)
    argfile.unlink()
    (tmp / ".complete").write_text("ok\n")
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return classpath
