"""Build file of the benchmark: compiles the engine (`src/main/scala`) and
the benchmark's own sources (`perfbench/src`) into `<build dir>/classes`
with the Scala compiler that ships in Spark's jar directory, and gives the
JVM command line that runs them.

The engine's sbt build is left alone; this compiles the same sources
against the same jars. A build is skipped when a stamp of every source
file's path and content matches the previous build's.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

SOURCE_DIRS = ["src/main/scala", "perfbench/src"]

# Spark 4 on JDK 17 outside spark-submit needs these; the same list as the
# engine's build.sbt (`jdk17AddOpens`).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def spark_jars(root: Path) -> Path:
    """`$SPARK_HOME/jars`, else the jar directory the engine's build.sbt
    compiles against (its `unmanagedBase`)."""
    if "SPARK_HOME" in os.environ:
        return Path(os.environ["SPARK_HOME"]) / "jars"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (root / "build.sbt").read_text())
    if not m:
        raise SystemExit("perfbench: set SPARK_HOME; build.sbt names no unmanagedBase")
    return Path(m.group(1))


def sources(root: Path) -> list:
    missing = [d for d in SOURCE_DIRS if not (root / d).is_dir()]
    if missing:
        raise SystemExit(f"perfbench: source directories missing under {root}: {missing}")
    return sorted(p for d in SOURCE_DIRS for p in (root / d).rglob("*.scala"))


def stamp(root: Path, files: list) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(root)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build(root: Path, build_dir: Path) -> tuple:
    """Compiles if the sources changed; returns (classes dir, source stamp)."""
    files = sources(root)
    digest = stamp(root, files)
    classes = build_dir / "classes"
    stamp_file = build_dir / "classes.stamp"
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == digest:
        return classes, digest
    jars = spark_jars(root)
    if not jars.is_dir():
        raise SystemExit(f"perfbench: Spark jars not found at {jars} (set SPARK_HOME)")
    fresh = build_dir / "classes.tmp"
    shutil.rmtree(fresh, ignore_errors=True)
    fresh.mkdir(parents=True)
    cp = f"{jars}/*"
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(fresh), "-classpath", cp] + [str(f) for f in files]
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr)
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    shutil.rmtree(classes, ignore_errors=True)
    fresh.rename(classes)
    stamp_file.write_text(digest)
    return classes, digest


def heap_mb() -> int:
    """A quarter of physical memory, between 2 and 4 GiB."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return max(2048, min(4096, total_kb // 4096))


def java_command(root: Path, classes: Path, work: Path, args: list) -> list:
    """The JVM running `perfbench.Main args`; its scratch files go under
    `work`, which the caller removes."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java"] + opens + [
        f"-Xms{heap_mb()}m", f"-Xmx{heap_mb()}m",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-Dlog4j2.level=error",
        "-cp", f"{classes}:{spark_jars(root)}/*", "perfbench.Main"] + args)
