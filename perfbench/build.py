"""Build step of the benchmark: compile the engine (src/main/scala) and the
benchmark harness (perfbench/harness) into one jar.

It uses the Scala compiler that ships inside the Spark distribution the
engine builds against, so no build tool or network is needed. The output
is reused while the hash of every source file is unchanged. A rebuild also
removes the JVM class-data archive made from the previous jar (ARCHIVE;
run.py makes it), since the JVM would refuse it for the new jar.
"""
import hashlib
import os
import re
import subprocess
import sys
from pathlib import Path

ARCHIVE = "engine.jsa"


def spark_jars(root: Path) -> Path:
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    `unmanagedBase` the engine's build.sbt names."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sbt = root / "build.sbt"
    m = sbt.exists() and re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
    if not m or not Path(m.group(1)).is_dir():
        sys.exit("perfbench: cannot find the Spark jars (set SPARK_HOME)")
    return Path(m.group(1))


def sources(root: Path) -> list:
    engine = root / "src" / "main" / "scala"
    harness = root / "perfbench" / "harness"
    if not engine.is_dir():
        sys.exit("perfbench: no engine sources under src/main/scala")
    return sorted(engine.rglob("*.scala")) + sorted(harness.glob("*.scala"))


def build(root: Path, work: Path) -> Path:
    """Compile if needed; return the jar."""
    srcs = sources(root)
    jars = spark_jars(root)
    h = hashlib.sha256()
    for f in srcs:
        h.update(str(f.relative_to(root)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    jar = work / "engine.jar"
    stamp_file = work / "engine.stamp"
    if stamp_file.exists() and stamp_file.read_text() == stamp and jar.exists():
        return jar
    for stale in (jar, stamp_file, work / ARCHIVE):
        stale.unlink(missing_ok=True)
    compiler = [str(next(jars.glob(f"scala-{n}-2.13.*.jar")))
                for n in ("compiler", "library", "reflect")]
    argfile = work / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss4m", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(jar),
           "-classpath", str(jars / "*"), f"@{argfile}"]
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        sys.exit("perfbench: compilation failed")
    stamp_file.write_text(stamp)
    return jar
