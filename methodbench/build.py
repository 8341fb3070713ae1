"""Builds the benchmark: the repository's Scala sources plus the
benchmark's own, compiled with the Scala compiler that ships in the
Spark distribution the root build.sbt links against.

The classes land in `.bench_build/classes-<hash>` at the repository
root, keyed by a hash of every source file, so an unchanged tree is
compiled once. `python3 methodbench/build.py` builds and prints the
runtime classpath.
"""
import hashlib
import os
import re
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
BUILD_DIR = REPO / ".bench_build"


class BuildError(Exception):
    pass


def spark_jars():
    """The jar directory the root build.sbt names as `unmanagedBase`,
    else `$SPARK_HOME/jars`."""
    sbt = REPO / "build.sbt"
    if not sbt.is_file():
        raise BuildError(f"no build.sbt at {REPO}: not a checkout of the repository")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
    jars = Path(m.group(1)) if m else Path(os.environ.get("SPARK_HOME", "")) / "jars"
    if not any(jars.glob("scala-compiler-*.jar")):
        raise BuildError(f"no Spark distribution with a Scala compiler at {jars}")
    return jars


def sources():
    main = REPO / "src" / "main" / "scala"
    if not main.is_dir():
        raise BuildError(f"no {main}: not a checkout of the repository")
    files = sorted(main.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))
    if not files:
        raise BuildError("no Scala sources")
    return files


def build():
    """Compile if needed; return the runtime classpath."""
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(REPO)).encode())
        h.update(f.read_bytes())
    out = BUILD_DIR / f"classes-{h.hexdigest()[:16]}"
    classpath = f"{out}{os.pathsep}{jars}/*"
    if (out / ".done").exists():
        return classpath
    out.mkdir(parents=True, exist_ok=True)
    argfile = out / ".sources"
    argfile.write_text("\n".join(str(f) for f in files))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(out), f"@{argfile}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=800)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    (out / ".done").touch()
    return classpath


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build: {e}", file=sys.stderr)
        sys.exit(2)
