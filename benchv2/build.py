"""Build file of the benchmark: compiles the program's sources
(`src/main/scala`) and the harness (`benchv2/src`) with scalac into
`.bench_build/classes-<hash>/`, against the Spark jars.

The hash covers every source file, so a changed program is rebuilt and an
unchanged one is reused. Run it alone with `python3 benchv2/build.py`;
`run.py` calls `build()` before every run.
"""
import hashlib
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", ROOT / "benchv2" / "src"]
BUILD_DIR = ROOT / ".bench_build"
SCALA = "2.13.17"


class BuildError(Exception):
    pass


def spark_jars() -> list:
    """The jars the program's own build compiles against (`unmanagedBase`)."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (ROOT / "build.sbt").read_text())
    if not m:
        raise BuildError("no unmanagedBase in build.sbt")
    jars_dir = Path(m.group(1))
    jars = sorted(jars_dir.glob("*.jar"))
    if not jars:
        raise BuildError(f"no Spark jars in {jars_dir}")
    return jars


def sources() -> list:
    if not SOURCE_DIRS[0].is_dir():
        raise BuildError(f"program sources not found: {SOURCE_DIRS[0]}")
    return sorted(p for d in SOURCE_DIRS for p in d.rglob("*.scala"))


def source_hash(files: list) -> str:
    h = hashlib.sha256(SCALA.encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes() + b"\0")
    return h.hexdigest()


def build(log=sys.stderr) -> Path:
    """Returns the classes directory, compiling first if it is missing."""
    files = sources()
    digest = source_hash(files)
    out = BUILD_DIR / f"classes-{digest[:16]}"
    if (out / ".ok").exists():
        return out
    jars = spark_jars()
    compiler = [j for j in jars if j.name in
                (f"scala-compiler-{SCALA}.jar", f"scala-library-{SCALA}.jar",
                 f"scala-reflect-{SCALA}.jar")]
    if len(compiler) != 3:
        raise BuildError(f"scala {SCALA} compiler jars not found beside Spark")
    for old in BUILD_DIR.glob("classes-*"):
        shutil.rmtree(old, ignore_errors=True)
    tmp = BUILD_DIR / "classes-tmp"
    tmp.mkdir(parents=True)
    argfile = BUILD_DIR / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData", "-cp", ":".join(map(str, compiler)),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", ":".join(map(str, jars)),
           "-d", str(tmp), f"@{argfile}"]
    print(f"[benchv2] compiling {len(files)} sources", file=log, flush=True)
    r = subprocess.run(cmd, stdout=log, stderr=log, timeout=800)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac failed with code {r.returncode}")
    (tmp / ".ok").write_text(digest + "\n")
    tmp.rename(out)
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[benchv2] build failed: {e}", file=sys.stderr)
        sys.exit(2)
