"""Build file of the benchmark package.

Compiles the repository's main Scala sources (src/main/scala), then the
benchmark's own sources (e2ebench/src) against them, with the Scala
compiler that ships in the Spark distribution. Nothing is resolved from
the network and the repository's build.sbt is not used or changed.

Outputs go to .bench_build/ at the root of the checkout; a content stamp
of the sources skips a compile whose inputs have not changed.

    python3 e2ebench/build.py        # prints the runtime classpath
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def _spark_jars() -> Path:
    """$SPARK_JARS, else the `unmanagedBase` directory the repository's
    build.sbt compiles against."""
    if os.environ.get("SPARK_JARS"):
        return Path(os.environ["SPARK_JARS"])
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.is_file() else None
    if not m:
        raise BuildError("set SPARK_JARS: build.sbt names no unmanagedBase directory")
    return Path(m.group(1))


class BuildError(Exception):
    pass


def _sources(d: Path):
    return sorted(p for p in d.rglob("*.scala") if p.is_file())


def _stamp(files, salt=""):
    h = hashlib.sha256(salt.encode())
    for f in files:
        h.update(str(f).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def _fresh(stamp_file: Path, stamp: str) -> bool:
    return stamp_file.is_file() and stamp_file.read_text().strip() == stamp


def _scalac(files, out: Path, classpath: str, log: Path, jars: Path):
    """Compile `files` into `out` (replaced only when the compile succeeds)."""
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = tmp.with_name(out.name + ".args")
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp),
           "-classpath", classpath, f"@{argfile}"]
    with open(log, "w") as lf:
        rc = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        raise BuildError(f"scalac failed ({rc}), see {log}:\n" + log.read_text()[-3000:])
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)


def build(root: Path) -> str:
    """Build (if stale) and return the runtime classpath."""
    main_src = root / "src" / "main" / "scala"
    bench_src = root / "e2ebench" / "src"
    main_files = _sources(main_src) if main_src.is_dir() else []
    if not main_files:
        raise BuildError(f"no Scala sources under {main_src}: run from a full checkout")
    jars = _spark_jars()
    if not (jars / "scala-compiler-2.13.17.jar").is_file():
        raise BuildError(f"Spark jars with scala-compiler 2.13.17 not found in {jars}")
    out = root / ".bench_build"
    out.mkdir(exist_ok=True)
    spark_cp = f"{jars}/*"

    graft = out / "graft-classes"
    stamp = _stamp(main_files)
    if not _fresh(out / "graft.stamp", stamp):
        _scalac(main_files, graft, spark_cp, out / "graft-build.log", jars)
        (out / "graft.stamp").write_text(stamp)

    bench = out / "bench-classes"
    bstamp = _stamp(_sources(bench_src), salt=stamp)
    if not _fresh(out / "bench.stamp", bstamp):
        _scalac(_sources(bench_src), bench, f"{graft}:{spark_cp}", out / "bench-build.log", jars)
        (out / "bench.stamp").write_text(bstamp)
    return f"{bench}:{graft}:{spark_cp}"


if __name__ == "__main__":
    try:
        print(build(ROOT))
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
