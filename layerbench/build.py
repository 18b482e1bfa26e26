"""Build file of the layerbench package.

Compiles the program's sources (`src/main/scala`) together with the
benchmark's own (`layerbench/src`) with the Scala 2.13 compiler that ships
in `$SPARK_HOME/jars`, into `<build dir>/classes`. The build dir is
`$CARGO_TARGET_DIR` when set (relative to the checkout root), else
`.bench_build`. A stamp over every source skips an up-to-date build.

    python3 layerbench/build.py
"""

import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SCALA = "2.13.17"


def build_dir() -> Path:
    return ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home:
        raise SystemExit("layerbench: SPARK_HOME is not set; it names the Spark install whose jars the build uses")
    return Path(home) / "jars"


def sources() -> list:
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        raise SystemExit(f"layerbench: no program sources at {main}; run from a colinospark checkout")
    found = sorted(main.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))
    return [p for p in found if p.is_file()]


def build() -> Path:
    """Returns the classes directory, compiling first when a source changed."""
    srcs = sources()
    jars = spark_jars()
    compiler = [jars / f"scala-{m}-{SCALA}.jar" for m in ("compiler", "library", "reflect")]
    missing = [str(j) for j in compiler if not j.is_file()]
    if missing:
        raise SystemExit(f"layerbench: Scala compiler jars missing: {', '.join(missing)}")
    h = hashlib.sha256(SCALA.encode())
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    stamp = h.hexdigest()
    out = build_dir()
    classes = out / "classes"
    stamp_file = out / "classes.stamp"
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return classes
    tmp = out / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cp = os.pathsep.join(str(j) for j in sorted(jars.glob("*.jar")))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(map(str, compiler)),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp), "-classpath", cp] + [str(p) for p in srcs]
    print(f"[layerbench] compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, cwd=ROOT)
    if r.returncode != 0:
        raise SystemExit(f"layerbench: compile failed ({r.returncode})")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(stamp)
    return classes


if __name__ == "__main__":
    print(build())
