#!/usr/bin/env python3
"""Build file of the benchmark package: compiles graft's sources
(src/main/scala) together with the benchmark's own (perfbench/src) into
.bench_build/classes, with the Scala compiler that ships among Spark's
jars. A stamp of the sources' hash skips the compile when nothing
changed.

    python3 perfbench/build.py        # prints the classes directory
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build"
CLASSES = OUT / "classes"


def spark_jars():
    """Spark's jars (with the Scala compiler among them): under
    $SPARK_HOME, else under the parent of a PATH entry (spark's bin/)."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        str(Path(p).parent) for p in os.environ.get("PATH", "").split(os.pathsep) if p]
    for home in homes:
        if home and glob.glob(str(Path(home) / "jars" / "scala-compiler-*.jar")):
            return Path(home) / "jars"
    raise SystemExit("perfbench: no Spark jars with a Scala compiler; set SPARK_HOME")


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not (main / "graft").is_dir():
        raise SystemExit(f"perfbench: no graft sources under {main}")
    files = sorted(main.rglob("*.scala")) + sorted((ROOT / "perfbench" / "src").rglob("*.scala"))
    return files


def build():
    files = sources()
    jars = spark_jars()
    compiler = sorted(glob.glob(str(jars / "scala-compiler-*.jar")))
    version = Path(compiler[-1]).name[len("scala-compiler-"):-len(".jar")]
    digest = hashlib.sha256(version.encode())
    for f in files:
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    stamp = OUT / "stamp"
    if CLASSES.is_dir() and stamp.is_file() and stamp.read_text() == digest.hexdigest():
        return CLASSES
    tmp = OUT / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    scala_cp = ":".join(str(jars / f"scala-{m}-{version}.jar")
                        for m in ("compiler", "library", "reflect"))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", scala_cp, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", str(jars / "*"), "-d", str(tmp)] + [str(f) for f in files]
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp.rename(CLASSES)
    stamp.write_text(digest.hexdigest())
    return CLASSES


if __name__ == "__main__":
    print(build())
