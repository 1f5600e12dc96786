#!/usr/bin/env python
"""Build geobuf_spark/codec/jvm/gb-codec.jar from GbCodec.java.

No sbt required: the pyspark wheel ships every jar the source compiles
against (spark-sql for the UDF1 interface), and the JDK provides
javac/jar. The built jar is committed so runtimes without a JDK can still
load the JVM codec. Next to it, gb-codec.jar.sha256 records the sha256 of
the GbCodec.java it was built from; the jar is rebuilt only when that hash
differs from the source's (file mtimes depend on the checkout and are not
used).
"""
from __future__ import annotations

import hashlib
import os
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

JVM_DIR = Path(__file__).resolve().parent.parent / "geobuf_spark" / "codec" / "jvm"
SRC = JVM_DIR / "GbCodec.java"
JAR = JVM_DIR / "gb-codec.jar"
STAMP = JVM_DIR / "gb-codec.jar.sha256"


def source_hash() -> str:
    return hashlib.sha256(SRC.read_bytes()).hexdigest()


def recorded_hash() -> str | None:
    return STAMP.read_text().strip() if STAMP.exists() else None


def _java_home() -> Path | None:
    jh = os.environ.get("JAVA_HOME")
    if jh and (Path(jh) / "bin" / "javac").exists():
        return Path(jh)
    javac = shutil.which("javac")
    return Path(javac).parent.parent if javac else None


def build(force: bool = False) -> Path | None:
    """Compile the jar if its recorded source hash is not the source's.
    Returns the jar path, or None if there is neither a jar nor a JDK."""
    digest = source_hash()
    if JAR.exists() and not force and recorded_hash() == digest:
        return JAR
    jh = _java_home()
    if jh is None:
        return JAR if JAR.exists() else None
    import pyspark

    spark_jars = Path(pyspark.__file__).parent / "jars"
    with tempfile.TemporaryDirectory(prefix="gbjvm_") as tmp:
        subprocess.run(
            [str(jh / "bin" / "javac"), "-encoding", "UTF-8",
             "-cp", f"{spark_jars}/*", "-d", tmp, str(SRC)],
            check=True)
        subprocess.run(
            [str(jh / "bin" / "jar"), "cf", str(JAR), "-C", tmp, "geobufspark"],
            check=True)
    STAMP.write_text(digest + "\n")
    return JAR


if __name__ == "__main__":
    out = build(force="--force" in sys.argv)
    print(out if out else "no JDK found and no prebuilt jar", file=sys.stderr)
    sys.exit(0 if out else 1)
