"""Rebuild the package's JVM jar from its Java source.

Usage: python tools/build_jvm.py

Compiles every ``*.java`` next to ``session.LOCAL_FS_JAR`` with
``javac --release 17`` against pyspark's ``jars/`` and writes the
classes into that jar. Entries carry a fixed timestamp, so the same
source and ``javac`` give the same jar bytes. The suite compiles the
source again and checks the committed jar's classes against it.
"""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile
import zipfile
from pathlib import Path

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark  # noqa: E402

from real_time_database_monitoring_system_spark.session import LOCAL_FS_JAR  # noqa: E402

JAR = Path(LOCAL_FS_JAR)
_MANIFEST = b"Manifest-Version: 1.0\r\n\r\n"
_EPOCH = (1980, 1, 1, 0, 0, 0)


def compile_classes(out_dir: Path) -> dict[str, bytes]:
    """``javac`` the jar's sources into ``out_dir``; returns each class
    file's bytes by its path inside a jar."""
    jars = Path(pyspark.__file__).parent / "jars"
    subprocess.run(
        ["javac", "--release", "17", "-cp", f"{jars}/*", "-d", str(out_dir)]
        + sorted(str(p) for p in JAR.parent.glob("*.java")),
        check=True,
    )
    return {
        p.relative_to(out_dir).as_posix(): p.read_bytes()
        for p in sorted(out_dir.rglob("*.class"))
    }


def jar_classes(jar: Path = JAR) -> dict[str, bytes]:
    """Class file bytes by path, as stored in ``jar``."""
    with zipfile.ZipFile(jar) as z:
        return {n: z.read(n) for n in z.namelist() if n.endswith(".class")}


def main() -> int:
    with tempfile.TemporaryDirectory() as tmp:
        classes = compile_classes(Path(tmp))
    with zipfile.ZipFile(JAR, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr(zipfile.ZipInfo("META-INF/MANIFEST.MF", _EPOCH), _MANIFEST)
        for name, data in classes.items():
            z.writestr(zipfile.ZipInfo(name, _EPOCH), data, zipfile.ZIP_DEFLATED)
    print(f"{JAR}: {', '.join(classes)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
