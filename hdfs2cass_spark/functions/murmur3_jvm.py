"""Cassandra Murmur3 token as a JVM function.

The token runs in the JVM as a Java ``UDF1<byte[], Long>``
(java/CassandraMurmur3.java), so the bulk path never sends row data to
Python. Only the source is shipped: the first use compiles it with ``javac``
against Spark's own ``spark-sql-api`` jar and caches the jar, named by the
source's sha256, in a per-user directory under the temp dir, so later sessions
and processes reuse it. ``ADD JAR`` loads the jar's classes into the driver and
every executor, so a cached jar is trusted only when this user owns it and its
directory and neither can be written by group or others; otherwise it is
rebuilt. ``functions/murmur3.py`` stays the readable spec the tests compare
against.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import stat
import subprocess
import tempfile
import zipfile
from pathlib import Path

SOURCE = Path(__file__).with_name("java") / "CassandraMurmur3.java"
CLASS_NAME = "hdfs2cass_spark.functions.CassandraMurmur3"
FUNCTION_NAME = "cassandra_murmur3_token"


def _private(path: Path, is_type) -> bool:
    """True when `path` itself (a symlink is not followed) passes `is_type`,
    is owned by this user, and cannot be written by group or others."""
    try:
        st = os.lstat(path)
    except FileNotFoundError:
        return False
    return is_type(st.st_mode) and st.st_uid == os.getuid() and not st.st_mode & 0o022


def _cache_dir(cache_dir: str | None) -> Path:
    """The jar cache: `cache_dir`, by default ``<tempdir>/hdfs2cass-<uid>``
    (created 0700). When it is not private to this user, a fresh private temp
    dir is used instead, so nothing another user could have planted is loaded."""
    d = Path(cache_dir or Path(tempfile.gettempdir(), f"hdfs2cass-{os.getuid()}"))
    try:
        d.mkdir(mode=0o700, parents=True, exist_ok=True)
    except FileExistsError:  # a non-directory squats the name
        pass
    return d if _private(d, stat.S_ISDIR) else Path(tempfile.mkdtemp(prefix="hdfs2cass-"))


def build_jar(cache_dir: str | None = None) -> Path:
    """Compile the token UDF into a jar once per source version; returns its
    path (see `_cache_dir` for where it lives)."""
    digest = hashlib.sha256(SOURCE.read_bytes()).hexdigest()[:16]
    jar = _cache_dir(cache_dir) / f"hdfs2cass-murmur3-{digest}.jar"
    if _private(jar, stat.S_ISREG):
        return jar
    javac = shutil.which("javac")
    if javac is None:
        raise RuntimeError(
            "the Cassandra Murmur3 token is a Java UDF compiled at first use: "
            "no `javac` on PATH (install a JDK 17 or newer)"
        )
    from pyspark.find_spark_home import _find_spark_home

    jars = Path(_find_spark_home(), "jars")
    api = sorted(jars.glob("spark-sql-api_*.jar"))
    if not api:
        raise RuntimeError(f"no spark-sql-api jar under {jars} to compile against")
    with tempfile.TemporaryDirectory(dir=jar.parent) as out:
        proc = subprocess.run(
            [javac, "--release", "17", "-cp", str(api[0]), "-d", out, str(SOURCE)],
            capture_output=True,
            text=True,
        )
        if proc.returncode != 0:
            raise RuntimeError(f"javac failed on {SOURCE}:\n{proc.stderr}")
        part = Path(out) / "part.jar"
        with zipfile.ZipFile(part, "w") as zf:
            for cls in Path(out).rglob("*.class"):
                zf.write(cls, cls.relative_to(out).as_posix())
        os.chmod(part, 0o644)
        # atomic: a concurrent builder either finds the whole jar or none
        os.replace(part, jar)
    return jar


def register_token_function(spark) -> str:
    """Register the token UDF on `spark` unless it already is; returns its SQL
    name. Works on any live session, including one built elsewhere or a new
    one after ``spark.stop()``."""
    if not spark.catalog.functionExists(FUNCTION_NAME):
        from pyspark.sql.types import LongType

        spark.sql(f"ADD JAR '{build_jar().as_posix()}'")
        spark.udf.registerJavaFunction(FUNCTION_NAME, CLASS_NAME, LongType())
    return FUNCTION_NAME
