"""JVM helper artifacts (compiled once, cached, committed).

`bgzf-codec.jar` holds the classes under java/:

- exonspark.hadoop.BgzfCodec — a splittable Hadoop compression codec for
  BGZF (suffix ".bgz") that lets spark.read.text/csv fan a multi-GB
  bgzipped file out across executors with zero Python in the data path;
- exonspark.hadoop.ExonCatFileSystem — the exoncat:// virtual views of
  index-pruned BGZF blocks (GFF region scans);
- exonspark.spark.VcfBgzfSource and exonspark.spark.BamBgzfSource — the
  DataSourceV2 readers of indexed VCF region scans and of local BAM reads.

The jar is committed so all of these work without a JDK; when javac is
available and a source is newer than the jar, ensure_bgzf_jar() rebuilds
it. tests/test_jvm_jar.py checks that the committed jar holds a class for
every source file.
"""

from __future__ import annotations

import os
import shutil
import subprocess

_JVM_DIR = os.path.dirname(os.path.abspath(__file__))
_SRC_DIR = os.path.join(_JVM_DIR, "java")
_JAR = os.path.join(_JVM_DIR, "bgzf-codec.jar")

BGZF_CODEC_CLASS = "exonspark.hadoop.BgzfCodec"
EXONCAT_FS_CLASS = "exonspark.hadoop.ExonCatFileSystem"
VCF_DSV2_CLASS = "exonspark.spark.VcfBgzfSource"
BAM_DSV2_CLASS = "exonspark.spark.BamBgzfSource"


def _compile_classpath() -> str | None:
    """Hadoop (codec/FS interfaces) + Spark catalyst/sql-api/unsafe and the
    Scala runtime (DataSourceV2 interfaces, InternalRow, UTF8String)."""
    import pyspark

    jars = os.path.join(os.path.dirname(pyspark.__file__), "jars")
    prefixes = (
        "hadoop-client-api",
        "spark-catalyst_",
        "spark-sql-api_",
        "spark-sql_",
        "spark-unsafe_",
        "scala-library-",
        "kryo-shaded-",  # UTF8String implements KryoSerializable
    )
    found: list[str] = []
    try:
        for fn in sorted(os.listdir(jars)):
            if fn.endswith(".jar") and fn.startswith(prefixes):
                found.append(os.path.join(jars, fn))
    except OSError:
        return None
    # the hadoop jar alone was the historical minimum; require it at least
    if not any("hadoop-client-api" in f for f in found):
        return None
    return os.pathsep.join(found)


def ensure_bgzf_jar() -> str | None:
    """Path to the codec jar, rebuilding from source when possible and
    stale. Returns None only if the jar is absent AND cannot be built."""
    have_jar = os.path.exists(_JAR)
    srcs = sorted(
        os.path.join(root, f)
        for root, _dirs, files in os.walk(_SRC_DIR)
        for f in files
        if f.endswith(".java")
    )
    src_newer = bool(srcs) and (
        not have_jar
        or max(os.path.getmtime(f) for f in srcs) > os.path.getmtime(_JAR)
    )
    if have_jar and not src_newer:
        return _JAR
    javac = shutil.which("javac")
    jar = shutil.which("jar") or os.path.join(
        os.environ.get("JAVA_HOME", ""), "bin", "jar"
    )
    cp = _compile_classpath()
    if not (javac and os.path.exists(jar) and cp and srcs):
        return _JAR if have_jar else None
    build = os.path.join(_JVM_DIR, "build")
    os.makedirs(build, exist_ok=True)
    try:
        subprocess.run(
            [javac, "-encoding", "UTF-8", "-cp", cp, "-d", build, *srcs],
            check=True,
            capture_output=True,
        )
        subprocess.run(
            [jar, "cf", _JAR, "-C", build, "."], check=True, capture_output=True
        )
    except (subprocess.CalledProcessError, OSError):
        return _JAR if have_jar else None
    return _JAR
