"""JVM helper artifacts (compiled once, cached, committed).

`bgzf-codec.jar` holds the classes under java/:

- exonspark.hadoop.BgzfCodec — a splittable Hadoop compression codec for
  BGZF (suffix ".bgz") that lets spark.read.text/csv fan a multi-GB
  bgzipped file that has no index out across executors with zero Python
  in the data path;
- exonspark.spark.VcfBgzfSource, exonspark.spark.BamBgzfSource and
  exonspark.spark.BgzfLineSource — the DataSourceV2 readers of local
  indexed VCF reads, of local BAM reads, and of the lines of local
  tabix-indexed GFF/GTF/BED text. All three read planned BGZF
  virtual-offset ranges in one "scope@beg:end;..." spec
  (VcfBgzfSource.parsePartitions, written by
  exon_spark.sources.jvm_fast.read_dsv2);
- exonspark.spark.FastqSource — the DataSourceV2 reader of local FASTQ
  files (plain, gzip/BGZF, zstd), one partition per file;
- exonspark.spark.FastaSource — the DataSourceV2 reader of local FASTA
  files over planned byte ranges, opening files with FastqSource.open;
- exonspark.spark.LineInput — the buffered line framing and the UTF-8
  check that FastqSource and FastaSource share;
- exonspark.spark.CoordPredicates — the predicates VcfBgzfSource and
  BamBgzfSource consume at scan time (SupportsPushDownV2Filters);
- exonspark.spark.DriverCalls — the driver's one-round-trip entry points
  (driver_call): loading a DataSourceV2 reader with its specs
  (read_dsv2, read_fasta_dsv2) and binding a region statement's tables to their
  region-bound frames (ExonSession.sql).

The jar is committed so all of these work without a JDK. It carries a
SHA-256 digest of the Java sources as the entry SOURCES_ENTRY; when javac is
available and the sources' digest differs from the jar's, ensure_bgzf_jar()
rebuilds it. Staleness is keyed on content, not mtimes: a fresh clone
writes the jar and the sources in any order. tests/test_jvm_jar.py checks
that the committed jar holds a class for every source file and the digest
of the committed sources.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import subprocess
import zipfile

_JVM_DIR = os.path.dirname(os.path.abspath(__file__))
_SRC_DIR = os.path.join(_JVM_DIR, "java")
_JAR = os.path.join(_JVM_DIR, "bgzf-codec.jar")

BGZF_CODEC_CLASS = "exonspark.hadoop.BgzfCodec"
VCF_DSV2_CLASS = "exonspark.spark.VcfBgzfSource"
BAM_DSV2_CLASS = "exonspark.spark.BamBgzfSource"
LINES_DSV2_CLASS = "exonspark.spark.BgzfLineSource"
FASTQ_DSV2_CLASS = "exonspark.spark.FastqSource"
SOURCES_ENTRY = "META-INF/exonspark-sources.sha256"


def codec_active(spark) -> bool:
    """True when the session carries the jar: get_spark puts it on the
    classpath together with the BGZF codec conf, so the codec conf marks a
    session that has the codec and the DataSourceV2 readers. A jar cannot
    join a running JVM's classpath, so the conf is read once per
    SparkSession object (``spark._exon_codec_active``)."""
    active = getattr(spark, "_exon_codec_active", None)
    if active is None:
        active = BGZF_CODEC_CLASS in (
            spark.conf.get("spark.hadoop.io.compression.codecs", "") or ""
        )
        spark._exon_codec_active = active  # type: ignore[attr-defined]
    return active


# the static members of DriverCalls, per py4j gateway client
_DRIVER_CALLS: dict = {}


def driver_call(spark, name: str):
    """The static method ``name`` of ``exonspark.spark.DriverCalls`` as a
    py4j member. The member is resolved once per gateway, so each call
    is one round trip."""
    client = spark.sparkContext._gateway._gateway_client
    members = _DRIVER_CALLS.setdefault(client, {})
    if name not in members:
        members[name] = getattr(spark._jvm.exonspark.spark.DriverCalls, name)
    return members[name]


def _compile_classpath() -> str | None:
    """Hadoop (codec/FS interfaces) + Spark catalyst/sql/sql-api/unsafe/
    common-utils and the Scala runtime (DataSourceV2 interfaces,
    InternalRow, UTF8String, the classic session and its parser), and
    zstd-jni (the FASTQ reader's zstd input)."""
    import pyspark

    jars = os.path.join(os.path.dirname(pyspark.__file__), "jars")
    prefixes = (
        "hadoop-client-api",
        "spark-catalyst_",
        "spark-sql-api_",
        "spark-sql_",
        "spark-unsafe_",
        "spark-common-utils_",  # Logging, which the classic SparkSession extends
        "scala-library-",
        "kryo-shaded-",  # UTF8String implements KryoSerializable
        "zstd-jni-",
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


def _java_sources() -> list[str]:
    return sorted(
        os.path.join(root, f)
        for root, _dirs, files in os.walk(_SRC_DIR)
        for f in files
        if f.endswith(".java")
    )


def sources_digest() -> str:
    """SHA-256 over every Java source's path (relative to java/) and bytes."""
    h = hashlib.sha256()
    for f in _java_sources():
        h.update(os.path.relpath(f, _SRC_DIR).replace(os.sep, "/").encode())
        h.update(b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
        h.update(b"\0")
    return h.hexdigest()


def jar_digest() -> str | None:
    """The sources digest stored in the jar, or None if it has none."""
    try:
        with zipfile.ZipFile(_JAR) as jar:
            return jar.read(SOURCES_ENTRY).decode().strip()
    except (OSError, KeyError, zipfile.BadZipFile):
        return None


def ensure_bgzf_jar() -> str | None:
    """Path to the codec jar, rebuilding from source when possible and
    stale. Returns None only if the jar is absent AND cannot be built."""
    have_jar = os.path.exists(_JAR)
    srcs = _java_sources()
    digest = sources_digest()
    if have_jar and (not srcs or jar_digest() == digest):
        return _JAR
    javac = shutil.which("javac")
    jar = shutil.which("jar") or os.path.join(
        os.environ.get("JAVA_HOME", ""), "bin", "jar"
    )
    cp = _compile_classpath()
    if not (javac and os.path.exists(jar) and cp and srcs):
        return _JAR if have_jar else None
    build = os.path.join(_JVM_DIR, "build")
    shutil.rmtree(build, ignore_errors=True)
    os.makedirs(os.path.join(build, os.path.dirname(SOURCES_ENTRY)))
    with open(os.path.join(build, SOURCES_ENTRY), "w") as fh:
        fh.write(digest + "\n")
    # written beside the jar, then renamed over it: a JVM that has the old
    # jar open keeps reading the old file
    tmp = _JAR + ".tmp"
    try:
        subprocess.run(
            [javac, "-encoding", "UTF-8", "-cp", cp, "-d", build, *srcs],
            check=True,
            capture_output=True,
        )
        subprocess.run(
            [jar, "cf", tmp, "-C", build, "."], check=True, capture_output=True
        )
        os.replace(tmp, _JAR)
    except (subprocess.CalledProcessError, OSError):
        return _JAR if have_jar else None
    return _JAR
