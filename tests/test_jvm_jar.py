"""The committed jar must match the Java sources. ensure_bgzf_jar rebuilds
a stale jar only where javac exists, so a source edit committed without
its rebuilt jar passes where a JDK is installed and fails everywhere
else."""

from __future__ import annotations

import os
import re
import shutil
import subprocess
import time
import zipfile

import pytest

import exon_spark.jvm as jvm
from exon_spark.jvm import _JAR, _SRC_DIR


def _top_level_classes(path: str) -> list[str]:
    text = open(path, encoding="utf-8").read()
    package = re.search(r"^package\s+([\w.]+);", text, re.M).group(1)
    names = re.findall(
        r"^(?:public\s+)?(?:final\s+|abstract\s+)*(?:class|interface|enum)\s+(\w+)",
        text,
        re.M,
    )
    return [f"{package.replace('.', '/')}/{n}.class" for n in names]


def test_committed_jar_holds_every_source_class():
    expected = [
        cls
        for root, _dirs, files in os.walk(_SRC_DIR)
        for f in sorted(files)
        if f.endswith(".java")
        for cls in _top_level_classes(os.path.join(root, f))
    ]
    assert len(expected) >= 4
    with zipfile.ZipFile(_JAR) as jar:
        have = set(jar.namelist())
    assert [c for c in expected if c not in have] == []


def test_committed_jar_digest_matches_sources():
    """Catches a source edited without a rebuild, which the class-name
    check above misses."""
    assert jvm.jar_digest() == jvm.sources_digest()


@pytest.fixture()
def jvm_copy(tmp_path, monkeypatch):
    """ensure_bgzf_jar pointed at a copy of the jar and sources, with every
    build step recorded instead of run."""
    src = tmp_path / "java"
    shutil.copytree(_SRC_DIR, src)
    shutil.copy2(_JAR, tmp_path / "bgzf-codec.jar")
    monkeypatch.setattr(jvm, "_JVM_DIR", str(tmp_path))
    monkeypatch.setattr(jvm, "_SRC_DIR", str(src))
    monkeypatch.setattr(jvm, "_JAR", str(tmp_path / "bgzf-codec.jar"))
    tools = tmp_path / "bin"
    tools.mkdir()
    for tool in ("javac", "jar"):
        (tools / tool).touch()
    monkeypatch.setattr(jvm.shutil, "which", lambda name: str(tools / name))
    monkeypatch.setattr(jvm, "_compile_classpath", lambda: "cp")
    calls: list[list[str]] = []

    def fake_run(cmd, **_kw):
        calls.append(cmd)
        raise subprocess.CalledProcessError(1, cmd)

    monkeypatch.setattr(jvm.subprocess, "run", fake_run)
    return src, calls


def test_newer_source_mtimes_do_not_rebuild(jvm_copy):
    src, calls = jvm_copy
    later = time.time() + 3600
    for root, _dirs, files in os.walk(src):
        for f in files:
            os.utime(os.path.join(root, f), (later, later))
    assert jvm.ensure_bgzf_jar() == jvm._JAR
    assert calls == []


def test_edited_source_rebuilds(jvm_copy):
    src, calls = jvm_copy
    java = next(
        os.path.join(root, f)
        for root, _dirs, files in os.walk(src)
        for f in files
        if f.endswith(".java")
    )
    with open(java, "a", encoding="utf-8") as fh:
        fh.write("\n// edited\n")
    # the (faked) javac fails, so the existing jar is kept
    assert jvm.ensure_bgzf_jar() == jvm._JAR
    assert [os.path.basename(c[0]) for c in calls] == ["javac"]
