"""The committed jar must match the Java sources. ensure_bgzf_jar rebuilds
a stale jar only where javac exists, so a source edit committed without
its rebuilt jar passes where a JDK is installed and fails everywhere
else."""

from __future__ import annotations

import os
import re
import zipfile

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
