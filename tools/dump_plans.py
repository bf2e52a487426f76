"""Dump .explain("formatted") for declared queries to files.

Usage: python tools/dump_plans.py OUTDIR SUFFIX [names...]

Writes OUTDIR/<name>_<SUFFIX>.txt for each query name (default: every
gate query in ``exon_spark.queries.ALL_QUERIES``). Each query plans in
its own ``broadcast_scope``, so the frames one query persists do not
reshape the next one's plan. Expression ids (``#123``) and plan ids
(``plan_id=45``) are stripped: they count up over a session, so two
revisions' dumps then diff clean. The script plans with the
exon_spark of the checkout it sits in, so compare two revisions by
running each checkout's copy (copy it into an older checkout that lacks
it), e.g.

    python ../parent/tools/dump_plans.py /tmp/plans before
    python tools/dump_plans.py /tmp/plans after
    for f in /tmp/plans/*_before.txt; do
        diff -q "$f" "${f%_before.txt}_after.txt"; done

The corpus directory is ``$SPARK_GRAFT_SF_DIR`` (default: the sf0.01
test data).
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

_SESSION_IDS = [(re.compile(r"#\d+"), ""), (re.compile(r"plan_id=\d+"), "plan_id=")]


def strip_ids(plan: str) -> str:
    """``plan`` without the session-counted expression and plan ids."""
    for pat, repl in _SESSION_IDS:
        plan = pat.sub(repl, plan)
    return plan


def main() -> None:
    outdir = Path(sys.argv[1])
    suffix = sys.argv[2]
    outdir.mkdir(parents=True, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

    from exon_spark import get_spark
    from exon_spark.operators.state import broadcast_scope
    from exon_spark.queries import ALL_QUERIES

    names = sys.argv[3:] or list(ALL_QUERIES)
    spark = get_spark(app_name="dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        buf = io.StringIO()
        with broadcast_scope():
            df = ALL_QUERIES[name].spark_fn(spark, sf_dir)
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
        plan = strip_ids(buf.getvalue())
        (outdir / f"{name}_{suffix}.txt").write_text(plan)
        print(f"wrote {name}_{suffix}.txt ({plan.count('Exchange')} Exchange refs)")
    spark.stop()


if __name__ == "__main__":
    main()
