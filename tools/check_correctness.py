"""Local replica of the driver's correctness gate: run every query's Spark
implementation AND its DuckDB oracle at a given scale factor, compare row
count, column names and (order-insensitive) values.

Usage: python tools/check_correctness.py [--sf /root/testdata/sf0.01] [names...]
"""

from __future__ import annotations

import argparse
import math
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import duckdb
import pandas as pd


def normalize(df: pd.DataFrame) -> list[tuple]:
    df = df[sorted(df.columns)]

    def norm_val(v):
        if isinstance(v, float):
            if math.isnan(v):
                return "NaN"
            # Tag floats so 38.0 (a DuckDB HUGEINT sum widened to float64 in
            # pandas) does NOT compare equal to Spark's bigint 38 — the
            # driver's value-hasher is dtype-sensitive and flags exactly this
            # drift (q32 was red at the driver for two rounds while == -based
            # local comparison stayed green). Local red must predict driver
            # red.
            return ("f", round(v, 6))
        if isinstance(v, (list, tuple)):
            return tuple(norm_val(x) for x in v)
        if hasattr(v, "tolist"):  # numpy arrays from duckdb/spark
            return tuple(norm_val(x) for x in v.tolist())
        if isinstance(v, dict):
            return tuple(sorted((k, norm_val(x)) for k, x in v.items()))
        return v

    rows = [tuple(norm_val(v) for v in row) for row in df.itertuples(index=False, name=None)]
    return sorted(rows, key=repr)


# ---------------------------------------------------------------------------
# Big-oracle mode (r11, VERDICT r10 order 1): alternative oracle
# implementations for the queries whose plain-SQL oracles are intractable in
# DuckDB at sf10 (the r10 skips). Each is EXACT, not approximate — a
# different algorithm for the same definition — and is cross-checked against
# the plain SQL oracle at small SF by test_big_oracles_match_sql_oracles.
# ---------------------------------------------------------------------------


def _minhash_pairs_big(
    con: "duckdb.DuckDBPyConnection",
    cand_where: str,
    shards: int = 8,
    doc_shards: int = 8,
) -> None:
    """Staged spelling of the minhash-LSH + jaccard-verify pair pipeline
    (_MINHASH_PAIRS_CTES) for corpora where the monolithic CTE dies: at
    sf100 (5M docs, 250M shingle positions) DuckDB re-materialized the
    string-keyed shingle stream for each of its four consumers and
    spilled >66 GB into the temp dir before filling the disk (r12).
    Identical results, staged:

    1. the shingle stream spills to temp parquet in ``doc_shards``
       passes (per-pass distinct/unnest state is 1/doc_shards of the
       corpus — the single-pass spelling spilled >70 GB in the DISTINCT
       alone and filled the disk) as (doc_id, h1, h2): the two ubigint
       halves of md5(shingle), the repo's exact-dedup convention (q17
       groups by md5(text)) in 16 fixed bytes instead of the ~45-byte
       string, identical sets absent an md5 collision between distinct
       5-gram shingles. The minhash h32 is the high half of h1 (first 8
       hex chars), bit-identical to the plain oracle's
       ``('0x' || substr(md5(s),1,8))::bigint``;
    2. signatures/bands/candidates run over that parquet (one streaming
       group-by to 1 row per doc — small from here on);
    3. the candidate verify counts common shingles per pair in
       ``shards`` disjoint slices of the md5-hash universe — n_common
       is a sum over slices, so the per-pass join state is 1/shards of
       a corpus-wide hash table, and only shingles of docs that appear
       in some candidate pair enter it at all.

    Leaves temp tables ``big_cand`` (cand_where applied; columns
    doc_a/doc_b) and ``big_pairs`` (doc_a, doc_b, jaccard >= 0.5).
    Equality with the plain SQL oracle is pinned at sf0.001/sf0.01 by
    tests/test_big_oracles.py."""
    import os
    import shutil
    import tempfile

    from exon_spark.queries.pipeline import _BAND_SELECTS, _MIN_COLS

    con.execute("set preserve_insertion_order=false")
    tmp = tempfile.mkdtemp(prefix="mh_oracle_")
    gdir = os.path.join(tmp, "sh")
    os.mkdir(gdir)
    gpath = os.path.join(gdir, "*.parquet")
    try:
        for ds in range(doc_shards):
            con.execute(
                f"""copy (
with tok as (
  select doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') as toks
  from documents where doc_id % {doc_shards} = {ds}
)
select distinct doc_id,
       ('0x' || substr(md5(s), 1, 16))::ubigint as h1,
       ('0x' || substr(md5(s), 17, 16))::ubigint as h2
from tok,
     unnest(list_transform(range(1, greatest(len(toks) - 4, 0) + 1),
            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
                 toks[i+3] || ' ' || toks[i+4])) as t(s)
where s <> ''
) to '{gdir}/{ds}.parquet' (format parquet)"""
            )
        h32 = "cast(h1 >> 32 as bigint)"
        # sig and bands MUST be materialized temp tables, not CTEs:
        # _BAND_SELECTS reads `sig` four times (one branch per band), and
        # DuckDB re-executes an inlined CTE per consumer — four
        # concurrent 250M-row group-bys spilled ~65 GB and filled the
        # disk at sf100 (r12); as a 5M-row table the whole phase is
        # seconds.
        con.execute(
            f"""create or replace temp table big_sig as
select doc_id, {_MIN_COLS.replace('* h +', f'* {h32} +')}
from '{gpath}' group by doc_id"""
        )
        con.execute(
            "create or replace temp table big_bands as "
            + _BAND_SELECTS.replace("from sig", "from big_sig")
        )
        con.execute(
            f"""create or replace temp table big_cand as
select distinct a.doc_id as doc_a, b.doc_id as doc_b
from big_bands a join big_bands b
  on a.band_id = b.band_id and a.sig = b.sig
where {cand_where}"""
        )
        # only candidate docs' shingles enter the verify joins
        con.execute(
            "create or replace temp table big_cdocs as "
            "select doc_a as doc_id from big_cand "
            "union select doc_b from big_cand"
        )
        con.execute(
            "create or replace temp table big_common "
            "(doc_a bigint, doc_b bigint, n_common bigint)"
        )
        for s in range(shards):
            con.execute(
                f"""insert into big_common
with shs as (
  select g.doc_id, g.h1, g.h2 from '{gpath}' g
  join big_cdocs d using (doc_id)
  where hash(g.h1, g.h2) % {shards} = {s}
)
select c.doc_a, c.doc_b, count(*) as n_common
from big_cand c
join shs x on x.doc_id = c.doc_a
join shs y on y.doc_id = c.doc_b and y.h1 = x.h1 and y.h2 = x.h2
group by c.doc_a, c.doc_b"""
            )
        con.execute(
            f"""create or replace temp table big_pairs as
with cm as (
  select doc_a, doc_b, sum(n_common) as n_common
  from big_common group by doc_a, doc_b
),
cnt as (select doc_id, count(*) as n_sh from '{gpath}' group by doc_id)
select doc_a, doc_b,
       round(cast(n_common as double) / (x.n_sh + y.n_sh - n_common), 6)
         as jaccard
from cm join cnt x on doc_a = x.doc_id join cnt y on doc_b = y.doc_id
where round(cast(n_common as double) / (x.n_sh + y.n_sh - n_common), 6)
      >= 0.5"""
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _q31_big_oracle(con: "duckdb.DuckDBPyConnection", sf_dir: str) -> pd.DataFrame:
    """Connected components via driver-side union-find over the DuckDB
    pair list, replacing the recursive-CTE transitive closure (which
    builds O(n*m) reach rows and spilled >60 GB at 500k docs). The pair
    extraction (minhash LSH + jaccard verify) runs via the staged
    _minhash_pairs_big pipeline (sf100-tractable; r12); the closure is
    a 20-line union-find over the dup pairs — bounded by the dup RATE,
    not the corpus."""
    _minhash_pairs_big(con, "a.doc_id < b.doc_id")
    pairs = con.execute("select doc_a, doc_b from big_pairs").fetchall()
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)  # min-root union
    comp_min: dict[int, int] = {}
    for x in parent:
        r = find(x)
        comp_min[r] = min(comp_min.get(r, x), x)
    rows = sorted((x, comp_min[find(x)]) for x in parent)
    return pd.DataFrame(rows, columns=["doc_id", "cluster_id"])


def _q37_big_oracle(
    con: "duckdb.DuckDBPyConnection",
    sf_dir: str,
    shards: int = 16,
    doc_shards: int = 8,
) -> pd.DataFrame:
    """Double-sharded spelling of the q37 oracle: the all-ngram index
    (dupg: group EVERY 8-gram of the corpus) OOMed DuckDB at 500k docs,
    and so did the monolithic final assembly (otok + string_agg
    reassembles every document's text in one query). Phase 1
    hash-partitions the GRAM universe into ``shards`` disjoint slices —
    the dup-window extraction is a pure per-gram function, so per-shard
    results union to exactly the unsharded ``dup`` CTE; the gram stream
    is spilled to a temp parquet once so each shard pass is a
    scan+filter, not a re-tokenization. Phase 2 partitions the FINAL
    per-doc assembly by doc_id — per-doc rows depend only on the shared
    (small) dup table, so doc shards concatenate to the exact result."""
    import os
    import tempfile

    from exon_spark.queries.pipeline import _BOILERPLATE, _Q37_GRAM

    # bound DuckDB so big intermediates spill instead of malloc-failing
    # (the sf10 box also carries a 24g Spark JVM); session-level, sticky
    con.execute("set preserve_insertion_order=false")
    con.execute(f"set temp_directory='{tempfile.gettempdir()}/duckdb_q37_spill'")
    con.execute("set memory_limit='48GB'")

    base = f"""planted as (
  select doc_id,
         case when doc_id % 7 = 2 then text || ' {_BOILERPLATE}'
              else text end as text
  from documents
),
tok as (
  select doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') as toks
  from planted
)"""
    gram_expr = _Q37_GRAM.replace("toks[i+0]", "toks[i]")
    tmp = tempfile.mkdtemp(prefix="q37_oracle_")
    gpath = os.path.join(tmp, "g.parquet")
    try:
        con.execute(
            f"""copy (
  with {base}
  select doc_id, i as pos, {gram_expr} as gram
  from tok, unnest(range(1, greatest(len(toks) - 7, 0) + 1)) as t(i)
) to '{gpath}' (format parquet)"""
        )
        con.execute(
            "create or replace temp table q37_dup "
            "(doc_id bigint, pos bigint, keep_doc bigint)"
        )
        for s in range(shards):
            con.execute(
                f"""insert into q37_dup
with gs as (
  select * from '{gpath}' where hash(gram) % {shards} = {s}
),
dupg as (
  select gram, min(doc_id) as keep_doc
  from gs group by gram having count(distinct doc_id) >= 2
)
select gs.doc_id, gs.pos, d.keep_doc from gs join dupg d using (gram)"""
            )
        parts = []
        for ds in range(doc_shards):
            parts.append(
                con.execute(
                    f"""with {base},
dup as (select * from q37_dup where doc_id % {doc_shards} = {ds}),
docs_s as (select * from tok where doc_id % {doc_shards} = {ds}),
cov as (
  select doc_id, count(*) as covered_tokens from (
    select distinct doc_id, pos + k as p
    from dup, unnest(range(0, 8)) as u(k)
  ) group by doc_id
),
wins as (select doc_id, count(*) as n_dup_ngrams from dup group by doc_id),
rem as (
  select distinct doc_id, pos + k as p
  from dup, unnest(range(0, 8)) as u(k)
  where doc_id != keep_doc
),
otok as (
  select doc_id,
         unnest(range(1, len(arr) + 1)) as tokpos,
         unnest(arr) as tok
  from (select doc_id, regexp_split_to_array(trim(text), '\\s+') as arr
        from planted where doc_id % {doc_shards} = {ds})
),
red as (
  select o.doc_id, string_agg(o.tok, ' ' order by o.tokpos) as text,
         count(*) as n_kept
  from otok o left join rem r on o.doc_id = r.doc_id and o.tokpos = r.p
  where r.doc_id is null
  group by o.doc_id
),
nt as (select doc_id, cast(len(toks) as int) as n_toks from docs_s)
select nt.doc_id, nt.n_toks,
       coalesce(w.n_dup_ngrams, 0) as n_dup_ngrams,
       coalesce(c.covered_tokens, 0) as covered_tokens,
       round(cast(coalesce(c.covered_tokens, 0) as double)
             / greatest(nt.n_toks, 1), 6) as covered_frac,
       coalesce(red.text, '') as text,
       cast(nt.n_toks - coalesce(red.n_kept, 0) as int) as n_removed
from nt
left join cov c on nt.doc_id = c.doc_id
left join wins w on nt.doc_id = w.doc_id
left join red on nt.doc_id = red.doc_id"""
                ).df()
            )
        out = pd.concat(parts, ignore_index=True)
    finally:
        try:
            os.unlink(gpath)
            os.rmdir(tmp)
        except OSError:
            pass
    return out


def _q40_big_oracle(con: "duckdb.DuckDBPyConnection", sf_dir: str) -> pd.DataFrame:
    """q40 via the staged minhash-pair pipeline (r12): the plain oracle
    re-materializes the string-keyed shingle CTE four times and is the
    same sf100 disk-death class as q31's. The new-batch-vs-index
    candidate filter rides the shared _minhash_pairs_big core; the
    fused prefix column keeps the r11 group-by + left-join re-spell
    (one pass over documents, trivial at any gated SF)."""
    _minhash_pairs_big(con, "a.doc_id % 3 = 0 and b.doc_id % 3 <> 0")
    return con.execute(
        """
with newpre as (
  select doc_id,
         array_to_string(regexp_split_to_array(lower(trim(text)),'\\s+')[1:5],' ') as pre
  from documents where doc_id % 3 = 0
),
idxmin as (
  select array_to_string(regexp_split_to_array(lower(trim(text)),'\\s+')[1:5],' ') as pre,
         min(doc_id) as prefix_dup_of
  from documents where doc_id % 3 <> 0
  group by pre
)
select p.doc_a as doc_id, p.doc_b as dup_of, p.jaccard, i.prefix_dup_of
from big_pairs p
left join newpre np on np.doc_id = p.doc_a
left join idxmin i on i.pre = np.pre
"""
    ).df()


BIG_ORACLES = {
    "q31_dedup_clusters": _q31_big_oracle,
    "q37_dup_ngram_coverage": _q37_big_oracle,
    "q40_dedup_incremental": _q40_big_oracle,
}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--big-oracle",
        action="store_true",
        help="use the sf10-tractable alternative oracles where one exists",
    )
    ap.add_argument(
        "--duck-mem",
        default=None,
        help="cap DuckDB memory (e.g. 48GB) and route spills to a temp dir "
        "— required for sf100-class oracle runs that would otherwise "
        "malloc-fail next to the Spark JVM",
    )
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    from exon_spark import get_spark
    from exon_spark.operators.state import broadcast_scope
    from exon_spark.queries import ALL_QUERIES, TABLES

    spark = get_spark(app_name="check-correctness")
    con = duckdb.connect()
    if args.duck_mem:
        import tempfile

        con.execute("set preserve_insertion_order=false")
        con.execute(
            f"set temp_directory='{tempfile.gettempdir()}/duckdb_gate_spill'"
        )
        con.execute(f"set memory_limit='{args.duck_mem}'")
    for t in TABLES:
        try:
            con.execute(
                f"create or replace view {t} as select * from '{args.sf}/{t}.parquet'"
            )
        except duckdb.Error:
            # partial replicas (sf100 keeps only documents/embeddings/
            # events + dims for disk) — queries over missing tables will
            # fail individually with a clear message
            print(f"# view {t}: missing at {args.sf}, skipped", file=sys.stderr)

    names = args.names or list(ALL_QUERIES)
    failures = 0
    for name in names:
        spec = ALL_QUERIES[name]
        try:
            # the query's persisted shared frames are released after it
            with broadcast_scope():
                sdf = spec.spark_fn(spark, args.sf).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failures += 1
            continue
        if spec.oracle is None:
            print(f"rows  {name}: {len(sdf)} rows (no oracle — rows-only)")
            continue
        try:
            if args.big_oracle and name in BIG_ORACLES:
                odf = BIG_ORACLES[name](con, args.sf)
            else:
                odf = con.execute(spec.oracle).df()
        except Exception as e:
            print(f"FAIL  {name}: oracle error: {e}")
            failures += 1
            continue
        if len(sdf) != len(odf):
            print(f"FAIL  {name}: row count {len(sdf)} vs oracle {len(odf)}")
            failures += 1
            continue
        if sorted(sdf.columns) != sorted(odf.columns):
            print(
                f"FAIL  {name}: columns {sorted(sdf.columns)} vs {sorted(odf.columns)}"
            )
            failures += 1
            continue
        a, b = normalize(sdf), normalize(odf)
        if a != b:
            bad = next(i for i, (x, y) in enumerate(zip(a, b)) if x != y)
            print(f"FAIL  {name}: value mismatch at sorted-row {bad}:")
            print(f"      spark : {a[bad]}")
            print(f"      oracle: {b[bad]}")
            failures += 1
            continue
        print(f"OK    {name}: {len(sdf)} rows")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
