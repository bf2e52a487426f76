"""LLM-data-pipeline queries (beyond-parity layer): dedup, similarity
search, text analysis, multimodal plumbing — each wired into the driver's
DuckDB-oracle gate where SQL-expressible.

The oracles REGENERATE the minhash/simhash arithmetic from the same
constants as the Spark operators (exon_spark.operators.dedup), so candidate
generation matches bit-for-bit — the LSH stages are deterministic, not
probabilistic, across engines.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from exon_spark.operators import (
    bm25_search,
    cosine_topk,
    decode_media,
    decontaminate,
    dedup_against,
    dup_ngram_coverage,
    embedding_cosine_dups,
    exact_dedup,
    fingerprint,
    ivf_ann_topk,
    lang_id,
    lsh_ann_topk,
    minhash_dedup,
    ngram_jaccard_pairs,
    pii_stats,
    quality_signals,
    simhash,
    simhash_pairs,
    text_profile,
    text_stats,
    with_media_payload,
)
from exon_spark.operators import regime
from exon_spark.operators.dedup import MERSENNE_P, MINHASH_PERMS
from exon_spark.operators.text import LANG_MARKERS, STOPWORDS_EN, _LANG_ORDER
from exon_spark.queries.base import QuerySpec, table

# ---------------------------------------------------------------- exact dedup

def _q17_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(table(spark, sf_dir, "documents"))


Q17_ORACLE = """
select md5(text) as h, min(doc_id) as keep_id, count(*) as n_copies
from documents
group by md5(text)
"""

# ------------------------------------------------------- shared shingle SQL

_SHINGLES_DUCK = """
tok as (
  select doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') as toks
  from documents
),
sh as (
  select distinct doc_id, s as shingle from tok,
  unnest(list_transform(range(1, greatest(len(toks) - 4, 0) + 1),
         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4])) as t(s)
  where s <> ''
)
"""

_JACCARD_TAIL = """
cnt as (select doc_id, count(*) as n_sh from sh group by doc_id),
common as (
  select a.doc_id as doc_a, b.doc_id as doc_b, count(*) as n_common
  from sh a join sh b on a.shingle = b.shingle and a.doc_id < b.doc_id
  group by a.doc_id, b.doc_id
)
"""


def _q18_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(table(spark, sf_dir, "documents"), threshold=0.5)


Q18_ORACLE = f"""
with {_SHINGLES_DUCK}, {_JACCARD_TAIL}
select doc_a, doc_b,
       round(cast(n_common as double) / (x.n_sh + y.n_sh - n_common), 6) as jaccard
from common join cnt x on doc_a = x.doc_id join cnt y on doc_b = y.doc_id
where round(cast(n_common as double) / (x.n_sh + y.n_sh - n_common), 6) >= 0.5
"""

# ------------------------------------------------------------ minhash + LSH

_MIN_COLS = ", ".join(
    f"min(({a} * h + {b}) % {MERSENNE_P}) as m{j}"
    for j, (a, b) in enumerate(MINHASH_PERMS)
)
_BAND_SELECTS = " union all ".join(
    f"select doc_id, {b} as band_id, concat_ws(',', m{4*b}, m{4*b+1}, m{4*b+2}, m{4*b+3}) as sig from sig"
    for b in range(4)
)


def _q19_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_dedup(table(spark, sf_dir, "documents"), threshold=0.5)


_MINHASH_PAIRS_CTES = f"""{_SHINGLES_DUCK},
hh as (
  select doc_id, shingle, ('0x' || substr(md5(shingle), 1, 8))::bigint as h from sh
),
sig as (select doc_id, {_MIN_COLS} from hh group by doc_id),
bands as ({_BAND_SELECTS}),
cand as (
  select distinct a.doc_id as doc_a, b.doc_id as doc_b
  from bands a join bands b
    on a.band_id = b.band_id and a.sig = b.sig and a.doc_id < b.doc_id
),
cnt as (select doc_id, count(*) as n_sh from sh group by doc_id),
common as (
  select c.doc_a, c.doc_b, count(*) as n_common
  from cand c
  join sh a on a.doc_id = c.doc_a
  join sh b on b.doc_id = c.doc_b and b.shingle = a.shingle
  group by c.doc_a, c.doc_b
),
pairs as (
  select doc_a, doc_b,
         round(cast(n_common as double) / (x.n_sh + y.n_sh - n_common), 6) as jaccard
  from common join cnt x on doc_a = x.doc_id join cnt y on doc_b = y.doc_id
  where round(cast(n_common as double) / (x.n_sh + y.n_sh - n_common), 6) >= 0.5
)"""

Q19_ORACLE = f"""
with {_MINHASH_PAIRS_CTES}
select doc_a, doc_b, jaccard from pairs
"""

# ------------------------------------------------------------------- simhash

# 64-bit simhash as two 32-bit halves (lo = md5 hex 1-8, hi = hex 9-16):
# DuckDB's signed BIGINT can't build 1<<63, so each half's fingerprint is a
# non-negative 32-bit value and hamming = popcount(lo XOR lo') +
# popcount(hi XOR hi') — bit-identical to Spark's single 64-bit XOR.
_BIT_SUMS = ", ".join(
    f"sum(case when (hlo >> {b}) & 1 = 1 then 1 else -1 end) as s{b}"
    for b in range(32)
) + ", " + ", ".join(
    f"sum(case when (hhi >> {b - 32}) & 1 = 1 then 1 else -1 end) as s{b}"
    for b in range(32, 64)
)
_FP_LO = " + ".join(
    f"(case when s{b} > 0 then cast({1 << b} as bigint) else 0 end)" for b in range(32)
)
_FP_HI = " + ".join(
    f"(case when s{b} > 0 then cast({1 << (b - 32)} as bigint) else 0 end)"
    for b in range(32, 64)
)


def _q20_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    fps = simhash(table(spark, sf_dir, "documents"))
    pairs = simhash_pairs(fps, max_hamming=3)
    return pairs


Q20_ORACLE = f"""
with {_SHINGLES_DUCK},
hh as (
  select doc_id,
         ('0x' || substr(md5(shingle), 1, 8))::bigint as hlo,
         ('0x' || substr(md5(shingle), 9, 8))::bigint as hhi
  from sh
),
sums as (select doc_id, {_BIT_SUMS} from hh group by doc_id),
fp as (select doc_id, {_FP_LO} as fp_lo, {_FP_HI} as fp_hi from sums)
select a.doc_id as doc_a, b.doc_id as doc_b,
       bit_count(xor(a.fp_lo, b.fp_lo)) + bit_count(xor(a.fp_hi, b.fp_hi))
         as hamming
from fp a join fp b on a.doc_id < b.doc_id
where bit_count(xor(a.fp_lo, b.fp_lo)) + bit_count(xor(a.fp_hi, b.fp_hi)) <= 3
"""

# --------------------------------------------------------- cosine similarity

def _q21_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k + fused int8-quantized rescore (r8:
    quantize_embeddings/qcosine — each top-k row also carries the cosine
    computed over the per-vector-scaled int8 arrays; the oracle
    regenerates the quantization and the integer dot/norm arithmetic, so
    the rescore matches exactly, demonstrating the 4x-smaller ANN
    representation ranks faithfully).

    Also fused: semantic_decontaminate's expr regime with the query
    vectors as the eval set — each result row carries the corpus
    vector's max cosine against ANY eval vector and a contamination
    flag at threshold 0.35 — chosen to SPLIT the synthetic corpus's
    0.26-0.49 max-cosine range at both gate SFs (a real pipeline runs
    ~0.95+; a constant-False column would verify nothing, the plant
    convention)."""
    from exon_spark.operators import (
        qcosine,
        quantize_embeddings,
        semantic_decontaminate,
    )
    from exon_spark.operators.dedup import _materialize

    em = table(spark, sf_dir, "embeddings")
    evalq = em.filter(F.col("vec_id") < 8)
    # r12 (guide 3.2): the query only CONSUMES k x |eval| result rows,
    # but the quantize and decontaminate arms each ran a full corpus
    # pass whose output the top-k join then discarded. Both are
    # per-row-independent (quantization scales within the vector;
    # max_eval_cos reads one corpus vector + the broadcast eval set),
    # so computing them on the top-k survivor slice is value-identical
    # row-for-row. topk is materialized (k x |eval| rows) so deriving
    # the id set does not re-run the corpus scan; the id broadcast is
    # query-fanout-bounded, not corpus-bounded. sf10: 105 -> ~45 core-s.
    topk = _materialize(cosine_topk(em, evalq, k=5), eager=True)
    ids = (
        topk.select("vec_id")
        .union(topk.select(F.col("q_id").alias("vec_id")))
        .distinct()
    )
    sub = em.join(F.broadcast(ids), "vec_id")
    qs = quantize_embeddings(sub, keep_scale=False).select("vec_id", "qvec")
    dec = semantic_decontaminate(sub, evalq, threshold=0.35)
    return (
        topk.join(
            qs.select(
                F.col("vec_id").alias("q_id"), F.col("qvec").alias("_qq")
            ),
            "q_id",
        )
        .join(qs, "vec_id")
        .join(dec, "vec_id")
        .select(
            "q_id",
            "vec_id",
            "score",
            "rnk",
            qcosine("qvec", "_qq").alias("qscore"),
            "max_eval_cos",
            "contaminated",
        )
    )


_QUANT_DUCK = """
qq as (
  select vec_id,
         case when list_max(list_transform(embedding, x -> abs(cast(x as double)))) = 0
              then list_transform(embedding, x -> cast(0 as bigint))
              else list_transform(embedding,
                x -> cast(round(cast(x as double)
                     / list_max(list_transform(embedding, y -> abs(cast(y as double))))
                     * 127, 0) as bigint))
         end as qvec
  from embeddings
)
"""

_QCOS_DUCK = (
    "list_sum(list_transform(range(1, 65), i -> a.qvec[i] * b.qvec[i]))"
    " / (sqrt(cast(list_sum(list_transform(range(1, 65), i -> a.qvec[i] * a.qvec[i])) as double))"
    " * sqrt(cast(list_sum(list_transform(range(1, 65), i -> b.qvec[i] * b.qvec[i])) as double)))"
)

Q21_ORACLE = f"""
with q as (select vec_id as q_id, embedding as q_vec from embeddings where vec_id < 8),
c as (select vec_id, embedding as vec from embeddings),
{_QUANT_DUCK.strip().rstrip()},
scored as (
  select q.q_id, c.vec_id,
         round(
           list_sum(list_transform(range(1, 65), i -> cast(q_vec[i] as double) * cast(vec[i] as double)))
           / (sqrt(list_sum(list_transform(range(1, 65), i -> cast(vec[i] as double) * cast(vec[i] as double))))
              * sqrt(list_sum(list_transform(range(1, 65), i -> cast(q_vec[i] as double) * cast(q_vec[i] as double))))),
           6) as score
  from c cross join q
  where c.vec_id <> q.q_id
),
ranked as (
  select q_id, vec_id, score,
         row_number() over (partition by q_id order by score desc, vec_id) as rnk
  from scored
),
allp as (
  select c.vec_id,
         round(
           list_sum(list_transform(range(1, 65), i -> cast(q_vec[i] as double) * cast(vec[i] as double)))
           / (sqrt(list_sum(list_transform(range(1, 65), i -> cast(vec[i] as double) * cast(vec[i] as double))))
              * sqrt(list_sum(list_transform(range(1, 65), i -> cast(q_vec[i] as double) * cast(q_vec[i] as double))))),
           6) as cos
  from c cross join q
),
dec as (select vec_id, max(cos) as max_eval_cos from allp group by vec_id)
select r.q_id, r.vec_id, r.score, r.rnk,
       round({_QCOS_DUCK}, 6) as qscore,
       d.max_eval_cos,
       d.max_eval_cos >= 0.35 as contaminated
from ranked r
join qq a on a.vec_id = r.vec_id
join qq b on b.vec_id = r.q_id
join dec d on d.vec_id = r.vec_id
where r.rnk <= 5
"""


def _q22_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    em = table(spark, sf_dir, "embeddings")
    return lsh_ann_topk(em, em.filter(F.col("vec_id") < 8), k=5)


def _flat_dot(vec: str, plane: list[float]) -> str:
    """Hyperplane dot as a flat 64-term sum, left-associated like
    list_sum's fold. The r8 spelling indexed a 64-float LIST LITERAL
    inside list_transform — DuckDB rebuilds the literal per element, so
    each dot cost 64x64 list constructions and q28's bk CTE alone ran
    >9 min at the sf1 replica (vs seconds flat)."""
    return (
        "("
        + " + ".join(
            f"cast({vec}[{i + 1}] as double) * ({x!r})"
            for i, x in enumerate(plane)
        )
        + ")"
    )


_COS64 = (
    "list_sum(list_transform(range(1, 65), i -> cast({a}[i] as double) * cast({b}[i] as double)))"
    " / (sqrt(list_sum(list_transform(range(1, 65), i -> cast({a}[i] as double) * cast({a}[i] as double))))"
    " * sqrt(list_sum(list_transform(range(1, 65), i -> cast({b}[i] as double) * cast({b}[i] as double)))))"
)


def _q27_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    em = table(spark, sf_dir, "embeddings")
    return ivf_ann_topk(
        em, em.filter(F.col("vec_id") < 8), k=5, n_cells=16, nprobe=2
    )


def _q27_oracle() -> str:
    cos = _COS64
    return f"""
with cent as (
  select vec_id as cell_id, embedding as c_vec from embeddings order by vec_id limit 16
),
asn_s as (
  select e.vec_id, e.embedding, c.cell_id,
         round({cos.format(a='e.embedding', b='c.c_vec')}, 6) as s
  from embeddings e cross join cent c
),
assign as (
  select vec_id, embedding, cell_id as cell
  from asn_s qualify row_number() over (partition by vec_id order by s desc, cell_id) = 1
),
probes as (
  select vec_id as q_id, embedding as q_vec, cell_id as cell
  from asn_s where vec_id < 8
  qualify row_number() over (partition by vec_id order by s desc, cell_id) <= 2
),
scored as (
  select p.q_id, a.vec_id, a.cell,
         round({cos.format(a='a.embedding', b='p.q_vec')}, 6) as score
  from assign a join probes p on a.cell = p.cell and a.vec_id <> p.q_id
),
ranked as (
  select q_id, vec_id, cell, score,
         row_number() over (partition by q_id order by score desc, vec_id) as rnk
  from scored
)
select q_id, vec_id, cell, score, rnk from ranked where rnk <= 5
"""


def _q28_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    em = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # plant deterministic duplicates (every 10th vector re-appears under
    # id+1e9, collision-proof at any realistic sf) — random embeddings have
    # no natural near-dups, and a dedup
    # query that returns nothing verifies nothing
    planted = em.filter((F.col("vec_id") % 10) == 0).select(
        (F.col("vec_id") + 1_000_000_000).alias("vec_id"), "embedding"
    )
    return embedding_cosine_dups(em.unionAll(planted), threshold=0.95)


def _q28_oracle() -> str:
    # regenerate the banded-LSH candidate rule (64 planes, 4x16-bit bands,
    # hamming<=1 multi-probe) with the same md5-derived hyperplanes and the
    # same sequential-fold dot product the Spark expressions use
    from exon_spark.operators.similarity import hyperplanes

    planes = hyperplanes(64, 64)
    band_bits, n_bands = 16, 4

    dot = _flat_dot

    bands = []
    for b in range(n_bands):
        key = " + ".join(
            f"(case when {dot('embedding', planes[b * band_bits + i])} > 0 "
            f"then {1 << i} else 0 end)"
            for i in range(band_bits)
        )
        bands.append(f"cast({key} as bigint) as b{b}")
    band_cols = ",\n  ".join(bands)
    cos = _COS64.format(a="x.embedding", b="y.embedding")
    # Candidate rule re-spelled as a multi-probe EQUI-join (identical
    # pairs): xor(kx, ky) <= 1 over a 16-bit band key  <=>  kx is ky or
    # one of ky's 16 single-bit flips. The r8 theta spelling
    # (`join ... on x.vec_id < y.vec_id and (bit_count(...) <= 1 or ...)`)
    # forced DuckDB into an O(n^2) nested-loop — 484M predicate
    # evaluations at the sf1 replica (>35 min, single-core) vs
    # milliseconds for the hash join on exploded probe keys. Same
    # candidate set, same cosine filter, now linear in vectors per
    # band-bucket like the Spark side's plan.
    key_selects = "\n  union all\n  ".join(
        f"select vec_id, {b} as band, b{b} as key from bk"
        for b in range(n_bands)
    )
    return f"""
with base as (
  select vec_id, embedding from embeddings
  union all
  select vec_id + 1000000000 as vec_id, embedding from embeddings where vec_id % 10 = 0
),
bk as materialized (select vec_id, embedding,
  {band_cols}
  from base),
keys as materialized (
  {key_selects}
),
probes as (
  select vec_id, band,
         xor(key, case when f = 0 then 0
                       else cast(1 as bigint) << (f - 1) end) as key
  from keys, unnest(range(0, 17)) as t(f)
),
cand as materialized (
  -- materialized on purpose (the q52 tribase precedent): DuckDB inlines
  -- plain CTEs per reference, so bk's 64 hyperplane dots and the
  -- candidate join would otherwise re-run for every downstream mention
  select distinct p.vec_id as ia, i.vec_id as ib
  from keys p join probes i on p.band = i.band and p.key = i.key
  where p.vec_id < i.vec_id
)
select x.vec_id as id_a, y.vec_id as id_b, round({cos}, 6) as score
from cand join bk x on cand.ia = x.vec_id join bk y on cand.ib = y.vec_id
where round({cos}, 6) >= 0.95
"""


# ------------------------------------------------- decontamination / PII

_CANARY = "the held out benchmark canary sentence appears verbatim here"


def _q34_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: docs with doc_id % 97 == 0 act as the
    held-out eval set; every other doc reports its 5-gram overlap count.
    A canary sentence is planted into the eval docs AND into corpus docs
    with doc_id % 25 == 3 (synthetic text has almost no natural 5-gram
    overlap — a result of all zeros would verify nothing); the oracle
    plants identically."""
    docs = table(spark, sf_dir, "documents")
    leak = ((F.col("doc_id") % 97) == 0) | ((F.col("doc_id") % 25) == 3)
    planted = docs.select(
        "doc_id",
        F.when(leak, F.concat(F.col("text"), F.lit(" " + _CANARY)))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    bench = planted.filter((F.col("doc_id") % 97) == 0)
    corpus = planted.filter((F.col("doc_id") % 97) != 0)
    return decontaminate(corpus, bench, n=5)


Q34_ORACLE = f"""
with docs0 as (
  select doc_id,
         case when doc_id % 97 = 0 or doc_id % 25 = 3
              then text || ' {_CANARY}' else text end as text
  from documents
),
tok as (
  select doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') as toks
  from docs0
),
sh as (
  select distinct doc_id, s as shingle from tok,
  unnest(list_transform(range(1, greatest(len(toks) - 4, 0) + 1),
         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4])) as t(s)
  where s <> ''
),
bench as (select distinct shingle from sh where doc_id % 97 = 0),
hits as (
  select c.doc_id, count(*) as n_hits
  from (select * from sh where doc_id % 97 <> 0) c
  join bench using (shingle)
  group by c.doc_id
)
select d.doc_id,
       coalesce(h.n_hits, 0) as n_hits,
       coalesce(h.n_hits, 0) > 0 as contaminated
from (select doc_id from documents where doc_id % 97 <> 0) d
left join hits h using (doc_id)
"""


def _q35_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + fused typed-placeholder redaction over documents
    with deterministically planted PII (synthetic corpus text carries
    none — a query returning all zeros verifies nothing): every
    doc_id % 4 == 1 doc gains an email, a phone number and an IPv4;
    every doc_id % 4 == 2 doc an SSN-shaped id and a second IPv4; the
    oracle plants identically. ``redact=True`` gates the r7 fused
    detect+release scan — counts on the original text plus the
    progressively-redacted text and n_redactions, all from ONE pass;
    the standalone ``redact_pii`` spelling is pinned column-for-column
    equal to this fused output by tests/test_text_ops.py."""
    docs = table(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        F.when(
            (F.col("doc_id") % 4) == 1,
            F.concat(
                F.col("text"),
                F.lit(" reach user"),
                F.col("doc_id").cast("string"),
                F.lit("@mail.example.com or 555-123-4567 at 10.0.0.1"),
            ),
        )
        .when(
            (F.col("doc_id") % 4) == 2,
            F.concat(F.col("text"), F.lit(" ssn 987-65-4320 via 192.168.1.1")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return pii_stats(planted, redact=True)


def _q35_oracle() -> str:
    from exon_spark.operators.text import PII_PATTERNS, PII_REDACTION_TAGS

    # counts scan the ORIGINAL text; redaction is progressive (each
    # pattern counted on, then replaced in, the partially-redacted
    # text) — the exact contract of pii_stats(redact=True)
    count_cols = []
    total_terms = []
    for name, pat in PII_PATTERNS.items():
        sql_pat = pat.replace("'", "''")
        expr = f"len(regexp_extract_all(text, '{sql_pat}'))"
        count_cols.append(f"cast({expr} as int) as {name}")
        total_terms.append(expr)
    text_expr = "text"
    n_terms = []
    for name, pat in PII_PATTERNS.items():
        sql_pat = pat.replace("'", "''")
        n_terms.append(f"len(regexp_extract_all({text_expr}, '{sql_pat}'))")
        text_expr = (
            f"regexp_replace({text_expr}, '{sql_pat}', "
            f"'{PII_REDACTION_TAGS[name]}', 'g')"
        )
    counts_sql = ",\n       ".join(count_cols)
    return f"""
with planted as (
  select doc_id,
         case when doc_id % 4 = 1
              then text || ' reach user' || doc_id ||
                   '@mail.example.com or 555-123-4567 at 10.0.0.1'
              when doc_id % 4 = 2
              then text || ' ssn 987-65-4320 via 192.168.1.1'
              else text end as text
  from documents
)
select doc_id,
       {counts_sql},
       ({' + '.join(total_terms)}) > 0 as has_pii,
       {text_expr} as text,
       cast({' + '.join(n_terms)} as int) as n_redactions
from planted
"""


# ---------------------------------------------------------------- text layer

def _q23_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_profile(table(spark, sf_dir, "documents"))


_SW = ", ".join(f"'{w}'" for w in STOPWORDS_EN)

Q23_ORACLE = f"""
with d as (
  select doc_id, text, regexp_split_to_array(lower(trim(text)), '\\s+') as toks
  from documents
)
select doc_id,
       cast(len(toks) as int) as n_tokens,
       cast(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) as int) as n_bpe_tokens,
       round(cast(list_sum(list_transform(toks, t -> length(t))) as double) / len(toks), 6) as avg_token_len,
       round(cast(length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) as double)
             / length(text), 6) as punct_ratio,
       round(cast(len(list_filter(toks, t -> t in ({_SW}))) as double) / len(toks), 6) as stopword_ratio
from d
"""


def _lang_oracle() -> str:
    score_cols = ", ".join(
        "cast(len(list_filter(toks, t -> t in ({words}))) as int) as s_{lang}".format(
            words=", ".join(f"'{w}'" for w in LANG_MARKERS[lang]), lang=lang
        )
        for lang in _LANG_ORDER
    )
    # same precedence argmax as operators.text.lang_id
    guess = "'zh'"
    for lang in reversed(_LANG_ORDER[:-1]):
        conds = " and ".join(
            f"s_{lang} >= s_{other}" for other in _LANG_ORDER if other != lang
        )
        guess = f"case when {conds} then '{lang}' else {guess} end"
    return f"""
with d as (
  select doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') as toks
  from documents
),
s as (select doc_id, {score_cols} from d)
select doc_id, s_en, s_es, s_de, s_fr, s_zh, {guess} as lang_guess from s
"""


Q25_ORACLE = """
with d as (
  select doc_id,
         trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                             ' +', ' ', 'g')) as norm
  from documents
)
select doc_id, md5(norm) as fingerprint,
       list_min(list_transform(range(1, greatest(length(norm) - 7, 1) + 1),
                i -> ('0x' || substr(md5(substr(norm, i, 8)), 1, 8))::bigint)) as min_window_hash
from d
"""


def _q23_profile_oracle() -> str:
    """q23 fuses text_stats + lang_id + fingerprint into one scan; the
    oracle composes the three per-operator oracles with 1:1 doc_id joins
    (DuckDB side only — the Spark plan has no join)."""
    return f"""
with stats as ({Q23_ORACLE}),
     lang as ({_lang_oracle()}),
     fp as ({Q25_ORACLE})
select stats.doc_id, n_tokens, n_bpe_tokens, avg_token_len, punct_ratio,
       stopword_ratio, s_en, s_es, s_de, s_fr, s_zh, lang_guess,
       fingerprint, min_window_hash
from stats join lang using (doc_id) join fp using (doc_id)
"""


def _q26_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode metadata + fused 64-bit payload perceptual hash (r8:
    media_phash — aHash over 64 stride-sampled bytes, pure JVM columns;
    the oracle regenerates every byte term from hex(payload), so the
    fingerprint matches bit-for-bit). Single pass: the fingerprint column
    rides through decode_media's passthrough — no re-scan, no self-join."""
    from exon_spark.operators import media_phash

    mp = with_media_payload(table(spark, sf_dir, "documents"))
    return decode_media(media_phash(mp))


def _q22_oracle() -> str:
    """DuckDB replica of the LSH-ANN pipeline. The hyperplanes are
    deterministic (md5-seeded), so the oracle embeds the same constants and
    reproduces bucketing + in-bucket cosine ranking exactly."""
    from exon_spark.operators.similarity import hyperplanes

    planes = hyperplanes(64, 6)

    dot = _flat_dot

    bucket = " + ".join(
        f"(case when {dot('embedding', pl)} > 0 then {1 << i} else 0 end)"
        for i, pl in enumerate(planes)
    )
    cos = (
        "list_sum(list_transform(range(1, 65), i -> cast(q_vec[i] as double) * cast(vec[i] as double)))"
        " / (sqrt(list_sum(list_transform(range(1, 65), i -> cast(vec[i] as double) * cast(vec[i] as double))))"
        " * sqrt(list_sum(list_transform(range(1, 65), i -> cast(q_vec[i] as double) * cast(q_vec[i] as double)))))"
    )
    return f"""
with b as (
  select vec_id, embedding, cast({bucket} as bigint) as bucket from embeddings
),
q as (select vec_id as q_id, embedding as q_vec, bucket from b where vec_id < 8),
scored as (
  select q.q_id, c.vec_id, c.bucket, c.embedding as vec, q.q_vec
  from b c join q on c.bucket = q.bucket and c.vec_id <> q.q_id
),
ranked as (
  select q_id, vec_id, bucket, round({cos}, 6) as score,
         row_number() over (partition by q_id order by round({cos}, 6) desc, vec_id) as rnk
  from scored
)
select q_id, vec_id, bucket, score, rnk from ranked where rnk <= 5
"""


def _q26_oracle() -> str:
    """Append the 64-term aHash regeneration to the decode-stub oracle.
    Byte j is ``('0x' || substr(hex, 2*((j*n)//64)+1, 2))::int``; the
    ``|| '00'`` pad makes the empty payload fold to fingerprint 0 without
    a branch (sampled offsets never reach the pad when n > 0), and the
    outer coalesce absorbs null payloads — both matching the Spark
    guard. Bit 63 is Long.MIN_VALUE (two's complement), the simhash
    packing."""
    bytes_ = [
        f"('0x' || substr(h, 2 * (({j} * n) // 64) + 1, 2))::int"
        for j in range(64)
    ]
    total = " + ".join(f"b{j}" for j in range(64))
    bits = " + ".join(
        f"case when b{j} * 64 > tot then "
        + ("(-9223372036854775807 - 1)" if j == 63 else str(1 << j))
        + "::bigint else 0 end"
        for j in range(64)
    )
    byte_cols = ",\n         ".join(f"{e} as b{j}" for j, e in enumerate(bytes_))
    return f"""
with m as ({Q26_DECODE_ORACLE}),
ph0 as (
  select doc_id as media_id,
         octet_length(encode(text)) as n,
         hex(encode(text)) || '00' as h
  from documents
),
pb as (
  select media_id,
         {byte_cols}
  from ph0
),
pt as (select *, ({total}) as tot from pb),
ph as (select media_id, coalesce({bits}, 0) as phash from pt)
select m.*, ph.phash from m join ph using (media_id)
"""


Q26_DECODE_ORACLE = """
with m as (
  select doc_id as media_id,
         (['image', 'audio', 'video'])[cast(doc_id % 3 as int) + 1] as media_type,
         cast(octet_length(encode(text)) as int) as n_bytes
  from documents
)
select media_id, media_type, n_bytes,
  cast(case media_type when 'image' then n_bytes % 640 + 1
                       when 'audio' then 0
                       else n_bytes % 1920 + 1 end as int) as width,
  cast(case media_type when 'image' then n_bytes % 480 + 1
                       when 'audio' then 0
                       else n_bytes % 1080 + 1 end as int) as height,
  cast(case media_type when 'image' then 1
                       when 'audio' then n_bytes % 1000 + 1
                       else n_bytes % 240 + 1 end as int) as n_frames,
  'stub' as codec
from m
"""


# --------------------------------------------- dup clustering + corpus mix


def _q31_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from exon_spark.operators.dedup import dup_clusters, minhash_dedup as _mh

    return dup_clusters(_mh(table(spark, sf_dir, "documents"), threshold=0.5))


# recursive CTE = transitive closure over the same minhash pairs; the Spark
# side iterates min-label propagation (dedup.dup_clusters) — identical
# components, different algorithm (closure is O(n*m) rows, fine at oracle
# scale; propagation is O(diameter) shuffle rounds, fine at 100 TB)
Q31_ORACLE = f"""
with recursive {_MINHASH_PAIRS_CTES},
e as (
  select doc_a as src, doc_b as dst from pairs
  union
  select doc_b, doc_a from pairs
),
reach(src, dst) as (
  select src, dst from e
  union
  select r.src, e2.dst from reach r join e e2 on r.dst = e2.src
)
select src as doc_id, least(src, min(dst)) as cluster_id
from reach group by src
"""

_MIX_RATES = {"src0": 0.5, "src1": 0.25}
_MIX_DEFAULT = 0.1


def _q32_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified corpus mix + deterministic training-order shard
    assignment — the natural write-pass pipeline (pick the mix, then
    assign every picked doc a reproducible (shard, pos) for export).
    Doc-level output gates BOTH operators exactly: mix membership per
    document (strictly stronger than the old per-stratum aggregate) and
    deterministic_shuffle's full hash arithmetic — shard =
    h32(id || ':epoch0') % 8, pos = dense in-shard rank by
    h32(id || ':pos:epoch0') — mirrored md5-exactly by the DuckDB
    oracle, the q43 convention."""
    from exon_spark.operators.sampling import deterministic_shuffle, stratified_mix

    from exon_spark.operators import hash_split

    picked = stratified_mix(
        table(spark, sf_dir, "documents"),
        rates=_MIX_RATES,
        stratum_col="source",
        default_rate=_MIX_DEFAULT,
    )
    assign = deterministic_shuffle(picked, n_shards=8, salt="epoch0")
    # fused (r9): deterministic named train/val/test assignment — the
    # cumulative-interval arithmetic over h32 millionths is mirrored
    # exactly by the oracle's CASE
    split = hash_split(
        picked, {"train": 0.9, "val": 0.05, "test": 0.05}, salt=":sp"
    )
    return (
        split.select("doc_id", "lang", "source", "n_chars", "split")
        .join(assign, "doc_id")
        .select("doc_id", "lang", "source", "n_chars", "split", "shard", "pos")
    )


_MIX_RATE_SQL = (
    "case "
    + " ".join(
        f"when source = '{v}' then {int(r * 1_000_000)}" for v, r in _MIX_RATES.items()
    )
    + f" else {int(_MIX_DEFAULT * 1_000_000)} end"
)

Q32_ORACLE = f"""
with picked as (
  select doc_id, lang, source, n_chars
  from documents
  where ('0x' || substr(md5(doc_id::varchar), 1, 8))::bigint % 1000000 < {_MIX_RATE_SQL}
),
a as (
  select doc_id, lang, source, n_chars,
         case when ('0x' || substr(md5(doc_id::varchar || ':sp'), 1, 8))::bigint % 1000000 < 900000
                then 'train'
              when ('0x' || substr(md5(doc_id::varchar || ':sp'), 1, 8))::bigint % 1000000 < 950000
                then 'val'
              else 'test' end as split,
         cast(('0x' || substr(md5(doc_id::varchar || ':epoch0'), 1, 8))::bigint % 8 as int) as shard,
         ('0x' || substr(md5(doc_id::varchar || ':pos:epoch0'), 1, 8))::bigint as _ord
  from picked
)
select doc_id, lang, source, n_chars, split, shard,
       cast(row_number() over (partition by shard order by _ord, doc_id) as int) as pos
from a
"""


# ------------------------------------------- quality / coverage / ranking

def _q36_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition signals + fused hashed-NB classifier score
    (r8: the model-based quality-filter stage). Seed labels are
    ``doc_id % 2 = 0`` with class-marker trigrams planted into each class
    (the synthetic corpus shares one vocabulary across all labels, so an
    unplanted fit would be pure noise and ``nb_pass`` constant — the
    q34/q37 plant convention); balanced classes keep the shared-token
    odds near zero so the planted signals decide. The oracle regenerates
    the closed-form fit from the same h32 bucketing + Laplace constants,
    so model and scores match across engines at 6 dp."""
    from exon_spark.operators import nb_classifier_fit, nb_lr_score_fused
    from exon_spark.operators.classify import NB_BUCKETS

    docs = table(spark, sf_dir, "documents")
    pos = (F.col("doc_id") % 2) == 0
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(pos, F.lit(_NB_MARKER_POS)).otherwise(
                F.lit(_NB_MARKER_NEG)
            ),
        ).alias("text"),
        pos.alias("label"),
    )
    model, meta = nb_classifier_fit(planted, label_col="label")
    import pandas as pd

    # from pandas: a LocalRelation, not an RDD leaf
    lr_model = spark.createDataFrame(
        pd.DataFrame(_LR_FROZEN_BUCKETS, columns=["bucket", "weight"]),
        "bucket bigint, weight double",
    )
    # ONE corpus pass scores both classifiers (r12: the gram stream
    # contains the token stream, so the fused scorer replaces two
    # tokenize+explode+agg passes and the doc_id glue join —
    # classify.nb_lr_score_fused, pinned equal to the standalone pair)
    scored = nb_lr_score_fused(
        planted,
        model,
        meta,
        lr_model,
        {"intercept": _LR_INTERCEPT, "buckets": NB_BUCKETS},
    )
    # STAGE the two corpus-tokenizing arms above the stage_arms floor
    # (same fix as _q42_spark): the per-doc outputs are narrow frames
    qs = quality_signals(docs)
    if regime.above(docs, "stage_arms", "q36"):
        from exon_spark.operators.dedup import _materialize

        qs = _materialize(qs, eager=True)
    return qs.join(scored, "doc_id")


_NB_MARKER_POS = " hqseed hqseed hqseed"
_NB_MARKER_NEG = " lqseed lqseed lqseed"

# r10 fused arm: the fastText-shape logistic scorer with FROZEN
# coefficients (the LBFGS fit itself is not SQL-expressible — it stays
# pytest-pinned in tests/test_classify.py; what the gate proves is the
# broadcast-join scoring path, which is the part that touches the full
# corpus at 100 TB). Weights sit on the planted markers (unigram and
# bigram) so lr_pass tracks the planted classes, plus a tiny
# real-vocabulary nudge so unmatched docs exercise the miss path.
_LR_INTERCEPT = -0.05


def _lr_frozen() -> list[tuple[int, float]]:
    import hashlib

    from exon_spark.operators.classify import NB_BUCKETS as _B

    grams = {
        "hqseed": 1.6,
        "lqseed": -1.4,
        "hqseed hqseed": 0.4,
        "lqseed lqseed": -0.6,
        "the": 0.02,
    }
    by_bucket: dict[int, float] = {}
    for g, w in grams.items():
        b = int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % _B
        by_bucket[b] = by_bucket.get(b, 0.0) + w  # bucket must be unique
    return sorted(by_bucket.items())


_LR_FROZEN_BUCKETS = _lr_frozen()


def _q36_oracle() -> str:
    from exon_spark.operators.classify import NB_ALPHA, NB_BUCKETS

    B, A = NB_BUCKETS, NB_ALPHA
    I = _LR_INTERCEPT
    lrw_values = ", ".join(f"({b}, {w!r})" for b, w in _LR_FROZEN_BUCKETS)
    return f"""
with q as ({Q36_SIGNALS_ORACLE}),
pd as (
  select doc_id, doc_id % 2 = 0 as pos,
         text || case when doc_id % 2 = 0 then '{_NB_MARKER_POS}'
                      else '{_NB_MARKER_NEG}' end as text
  from documents
),
tokn as (
  select doc_id, pos, tok from (
    select doc_id, pos,
           unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) as tok
    from pd
  ) where tok <> ''
),
bk as (
  select doc_id, pos,
         ('0x' || substr(md5(tok), 1, 8))::bigint % {B} as bucket
  from tokn
),
cnt as (
  select bucket,
         sum(case when pos then 1 else 0 end) as c1,
         sum(case when pos then 0 else 1 end) as c0
  from bk group by bucket
),
tot as (select sum(c1)::double as t1, sum(c0)::double as t0 from cnt),
model as (
  select bucket,
         ln((c1 + {A}) / (t1 + {A} * {B})) -
         ln((c0 + {A}) / (t0 + {A} * {B})) as log_odds
  from cnt cross join tot
),
pr as (
  select ln(sum(case when pos then 1 else 0 end)::double
            / sum(case when not pos then 1 else 0 end)) as log_prior
  from pd
),
ds as (
  select b.doc_id, count(*) as n_toks, sum(m.log_odds) as s
  from bk b join model m using (bucket)
  group by b.doc_id
),
nb as (
  select d0.doc_id,
         coalesce(ds.n_toks, 0) as n_toks,
         round(pr.log_prior + coalesce(ds.s, 0), 6) as nb_logodds,
         (pr.log_prior + coalesce(ds.s, 0)) > 0 as nb_pass
  from (select doc_id from documents) d0
  left join ds using (doc_id)
  cross join pr
),
-- r10 fused arm: frozen-coefficient logistic scorer. Grams mirror
-- classify._gram_array: unigrams + word bigrams over the RAW token
-- array (empties kept for bigram formation, dropped afterwards).
lrraw as (
  select doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') as raw
  from pd
),
lrg as (
  select doc_id, g from (
    select doc_id,
           unnest(raw || list_transform(range(1, len(raw)),
             i -> raw[i] || ' ' || raw[i+1])) as g
    from lrraw
  ) where g <> ''
),
lrw(bucket, weight) as (values {lrw_values}),
lrs as (
  select t.doc_id, count(*) as n_feats, sum(coalesce(w.weight, 0)) as s
  from (
    select doc_id, ('0x' || substr(md5(g), 1, 8))::bigint % {B} as bucket
    from lrg
  ) t
  left join lrw w using (bucket)
  group by t.doc_id
),
lr as (
  select d0.doc_id,
         coalesce(lrs.n_feats, 0)::bigint as n_feats,
         round(1.0 / (1.0 + exp(-({I} + coalesce(lrs.s / lrs.n_feats, 0)))), 6)
           as lr_prob,
         ({I} + coalesce(lrs.s / lrs.n_feats, 0)) > 0 as lr_pass
  from (select doc_id from documents) d0
  left join lrs using (doc_id)
)
select q.*, nb.n_toks, nb.nb_logodds, nb.nb_pass,
       lr.n_feats, lr.lr_prob, lr.lr_pass
from q join nb using (doc_id) join lr using (doc_id)
"""


Q36_SIGNALS_ORACLE = """
with d as (
  select doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') as toks
  from documents
),
g as (
  select doc_id, toks, len(toks) as n,
         list_transform(range(1, len(toks)),
           i -> toks[i] || ' ' || toks[i+1]) as bi,
         list_transform(range(1, greatest(len(toks) - 1, 1)),
           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) as tri
  from d
),
m as (
  select doc_id,
    round(cast(coalesce(list_max(list_filter(list_transform(list_distinct(toks),
          t -> len(list_filter(toks, x -> x = t))), c -> c >= 2)), 0)
      as double) / n, 6) as frac_top_unigram,
    round(cast(coalesce(list_max(list_filter(list_transform(list_distinct(bi),
          t -> len(list_filter(bi, x -> x = t))), c -> c >= 2)), 0)
      as double) / greatest(n - 1, 1), 6) as frac_top_bigram,
    round(cast(len(list_filter(tri,
          t -> len(list_filter(tri, x -> x = t)) > 1)) as double)
      / greatest(n - 2, 1), 6) as frac_dup_trigram,
    round(cast(len(list_distinct(toks)) as double) / n, 6) as frac_unique
  from g
)
select doc_id, frac_top_unigram, frac_top_bigram, frac_dup_trigram,
       frac_unique,
       (frac_top_unigram <= 0.20 and frac_top_bigram <= 0.10
        and frac_dup_trigram <= 0.10) as quality_pass
from m
"""


_BOILERPLATE = (
    "shared boilerplate license header text appears verbatim across many "
    "documents here"
)


def _q37_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-doc duplicated-8-gram coverage + fused keep-one-copy span
    REMOVAL (r8: ``remove=True`` — detection and Lee-et-al-style deletion
    share one materialized gram index). A fixed 11-token boilerplate
    sentence is planted into docs with doc_id % 7 == 2 (the synthetic
    corpus has almost no natural cross-doc 8-gram overlap — all-zero output
    would verify nothing); the oracle plants identically, so the 4
    plant-internal windows are shared across ~1/7 of the corpus while the
    plant/test-boundary windows stay doc-unique. The smallest planted
    doc_id keeps its boilerplate copy; every other planted doc loses
    those covered positions from its reassembled text."""
    docs = table(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        F.when(
            (F.col("doc_id") % 7) == 2,
            F.concat(F.col("text"), F.lit(" " + _BOILERPLATE)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return dup_ngram_coverage(planted, n=8, remove=True)


_Q37_GRAM = " || ' ' || ".join(f"toks[i+{j}]" for j in range(8))

Q37_ORACLE = f"""
with planted as (
  select doc_id,
         case when doc_id % 7 = 2 then text || ' {_BOILERPLATE}'
              else text end as text
  from documents
),
tok as (
  select doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') as toks
  from planted
),
g as (
  select doc_id, i as pos, {_Q37_GRAM.replace('toks[i+0]', 'toks[i]')} as gram
  from tok, unnest(range(1, greatest(len(toks) - 7, 0) + 1)) as t(i)
),
dupg as (
  select gram, min(doc_id) as keep_doc
  from g group by gram having count(distinct doc_id) >= 2
),
dup as (select g.doc_id, g.pos, d.keep_doc from g join dupg d using (gram)),
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
        from planted)
),
red as (
  select o.doc_id, string_agg(o.tok, ' ' order by o.tokpos) as text,
         count(*) as n_kept
  from otok o left join rem r on o.doc_id = r.doc_id and o.tokpos = r.p
  where r.doc_id is null
  group by o.doc_id
),
nt as (select doc_id, cast(len(toks) as int) as n_toks from tok)
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
left join red on nt.doc_id = red.doc_id
"""


_BM25_TERMS = ("hash", "sort", "spark", "window")


_KT_TAGS = {"engine": ["join", "scan", "hash"], "data": ["row", "column"]}


def _q38_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 search + fused keyword_tag (r9): each hit row also carries
    two lexicon hit counts computed by the pure-JVM keyword_tag
    operator; the oracle recomputes them with list_filter over the
    same tokenization, so the literal-set membership scan is
    hash-gated. Counts vary per row at both gate SFs."""
    from exon_spark.operators import keyword_tag, phrase_tag

    docs = table(spark, sf_dir, "documents")
    base = bm25_search(docs, list(_BM25_TERMS), limit=50)
    kt = keyword_tag(docs, _KT_TAGS).select(
        "doc_id", "engine_hits", "data_hits"
    )
    pt = phrase_tag(docs, {"algo": ["sort merge", "hash join"]}).select(
        "doc_id", "algo_hits"
    )
    return (
        base.join(kt, "doc_id")
        .join(pt, "doc_id")
        .select(
            "doc_id",
            "n_terms_matched",
            "score",
            "engine_hits",
            "data_hits",
            "algo_hits",
        )
    )


def _d(x: float) -> str:
    """Exact double literal for DuckDB (plain decimals parse as DECIMAL,
    which would change intermediate arithmetic vs Spark's doubles)."""
    return f"cast('{x!r}' as double)"


def _q38_oracle(k1: float = 1.2, b: float = 0.75) -> str:
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    return f"""
with d as (
  select doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') as toks
  from documents
),
base as (
  select doc_id, len(toks) as dl,
         list_filter(toks, t -> t in ({terms})) as hit
  from d
),
stats as (select count(*) as n_docs, sum(dl) as sum_dl from base),
tf as (
  select doc_id, dl, term, count(*) as tf from (
    select doc_id, dl, unnest(hit) as term from base where len(hit) > 0
  ) group by doc_id, dl, term
),
dfreq as (select term, count(distinct doc_id) as df_t from tf group by term),
s as (
  select doc_id,
    round(ln(1 + (n_docs - df_t + {_d(0.5)}) / (df_t + {_d(0.5)}))
          * (tf * {_d(k1 + 1)})
          / (tf + {_d(k1)} * ({_d(1 - b)} + {_d(b)} * dl
             / (cast(sum_dl as double) / n_docs))), 6) as s_term
  from tf join dfreq using (term) cross join stats
),
r as (
  select doc_id, cast(count(*) as int) as n_terms_matched,
         round(cast(sum(cast(s_term as decimal(38,10))) as double), 4) as score
  from s group by doc_id
  order by score desc, doc_id limit 50
),
kt as (
  select doc_id,
         cast(len(list_filter(toks, t -> t in ('join','scan','hash'))) as int) as engine_hits,
         cast(len(list_filter(toks, t -> t in ('row','column'))) as int) as data_hits
  from d
),
pt as (
  select doc_id,
         cast((length(lower(coalesce(text,''))) - length(replace(lower(coalesce(text,'')), 'sort merge', ''))) / 10.0
            + (length(lower(coalesce(text,''))) - length(replace(lower(coalesce(text,'')), 'hash join', ''))) / 9.0
          as int) as algo_hits
  from documents
)
select r.doc_id, n_terms_matched, score, engine_hits, data_hits, algo_hits
from r join kt on r.doc_id = kt.doc_id join pt on r.doc_id = pt.doc_id
"""


def _q40_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: docs with doc_id % 3 == 0 arrive as the new batch,
    the rest are the accepted corpus; the split crosses enough of the
    corpus's natural near-dup pairs (q19 finds 25 at sf0.01) to give a
    non-trivial cross-corpus dup set.

    Fused (r9): each near-dup row also carries ``prefix_dup_of`` — the
    smallest accepted-corpus doc_id whose 5-token leading prefix equals
    the new doc's (boilerplate-prefix detection; the corpus has no
    exact text dups at gate SFs, prefixes collide naturally), computed
    the way a 100 TB front door would: a Bloom filter built over the
    index prefixes (bloom_build, fpp 1%) flags candidates map-only and
    only the flagged residue pays the partner join. The oracle computes
    the column as a plain correlated min-subquery, so a Bloom false
    negative (contractually impossible — build and probe share the same
    JVM hash expressions) would null the partner id and break the hash
    match; false positives are corrected by the residue join and
    invisible, as designed. Partner ids vary per row, so the gate
    checks the bloom+verify pipeline row by row, not a constant."""
    from exon_spark.operators import bloom_build, bloom_dedup_against
    from exon_spark.operators.dedup import _materialize, minhash_index, tokens

    docs = table(spark, sf_dir, "documents")
    pre = F.array_join(F.slice(tokens("text"), 1, 5), " ").alias("pre")
    new = docs.filter(F.col("doc_id") % 3 == 0)
    index = docs.filter(F.col("doc_id") % 3 != 0)
    # both sides partition ONE table: build the per-doc hash frame over
    # the whole corpus in one scan/job and hand dedup_against the two
    # filtered slices (pure per-doc frame — filter-after-build is the
    # same state; the split spelling scanned/decoded documents twice)
    st = _materialize(minhash_index(docs), eager=True)
    near = dedup_against(
        None,
        threshold=0.5,
        index_state=st.filter(F.col("doc_id") % 3 != 0),
        new_state=st.filter(F.col("doc_id") % 3 == 0),
    )
    idx_pre = index.select(F.col("doc_id").alias("_iid"), pre)
    bf = bloom_build(idx_pre, text_col="pre", fpp=0.01)
    flagged = bloom_dedup_against(
        new.select("doc_id", pre), bf, text_col="pre"
    ).where(F.col("maybe_dup"))
    partners = (
        flagged.join(idx_pre, "pre")
        .groupBy("doc_id")
        .agg(F.min("_iid").alias("prefix_dup_of"))
    )
    return near.join(partners, "doc_id", "left").select(
        "doc_id", "dup_of", "jaccard", "prefix_dup_of"
    )


Q40_ORACLE = f"""
with {_SHINGLES_DUCK},
hh as (
  select doc_id, shingle, ('0x' || substr(md5(shingle), 1, 8))::bigint as h from sh
),
sig as (select doc_id, {{min_cols}} from hh group by doc_id),
bands as ({{band_selects}}),
cand as (
  select distinct a.doc_id as doc_id, b.doc_id as dup_of
  from bands a join bands b on a.band_id = b.band_id and a.sig = b.sig
  where a.doc_id % 3 = 0 and b.doc_id % 3 <> 0
),
cnt as (select doc_id, count(*) as n_sh from sh group by doc_id),
common as (
  select c.doc_id, c.dup_of, count(*) as n_common
  from cand c
  join sh x on x.doc_id = c.doc_id
  join sh y on y.doc_id = c.dup_of and y.shingle = x.shingle
  group by c.doc_id, c.dup_of
),
newpre as (
  select doc_id,
         array_to_string(regexp_split_to_array(lower(trim(text)),'\\s+')[1:5],' ') as pre
  from documents where doc_id % 3 = 0
),
idxmin as (
  -- set-based spelling of "smallest index doc sharing my 5-token
  -- prefix": one group-by + join instead of a correlated min-subquery
  -- per output row (the correlated form re-scanned documents per row
  -- and OOMed DuckDB at sf10 — r10 skip; identical semantics, the
  -- left join nulls exactly where the subquery returned NULL)
  select array_to_string(regexp_split_to_array(lower(trim(text)),'\\s+')[1:5],' ') as pre,
         min(doc_id) as prefix_dup_of
  from documents where doc_id % 3 <> 0
  group by pre
)
select m.doc_id, m.dup_of,
       round(cast(n_common as double) / (a.n_sh + b.n_sh - n_common), 6) as jaccard,
       i.prefix_dup_of
from common m
join cnt a on m.doc_id = a.doc_id
join cnt b on m.dup_of = b.doc_id
left join newpre np on np.doc_id = m.doc_id
left join idxmin i on i.pre = np.pre
where round(cast(n_common as double) / (a.n_sh + b.n_sh - n_common), 6) >= 0.5
""".format(min_cols=_MIN_COLS, band_selects=_BAND_SELECTS)


def _q41_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from exon_spark.operators import token_budget_cap

    return token_budget_cap(
        table(spark, sf_dir, "documents"), budget_tokens=800, by="source"
    )


Q41_ORACLE = """
with d as (
  select doc_id, source,
         cast(len(regexp_split_to_array(lower(trim(text)), '\\s+')) as int) as n_tokens,
         ('0x' || substr(md5(doc_id::varchar), 1, 8))::bigint as h
  from documents
),
c as (
  select doc_id, source, n_tokens,
         sum(n_tokens) over (partition by source order by h, doc_id
                             rows between unbounded preceding and current row)
           as cum_tokens
  from d
)
select doc_id, source, n_tokens, cast(cum_tokens as bigint) as cum_tokens
from c where cum_tokens <= 800
"""


def _q42_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fused gate (the q23/q35/q37 precedent): unigram_logppl and
    # dsir_weights share the documents tokenization; one row gates both.
    # DSIR target = the src0 stratum, raw = the whole corpus.
    from exon_spark.operators import dsir_weights, unigram_logppl
    from exon_spark.operators.dedup import _materialize

    docs = table(spark, sf_dir, "documents")
    # STAGE the two corpus-tokenizing arms above the stage_arms floor (r12,
    # see regime.FLOORS): materializing the ladder's per-doc output (3
    # narrow columns, one row per doc) forces that arm to COMPLETE before
    # the DSIR arm plans, halving peak in-flight Arrow state.
    lp = unigram_logppl(docs)
    if regime.above(docs, "stage_arms", "q42"):
        lp = _materialize(lp, eager=True)
    w = dsir_weights(
        docs,
        docs.filter(F.col("source") == "src0"),
        buckets=4096,
        gumbel_salt="e0",
    )
    return lp.join(w, "doc_id")


Q42_ORACLE = """
with ta as (
  select doc_id, source, regexp_split_to_array(lower(trim(text)), '\\s+') as toks
  from documents
),
tok as (select doc_id, unnest(toks) as tok from ta),
vocab as (select tok, count(*) as tok_n from tok group by tok),
total as (select sum(tok_n) as corpus_tokens from vocab),
scored as (
  -- portable micro-unit quantizer (r11): floor(x*1e6 + 0.5) is pure
  -- IEEE arithmetic, bit-identical across engines (round(x, 6) is not)
  select doc_id,
         cast(floor(-ln(tok_n / corpus_tokens) * 1000000.0 + 0.5) as bigint) as nllm
  from tok join vocab using (tok) cross join total
),
lp as (
  select doc_id, cast(count(*) as int) as n_tokens,
         floor(cast(sum(nllm) as double) / cast(count(*) as double)
               / 1000000.0 * 10000.0 + 0.5) / 10000.0 as logppl
  from scored group by doc_id
),
feats as (
  select doc_id, source, unnest(toks) as gram from ta
  union all
  select doc_id, source, s as gram from ta,
    unnest(list_transform(range(1, greatest(len(toks) - 1, 0) + 1),
           i -> toks[i] || ' ' || toks[i+1])) as t(s)
),
fb as (
  select doc_id, source,
         ('0x' || substr(md5(gram), 1, 8))::bigint % 4096 as b
  from feats where gram <> ''
),
db as (select doc_id, b, count(*) as m from fb group by doc_id, b),
ct as (select b, count(*) as n_t from fb where source = 'src0' group by b),
cr as (select b, sum(m) as n_r from db group by b),
stats as (
  select coalesce(ct.b, cr.b) as b,
         coalesce(n_t, 0) as n_t, coalesce(n_r, 0) as n_r
  from ct full join cr on ct.b = cr.b
),
tot as (select sum(n_t) as tt, sum(n_r) as tr from stats),
ratio as (
  select b, cast(round(ln((n_t + 1.0) / (tt + 1.0 * 4096))
                     - ln((n_r + 1.0) / (tr + 1.0 * 4096)), 6)
                 as decimal(28,6)) as lr
  from stats cross join tot
),
w as (
  -- round the exact decimal sum BEFORE the double cast (half-way
  -- values diverge between engines the other way around)
  select db.doc_id, cast(sum(m) as int) as n_feats,
         cast(round(sum(m * lr), 4) as double) as dsir_w
  from db join ratio using (b) group by db.doc_id
),
wd as (
  select d.doc_id, coalesce(n_feats, 0) as n_feats,
         coalesce(dsir_w, 0.0) as dsir_w
  from (select doc_id from documents) d left join w using (doc_id)
)
select lp.doc_id, lp.n_tokens, lp.logppl, wd.n_feats, wd.dsir_w,
       round(wd.dsir_w + (-ln(-ln(
         (('0x' || substr(md5(lp.doc_id::varchar || ':dsir:e0'), 1, 8))::bigint
          + 0.5) / 4294967296.0))), 4) as dsir_key
from lp join wd on lp.doc_id = wd.doc_id
"""


def _q43_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from exon_spark.operators.layout import zorder_key

    li = table(spark, sf_dir, "lineitem")
    return zorder_key(li, ["l_partkey", "l_suppkey"], bits=8).select(
        "l_orderkey", "l_linenumber", "zkey"
    )


def _q43_oracle(bits: int = 8) -> str:
    def cell(col, mn, mx):
        num = f"(({col} - {mn}) * {1 << bits})"
        span = f"({mx} - {mn} + 1)"
        return f"cast(({num} - ({num} % {span})) / {span} as bigint)"

    cells = [
        cell("l_partkey", "min_pk", "max_pk"),
        cell("l_suppkey", "min_sk", "max_sk"),
    ]
    terms = []
    for b in range(bits):
        for j, c in enumerate(["ca", "cb"]):
            terms.append(f"((({c} >> {b}) & 1) << {b * 2 + j})")
    return f"""
with stats as (
  select min(l_partkey) as min_pk, max(l_partkey) as max_pk,
         min(l_suppkey) as min_sk, max(l_suppkey) as max_sk
  from lineitem
),
cells as (
  select l_orderkey, l_linenumber,
         {cells[0]} as ca, {cells[1]} as cb
  from lineitem cross join stats
)
select l_orderkey, l_linenumber,
       cast({' + '.join(terms)} as bigint) as zkey
from cells
"""


def _q44_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from exon_spark.operators import pack_sequences

    # bucket_rows=64 forces the two-level prefix sum to exercise many
    # buckets even at sf0.01 (500 docs) — same output as any bucket size.
    return pack_sequences(
        table(spark, sf_dir, "documents"), seq_len=2048, by="source", bucket_rows=64
    )


Q44_ORACLE = """
with d as (
  select doc_id, source,
         cast(len(regexp_split_to_array(lower(trim(text)), '\\s+')) as int)
           as n_tokens
  from documents
),
c as (
  select doc_id, source, n_tokens,
         sum(n_tokens) over (partition by source order by doc_id) as cum
  from d
)
select doc_id, source, n_tokens,
       cast(floor((cum - n_tokens) / 2048) as bigint) as pack_id,
       cast((cum - n_tokens) % 2048 as int) as pack_offset,
       cast(floor((cum - 1) / 2048) - floor((cum - n_tokens) / 2048) + 1 as int)
         as n_packs
from c
"""


def _q45_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from exon_spark.operators import corpus_top_ngrams

    return corpus_top_ngrams(table(spark, sf_dir, "documents"), n=2, k=25)


Q45_ORACLE = """
with tok as (
  select doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') as toks
  from documents
),
g as (
  select doc_id, toks[i] || ' ' || toks[i + 1] as gram
  from tok, unnest(range(1, greatest(len(toks) - 1, 0) + 1)) as t(i)
)
select gram, count(*) as n_occurrences, count(distinct doc_id) as n_docs
from g group by gram
order by n_occurrences desc, gram
limit 25
"""


def _q46_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-recipe epoch mixing UNION temperature mixing (r9 fusion):
    the same budget mixed twice — once with hand-written target weights,
    once with weights the corpus derives itself via the mT5/XLM-R
    ``p^alpha`` temperature rule (alpha=0.5 -> sqrt flattening). The
    ``mix`` column discriminates. The oracle recomputes the temperature
    weights with the SAME sorted-order left-fold of IEEE doubles
    (DuckDB ``list_sum(list(sqrt(t) order by source))`` mirrors the
    driver's sorted Python sum bit-exactly), so the derived weights —
    not just the repeat mechanics — are hash-gated."""
    from exon_spark.operators import epoch_mix, temperature_mix

    docs = table(spark, sf_dir, "documents")
    fixed = epoch_mix(
        docs,
        target_weights={"src0": 0.5, "src1": 0.3, "src2": 0.2},
        total_tokens=120_000,
    ).withColumn("mix", F.lit("target"))
    temp = temperature_mix(docs, total_tokens=120_000, alpha=0.5).withColumn(
        "mix", F.lit("temperature")
    )
    return fixed.unionByName(temp)


Q46_ORACLE = """
with d as (
  select doc_id, source,
         cast(len(regexp_split_to_array(lower(trim(text)), '\\s+')) as int)
           as n_tokens,
         ('0x' || substr(md5(doc_id::varchar), 1, 8))::bigint % 1000000 as h
  from documents
),
s as (select source, sum(n_tokens) as src_tokens from d group by source),
z as (
  select list_sum(list_transform(list(cast(src_tokens as double) order by source),
                                 t -> sqrt(t))) as zsum
  from s where source is not null and src_tokens > 0
),
f as (
  select source, src_tokens,
         (120000.0 * case source when 'src0' then 0.5
                                 when 'src1' then 0.3
                                 when 'src2' then 0.2 else 0.0 end)
           / src_tokens as fac,
         'target' as mix
  from s
  union all
  select source, src_tokens,
         (120000.0 * (sqrt(cast(src_tokens as double)) / zsum)) / src_tokens
           as fac,
         'temperature' as mix
  from s cross join z where source is not null and src_tokens > 0
),
c as (
  select d.doc_id, d.source, d.n_tokens, f.mix,
         cast(floor(fac) + (case when d.h < floor((fac - floor(fac)) * 1000000)
                                 then 1 else 0 end) as int) as n_copies
  from d join f using (source)
)
select doc_id, source, n_tokens, cast(t.i as int) as copy_n, mix
from c, unnest(range(1, n_copies + 1)) as t(i)
where n_copies >= 1
"""


def _q48_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from exon_spark.operators import ngram_containment_pairs

    # hashed=True: the inverted-index join and the pair agg carry 8-byte
    # xxhash64 keys instead of ~40-byte shingle strings — the same
    # shuffle diet the minhash family's verify joins run on (guide §2.3,
    # narrower keys; operator parity pinned by
    # test_ngram_containment_quote_detection, output oracle-exact)
    return ngram_containment_pairs(
        table(spark, sf_dir, "documents"), threshold=0.6, hashed=True
    )


Q48_ORACLE = f"""
with {_SHINGLES_DUCK}, {_JACCARD_TAIL}
select doc_a, doc_b, n_common,
       round(cast(n_common as double) / x.n_sh, 6) as containment_a,
       round(cast(n_common as double) / y.n_sh, 6) as containment_b
from common join cnt x on doc_a = x.doc_id join cnt y on doc_b = y.doc_id
where greatest(round(cast(n_common as double) / x.n_sh, 6),
               round(cast(n_common as double) / y.n_sh, 6)) >= 0.6
"""


def _q52_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fused gate (the q42 precedent): unigram and bigram perplexity share
    # the documents tokenization; one row gates ppl_buckets AND the r8
    # bigram_logppl, each with its own per-language tertile. Inner join:
    # a doc with < 2 tokens has no bigram score (none exist at sf0.01;
    # the edge is pinned by pytest).
    # Also fused (r8): corpus_stats per language — each doc row carries
    # its language slice's report-card columns (lang_ prefix); the
    # oracle mirrors the exact percentile via quantile_cont.
    from pyspark.sql import Window

    from exon_spark.operators import corpus_stats, lm_ladder

    docs = table(spark, sf_dir, "documents")
    # ONE shared-frame pass scores all three rungs (r12: the standalone
    # rungs re-tokenized the corpus ~10x and re-fit the vocab 3x / the
    # bigram table 2x; lm_ladder materializes the shared frames once and
    # is pinned bit-equal — integer micro-unit sums — to the standalones)
    lad = lm_ladder(docs)
    cs = corpus_stats(docs).select(
        "lang",
        F.col("n_docs").alias("lang_n_docs"),
        F.col("n_tokens").alias("lang_n_tokens"),
        F.col("avg_tokens").alias("lang_avg_tokens"),
        F.col("p50_tokens").alias("lang_p50_tokens"),
        F.col("p95_tokens").alias("lang_p95_tokens"),
    )
    # Each rung's tertile is ranked over ITS OWN population (docs with
    # >= 2 / >= 3 tokens): docs without the rung (NULL n_bigrams /
    # n_trigrams) form their own window partition and keep NULL bucket
    # columns instead of silently vanishing, and no rung's tertile
    # population depends on another rung's (r8 advice; the q42 coalesce
    # precedent). At gate SFs no short docs exist, so rows are unchanged;
    # at future SFs this stays well-defined. All three tertiles are
    # windows over ONE `base`: a self-join per rung planned lm_ladder's
    # whole scoring plan once per copy.
    base = docs.select("doc_id", "lang").join(lad, "doc_id")

    def tertile(score: str, present: str | None = None):
        part = ["lang"] if present is None else ["lang", F.col(present).isNull()]
        pr = F.percent_rank().over(
            Window.partitionBy(*part).orderBy(score, "doc_id")
        )
        bucket = (
            F.when(pr < 1.0 / 3, "head")
            .when(pr < 2.0 / 3, "middle")
            .otherwise("tail")
        )
        return bucket if present is None else F.when(F.col(present).isNotNull(), bucket)

    d = base.select(
        "*",
        tertile("logppl").alias("ppl_bucket"),
        tertile("logppl2", "n_bigrams").alias("ppl2_bucket"),
        tertile("logppl3", "n_trigrams").alias("ppl3_bucket"),
    ).join(F.broadcast(cs), "lang")
    return d.select(
        "doc_id", "lang", "n_tokens", "logppl", "ppl_bucket",
        "n_bigrams", "logppl2", "ppl2_bucket",
        "n_trigrams", "logppl3", "ppl3_bucket",
        "lang_n_docs", "lang_n_tokens", "lang_avg_tokens",
        "lang_p50_tokens", "lang_p95_tokens",
    )


Q52_ORACLE = """
with tok as (
  select doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) as tok
  from documents
),
vocab as (select tok, count(*) as tok_n from tok group by tok),
total as (select sum(tok_n) as corpus_tokens from vocab),
scored as (
  -- portable micro-unit quantizer (r11): floor(x*1e6 + 0.5) is pure
  -- IEEE arithmetic, bit-identical across engines (round(x, 6) is not)
  select doc_id,
         cast(floor(-ln(tok_n / corpus_tokens) * 1000000.0 + 0.5) as bigint) as nllm
  from tok join vocab using (tok) cross join total
),
ppl as (
  select doc_id, cast(count(*) as int) as n_tokens,
         floor(cast(sum(nllm) as double) / cast(count(*) as double)
               / 1000000.0 * 10000.0 + 0.5) / 10000.0 as logppl
  from scored group by doc_id
),
ta as (
  select doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') as toks
  from documents
),
pair as (
  select doc_id, s[1] as prev, s[2] as cur from ta,
    unnest(list_transform(range(1, greatest(len(toks) - 1, 0) + 1),
           i -> [toks[i], toks[i+1]])) as t(s)
),
big as (select prev, cur, count(*) as big_n from pair group by prev, cur),
ctx as (select prev, sum(big_n) as ctx_n from big group by prev),
scored2 as (
  select doc_id,
         cast(floor(-ln(0.9 * (big_n / ctx_n)
                        + (1 - 0.9) * (tok_n / corpus_tokens))
                    * 1000000.0 + 0.5) as bigint) as nllm
  from pair join big using (prev, cur) join ctx using (prev)
       join vocab on vocab.tok = pair.cur
       cross join total
),
ppl2 as (
  select doc_id, cast(count(*) as int) as n_bigrams,
         floor(cast(sum(nllm) as double) / cast(count(*) as double)
               / 1000000.0 * 10000.0 + 0.5) / 10000.0 as logppl2
  from scored2 group by doc_id
),
trirows as (
  select doc_id, s[1] as p2, s[2] as p1, s[3] as tcur from ta,
    unnest(list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
           i -> [toks[i], toks[i+1], toks[i+2]])) as t(s)
),
trig as (
  select p2, p1, tcur, count(*) as tri_n from trirows group by p2, p1, tcur
),
ctx3 as (select p2, p1, sum(tri_n) as ctx3_n from trig group by p2, p1),
tribase as materialized (
  -- staged on purpose: the flat 7-way join (trirows x trig x ctx3 x big
  -- x ctx x vocab x total) sends DuckDB's join-order optimizer into a
  -- multi-minute search even at sf0.001; materializing the trigram side
  -- first (3-way, then 4-way) runs in milliseconds with identical rows
  select doc_id, p1, tcur, tri_n, ctx3_n
  from trirows join trig using (p2, p1, tcur) join ctx3 using (p2, p1)
),
scored3 as (
  select doc_id,
         cast(floor(-ln(0.7 * (tri_n / ctx3_n)
                        + (1 - 0.7) * (0.9 * (big_n / ctx_n)
                                       + (1 - 0.9) * (tok_n / corpus_tokens)))
                    * 1000000.0 + 0.5) as bigint) as nllm
  from tribase
       join big on big.prev = tribase.p1 and big.cur = tribase.tcur
       join ctx on ctx.prev = tribase.p1
       join vocab on vocab.tok = tribase.tcur
       cross join total
),
ppl3 as (
  select doc_id, cast(count(*) as int) as n_trigrams,
         floor(cast(sum(nllm) as double) / cast(count(*) as double)
               / 1000000.0 * 10000.0 + 0.5) / 10000.0 as logppl3
  from scored3 group by doc_id
),
ranked1 as (
  -- each rung ranks over ITS OWN population, mirroring the Spark side's
  -- per-rung windows + left joins
  select d.doc_id, d.lang, p.n_tokens, p.logppl,
         percent_rank() over (partition by d.lang
                              order by p.logppl, d.doc_id) as pr
  from documents d join ppl p using (doc_id)
),
ranked2 as (
  select d.doc_id, b.n_bigrams, b.logppl2,
         case when percent_rank() over (partition by d.lang
                   order by b.logppl2, d.doc_id) < 1.0/3 then 'head'
              when percent_rank() over (partition by d.lang
                   order by b.logppl2, d.doc_id) < 2.0/3 then 'middle'
              else 'tail' end as ppl2_bucket
  from documents d join ppl2 b using (doc_id)
),
ranked3 as (
  select d.doc_id, t3.n_trigrams, t3.logppl3,
         case when percent_rank() over (partition by d.lang
                   order by t3.logppl3, d.doc_id) < 1.0/3 then 'head'
              when percent_rank() over (partition by d.lang
                   order by t3.logppl3, d.doc_id) < 2.0/3 then 'middle'
              else 'tail' end as ppl3_bucket
  from documents d join ppl3 t3 using (doc_id)
),
ranked as (
  select * from ranked1
  left join ranked2 using (doc_id)
  left join ranked3 using (doc_id)
),
cs as (
  select lang, count(*) as lang_n_docs,
         cast(sum(len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
             x -> x <> ''))) as bigint) as lang_n_tokens,
         floor(cast(sum(len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
             x -> x <> ''))) as double) / cast(count(*) as double)
             * 1000000.0 + 0.5) / 1000000.0 as lang_avg_tokens,
         quantile_cont(len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
             x -> x <> '')), 0.5) as lang_p50_tokens,
         quantile_cont(len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
             x -> x <> '')), 0.95) as lang_p95_tokens
  from documents group by lang
)
select doc_id, ranked.lang, n_tokens, logppl,
       case when pr < 1.0/3 then 'head'
            when pr < 2.0/3 then 'middle'
            else 'tail' end as ppl_bucket,
       n_bigrams, logppl2, ppl2_bucket,
       n_trigrams, logppl3, ppl3_bucket,
       lang_n_docs, lang_n_tokens, lang_avg_tokens,
       lang_p50_tokens, lang_p95_tokens
from ranked join cs using (lang)
"""


def _q51_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb-style corpus-level line dedup. Boilerplate is planted
    deterministically (the synthetic corpus has no shared nav/footer
    lines of its own): every doc_id % 3 == 0 doc gains a nav header and
    a copyright footer, every doc_id % 7 == 2 doc a newsletter CTA —
    those lines cross the min_df=2 document-frequency bar and must be
    stripped, while each doc's unique body line(s) survive and
    reassemble in original order. Replaces the r6 q51 redact_pii gate,
    which is now covered by q35's fused redact=True output (identical
    text/n_redactions spelling) + the pytest parity pin."""
    from exon_spark.operators import line_dedup

    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.when(F.col("doc_id") % 3 == 0, F.lit("HOME | ABOUT | CONTACT")),
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.lit("(c) 2024 Example Corp - All rights reserved"),
            ),
            F.when(F.col("doc_id") % 7 == 2, F.lit("Subscribe to our newsletter")),
        ).alias("text"),
    )
    return line_dedup(d, min_df=2)


Q51_ORACLE = """
with planted as (
  select doc_id,
         concat_ws(chr(10),
           case when doc_id % 3 = 0 then 'HOME | ABOUT | CONTACT' end,
           text,
           case when doc_id % 3 = 0 then '(c) 2024 Example Corp - All rights reserved' end,
           case when doc_id % 7 = 2 then 'Subscribe to our newsletter' end
         ) as text
  from documents
),
la as (select doc_id, string_split(text, chr(10)) as arr from planted),
l as (
  select doc_id, cast(len(arr) as int) as n_lines,
         unnest(range(1, len(arr) + 1)) as pos,
         unnest(arr) as line
  from la
),
hot as (
  select line
  from (select line, count(distinct doc_id) as line_df from l group by line)
  where line_df >= 2
)
select doc_id,
       string_agg(line, chr(10) order by pos) as text,
       max(n_lines) as n_lines,
       cast(count(*) as int) as n_kept
from l
where line not in (select line from hot)
group by doc_id
"""


def _q50_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from exon_spark.operators import chunk_documents

    return chunk_documents(
        table(spark, sf_dir, "documents"), chunk_tokens=64, overlap=16
    )


Q50_ORACLE = """
with tok as (
  select doc_id, regexp_split_to_array(trim(text), '\\s+') as toks
  from documents
),
n as (
  select doc_id, toks, len(toks) as nt,
         case when len(toks) <= 64 then 1
              else cast(floor((len(toks) - 64 + 48 - 1) / 48.0) as int) + 1
         end as n_chunks
  from tok
)
select doc_id,
       cast(t.i as int) as chunk_id,
       cast(t.i * 48 as int) as start_tok,
       cast(len(toks[t.i * 48 + 1 : least(t.i * 48 + 64, nt)]) as int)
         as n_chunk_tokens,
       array_to_string(toks[t.i * 48 + 1 : least(t.i * 48 + 64, nt)], ' ')
         as chunk_text
from n, unnest(range(0, n_chunks)) as t(i)
"""


def _q49_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from exon_spark.operators import tfidf_keywords

    return tfidf_keywords(table(spark, sf_dir, "documents"), k=3)


Q49_ORACLE = """
with tok as (
  select doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') as toks
  from documents
),
tr as (select doc_id, t as term from tok, unnest(toks) as u(t)),
tf as (select doc_id, term, count(*) as tf from tr group by doc_id, term),
dfreq as (select term, count(*) as dfx from tf group by term),
n as (select count(distinct doc_id) as nd from documents),
scored as (
  select tf.doc_id, tf.term, tf.tf,
         round(tf.tf * ln(nd * 1.0 / dfx), 6) as score
  from tf join dfreq using (term) cross join n
),
r as (
  select *, row_number() over (partition by doc_id
                               order by score desc, term) as rank
  from scored
)
select doc_id, term, tf, score, cast(rank as int) as rank
from r where rank <= 3
"""


def _q47_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from exon_spark.operators import semantic_dedup

    em = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = em.filter((F.col("vec_id") % 10) == 0).select(
        (F.col("vec_id") + 1_000_000_000).alias("vec_id"), "embedding"
    )
    # auto-k (= ceil(sqrt(n)) centroids): the r9 sf1 replica measured
    # fixed k=16 growing 19x at 10x vectors (the within-cluster pair
    # stage is O(n^2/k)); auto-k holds the whole operator at ~2x and the
    # oracle recomputes the same k from the same count
    return semantic_dedup(
        em.unionAll(planted), n_clusters="auto", threshold=0.95
    )


def _q47_oracle() -> str:
    cos_assign = _COS64.format(a="d.embedding", b="c.cemb")
    cos_pair = _COS64.format(a="x.embedding", b="y.embedding")
    return f"""
with d as (
  select vec_id, embedding from embeddings
  union all
  select vec_id + 1000000000 as vec_id, embedding from embeddings where vec_id % 10 = 0
),
h as (
  select vec_id, embedding,
         ('0x' || substr(md5(vec_id::varchar), 1, 8))::bigint as hh
  from d
),
cents as (
  select vec_id as cidx, embedding as cemb
  from h order by hh, vec_id
  limit (select greatest(16, cast(ceil(sqrt(count(*))) as int)) from d)
),
scored as (
  select d.vec_id, d.embedding, c.cidx, round({cos_assign}, 6) as cos
  from d cross join cents c
),
assign as (
  select vec_id, embedding, cidx as cluster_id from (
    select *, row_number() over (partition by vec_id order by -cos, cidx) as rn
    from scored
  ) where rn = 1
)
select x.cluster_id, x.vec_id as id_a, y.vec_id as id_b,
       round({cos_pair}, 6) as score
from assign x join assign y
  on x.cluster_id = y.cluster_id and x.vec_id < y.vec_id
where round({cos_pair}, 6) >= 0.95
"""


PIPELINE_QUERIES: list[QuerySpec] = [
    QuerySpec("q17_dedup_exact", _q17_spark, Q17_ORACLE, "exact dedup (hash groupBy)"),
    QuerySpec("q18_dedup_ngram_jaccard", _q18_spark, Q18_ORACLE, "n-gram Jaccard near-dup"),
    QuerySpec("q19_dedup_minhash_lsh", _q19_spark, Q19_ORACLE, "MinHash+LSH near-dup"),
    QuerySpec("q20_dedup_simhash", _q20_spark, Q20_ORACLE, "SimHash banding near-dup"),
    QuerySpec("q21_similarity_cosine_topk", _q21_spark, Q21_ORACLE, "brute-force cosine top-k + fused int8 rescore + semantic decontamination"),
    QuerySpec("q22_similarity_ann_lsh", _q22_spark, _q22_oracle(), "LSH-bucketed ANN similarity join"),
    # q23 gates three operators in one fused scan (text_stats, lang_id,
    # fingerprint) — merged in r6 so the 52-op registry fits the driver's
    # 50-entry correctness window with every operator still oracle-gated.
    QuerySpec(
        "q23_text_profile",
        _q23_spark,
        _q23_profile_oracle(),
        "fused token/quality stats + language ID + fingerprints (one scan)",
    ),
    QuerySpec("q26_multimodal_decode", _q26_spark, _q26_oracle(), "binary payload decode stub + fused 64-bit aHash fingerprint"),
    QuerySpec("q27_similarity_ann_ivf", _q27_spark, _q27_oracle(), "IVF-cell ANN top-k"),
    QuerySpec("q28_dedup_embedding_cosine", _q28_spark, _q28_oracle(), "embedding-cosine near-dup"),
    QuerySpec("q31_dedup_clusters", _q31_spark, Q31_ORACLE, "connected components over near-dup pairs"),
    QuerySpec("q32_corpus_mix", _q32_spark, Q32_ORACLE, "stratified corpus mixing + deterministic training-order shard assignment"),
    QuerySpec("q34_decontaminate", _q34_spark, Q34_ORACLE, "train/eval n-gram overlap check"),
    QuerySpec("q35_pii_stats", _q35_spark, _q35_oracle(), "PII signal counts + fused typed-placeholder redaction (one scan)"),
    QuerySpec("q36_quality_signals", _q36_spark, _q36_oracle(), "Gopher repetition filters + fused hashed-NB and frozen-coefficient logistic quality classifiers"),
    QuerySpec("q37_dup_ngram_coverage", _q37_spark, Q37_ORACLE, "cross-doc exact-substring duplication signal + fused keep-one span removal"),
    QuerySpec("q38_bm25_search", _q38_spark, _q38_oracle(), "BM25 ranked search + fused keyword_tag and phrase_tag counts"),
    QuerySpec("q40_dedup_incremental", _q40_spark, Q40_ORACLE, "new-batch-vs-index minhash dedup + fused bloom-prefiltered exact membership"),
    QuerySpec("q41_token_budget_cap", _q41_spark, Q41_ORACLE, "deterministic per-source token budget"),
    QuerySpec("q42_unigram_logppl", _q42_spark, Q42_ORACLE, "unigram log-perplexity + DSIR importance weights (fused)"),
    QuerySpec("q43_zorder_key", _q43_spark, _q43_oracle(), "Morton/Z-order clustering key (OPTIMIZE ZORDER analogue)"),
    QuerySpec("q44_pack_sequences", _q44_spark, Q44_ORACLE, "concatenate-and-chop packing via distributed prefix sum"),
    QuerySpec("q45_top_ngrams", _q45_spark, Q45_ORACLE, "corpus n-gram heavy hitters (stop-shingle profiling)"),
    QuerySpec("q46_epoch_mix", _q46_spark, Q46_ORACLE, "target-weight + fused corpus-derived temperature mixing, deterministic repeats"),
    QuerySpec("q47_semantic_dedup", _q47_spark, _q47_oracle(), "SemDeDup cluster-blocked embedding dedup"),
    QuerySpec("q48_containment_pairs", _q48_spark, Q48_ORACLE, "shingle containment (quote/partial-copy detection)"),
    QuerySpec("q49_tfidf_keywords", _q49_spark, Q49_ORACLE, "per-doc TF-IDF keyword extraction"),
    QuerySpec("q50_chunk_documents", _q50_spark, Q50_ORACLE, "overlapping token-window chunking (RAG/embedding prep)"),
    QuerySpec("q51_line_dedup", _q51_spark, Q51_ORACLE, "corpus-level boilerplate line removal (RefinedWeb line-wise dedup)"),
    QuerySpec("q52_ppl_buckets", _q52_spark, Q52_ORACLE, "per-language perplexity tertiles (unigram/bigram/trigram LM ladder) + fused corpus report card"),
]
