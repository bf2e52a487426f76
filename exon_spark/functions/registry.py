"""SQL-surface registration of the domain functions.

Mirrors the reference's ``register_udfs`` (exon_context_ext.rs:192-213): after
``register_sql_functions(spark)``, every function in SURVEY.md §2.4 is
callable from ``spark.sql`` under its reference name.

Spark-first detail: expression-backed functions are registered as **SQL scalar
functions** (``CREATE OR REPLACE TEMPORARY FUNCTION ... RETURN <expr>``,
Spark 3.5+/4.x) so the SQL surface stays JVM-side and inlineable by Catalyst —
NOT as Python UDFs. Only ``alignment_score`` and ``locate_regex`` register
pandas UDFs.

Cost: all SQL functions are created by one ``BEGIN ... END`` SQL script,
and ``exon_spark.register_all`` calls this once per SparkSession object.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from exon_spark.functions.samflags import SAM_FLAG_MASKS
from exon_spark.functions.sequence import _alignment_score_udf, _locate_regex_udf

# name -> (typed arg list, return type, SQL body)
_SQL_FUNCTIONS: dict[str, tuple[str, str, str]] = {
    "gc_content": (
        "(seq STRING)",
        "FLOAT",
        """CASE WHEN length(seq) = 0 THEN CAST('NaN' AS FLOAT)
           ELSE CAST(length(seq) - length(translate(seq, 'GC', '')) AS FLOAT)
                / CAST(length(seq) AS FLOAT) END""",
    ),
    "reverse_complement": (
        "(seq STRING)",
        "STRING",
        "translate(reverse(seq), 'ACGTacgt', 'TGCAtgca')",
    ),
    "trim_polya": (
        "(seq STRING)",
        "STRING",
        "regexp_replace(seq, '[Aa]+$', '')",
    ),
    "integer_encoding": (
        "(seq STRING, alphabet STRING)",
        "ARRAY<SMALLINT>",
        """CASE WHEN length(seq) >= 1 THEN transform(
             transform(sequence(1, length(seq)), i -> instr(alphabet, substring(seq, i, 1)) - 1),
             v -> CASE WHEN v >= 0 THEN CAST(v AS SMALLINT) END)
           ELSE CAST(array() AS ARRAY<SMALLINT>) END""",
    ),
    "quality_scores_to_list": (
        "(q STRING)",
        "ARRAY<INT>",
        """CASE WHEN length(q) >= 1
           THEN transform(sequence(1, length(q)), i -> ascii(substring(q, i, 1)) - 33)
           ELSE CAST(array() AS ARRAY<INT>) END""",
    ),
    "quality_scores_to_string": (
        "(scores ARRAY<INT>)",
        "STRING",
        "array_join(transform(scores, s -> char(s + 33)), '')",
    ),
    "contains_peak": (
        "(mz ARRAY<DOUBLE>, peak DOUBLE, tol DOUBLE)",
        "BOOLEAN",
        "exists(mz, x -> abs(x - peak) <= tol)",
    ),
    "bin_vectors": (
        "(mz ARRAY<DOUBLE>, intensity ARRAY<DOUBLE>, min_mz DOUBLE, num_bins BIGINT, bin_width DOUBLE)",
        "ARRAY<DOUBLE>",
        """transform(sequence(0, CAST(num_bins AS INT) - 1), b ->
             aggregate(
               zip_with(mz, intensity, (m, i) -> struct(m AS m, i AS i)),
               CAST(0.0 AS DOUBLE),
               (acc, x) -> acc + CASE WHEN x.m IS NOT NULL AND x.i IS NOT NULL
                 AND x.m >= min_mz AND x.m <= min_mz + CAST(num_bins AS DOUBLE) * bin_width
                 AND CAST(floor((x.m - min_mz) / bin_width) AS INT) = b
                 THEN x.i ELSE CAST(0.0 AS DOUBLE) END))""",
    ),
    # region predicates: the SQL forms take the region already split out; the
    # string-region forms parse inline with regexp_extract.
    "region_match": (
        "(chrom STRING, pos BIGINT, region STRING)",
        "BOOLEAN",
        """chrom = regexp_extract(region, '^([^:]+)', 1)
           AND pos >= COALESCE(try_cast(regexp_extract(region, '^[^:]+:(\\\\d+)', 1) AS BIGINT), 1)
           AND pos <= COALESCE(try_cast(regexp_extract(region, '^[^:]+:\\\\d+-(\\\\d+)', 1) AS BIGINT), 9223372036854775807)""",
    ),
    "chrom_match": (
        "(chrom STRING, region STRING)",
        "BOOLEAN",
        "chrom = regexp_extract(region, '^([^:]+)', 1)",
    ),
    "interval_match": (
        # region here is a bare interval 'start-end' (udfs/vcf/mod.rs:221;
        # vcf-udfs.slt uses interval_match(pos, '1-1'))
        "(pos BIGINT, region STRING)",
        "BOOLEAN",
        """pos >= COALESCE(try_cast(regexp_extract(region, '^(?:[^:]*:)?(\\\\d+)', 1) AS BIGINT), 1)
           AND pos <= COALESCE(try_cast(regexp_extract(region, '(\\\\d+)$', 1) AS BIGINT), 9223372036854775807)""",
    ),
}

# interval-overlap region filters share one body template
_OVERLAP_BODY = """reference = regexp_extract(region, '^([^:]+)', 1)
  AND (start_pos IS NULL OR start_pos <=
       COALESCE(try_cast(regexp_extract(region, '^[^:]+:\\\\d+-(\\\\d+)', 1) AS BIGINT), 9223372036854775807))
  AND (end_pos IS NULL OR end_pos >=
       COALESCE(try_cast(regexp_extract(region, '^[^:]+:(\\\\d+)', 1) AS BIGINT), 1))"""

for _n in ("vcf_region_filter",):
    # pos is optional (reference: vcf_region_filter(region, chrom [,pos]),
    # udfs/vcf/vcf_region_filter.rs) — chrom-only form matches on name alone
    _SQL_FUNCTIONS[_n] = (
        "(region STRING, chrom STRING, pos BIGINT DEFAULT NULL)",
        "BOOLEAN",
        """chrom = regexp_extract(region, '^([^:]+)', 1)
           AND (pos IS NULL OR (
             pos >= COALESCE(try_cast(regexp_extract(region, '^[^:]+:(\\\\d+)', 1) AS BIGINT), 1)
             AND pos <= COALESCE(try_cast(regexp_extract(region, '^[^:]+:\\\\d+-(\\\\d+)', 1) AS BIGINT), 9223372036854775807)))""",
    )
for _n in (
    "bam_region_filter",
    "cram_region_filter",
    "gff_region_filter",
    "bigwig_region_filter",
):
    _SQL_FUNCTIONS[_n] = (
        "(region STRING, reference STRING, "
        "start_pos BIGINT DEFAULT NULL, end_pos BIGINT DEFAULT NULL)",
        "BOOLEAN",
        _OVERLAP_BODY,
    )
_SQL_FUNCTIONS["fasta_region_filter"] = (
    "(region STRING, id STRING)",
    "BOOLEAN",
    "id = regexp_extract(region, '^([^:]+)', 1)",
)


def _install_script() -> str:
    """One ``BEGIN ... END`` SQL script that creates every SQL function."""
    stmts = [
        f"CREATE OR REPLACE TEMPORARY FUNCTION {name}{args} RETURNS {ret} RETURN {body}"
        for name, (args, ret, body) in _SQL_FUNCTIONS.items()
    ]
    stmts += [
        f"CREATE OR REPLACE TEMPORARY FUNCTION {name}(flag INT) RETURNS BOOLEAN "
        f"RETURN (flag & {mask}) != 0"
        for name, mask in SAM_FLAG_MASKS.items()
    ]
    return "BEGIN\n" + ";\n".join(stmts) + ";\nEND"


def register_sql_functions(spark: SparkSession) -> None:
    """Register the full §2.4 function surface for ``spark.sql`` use.

    The 30 SQL functions go in as one SQL script (Spark 4.1 runs
    ``BEGIN ... END`` eagerly in ``spark.sql``): one py4j round trip
    instead of 30 separately parsed and analysed statements (timings in
    SCALE.md "Session set-up cost")."""
    spark.sql(_install_script())
    spark.udf.register("alignment_score", _alignment_score_udf())
    spark.udf.register("locate_regex", _locate_regex_udf())
