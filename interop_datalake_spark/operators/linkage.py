"""Entity resolution (record linkage): blocking + character-bigram
Jaccard scoring as pure column algebra — the classic data-cleaning
step before any per-entity aggregation is trustworthy.

Pipeline (the standard Fellegi-Sunter-shaped reduction):
1. **Normalize**: lowercase, strip non-alphanumerics to single spaces.
2. **Block**: an equi-join key (here: a coarse attribute like region
   plus the name's first character) so candidate pairs are Σ_b |b|²,
   never N² — the same role LSH bands play for MinHash dedup
   (llm/dedup.py), but with a domain key instead of a hash.
3. **Score** candidates: Jaccard over distinct character bigrams of
   the normalized names (JVM `transform`/`array_distinct`/
   `array_intersect` — no UDF), plus optional exact-attribute
   corroboration columns.
4. **Decide**: threshold the score.

Scale shape: bigram arrays are computed once per record before the
join (project, not per-pair); the only shuffle is the blocking
equi-join; scores are rounded to 6 dp so the DuckDB oracle replays
every candidate's score bit-for-bit. Skewed blocks (a too-common
blocking key) are the operational hazard — at 100 TB use two
independent blocking passes (name-prefix OR phone-suffix) and union
the candidates, the standard multi-pass blocking recipe.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def normalize_name(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(
        F.regexp_replace(F.lower(c), r"[^a-z0-9]+", " ")
    )


def _bigrams_expr(colname: str) -> Column:
    """Distinct character bigrams of an (already normalized) string
    column; empty/1-char strings give an empty array. expr-level
    substr because the start position is the lambda variable."""
    # guard: sequence(1, 0) DESCENDS in Spark, so short strings need an
    # explicit empty-array branch, not a clamped upper bound
    return F.array_distinct(
        F.expr(
            f"case when length({colname}) < 2 then array()"
            f" else transform(sequence(1, length({colname}) - 1),"
            f" i -> substr({colname}, i, 2)) end"
        )
    )


def resolve_entities(
    df: DataFrame,
    id_col: str,
    name_col: str,
    block_cols: list[str],
    threshold: float = 0.6,
) -> DataFrame:
    """(id_a, id_b, jaccard): candidate pairs from blocking on
    ``block_cols`` + the normalized name's first character, scored by
    bigram Jaccard, kept at ``score ≥ threshold``. Deterministic:
    id_a < id_b, score rounded to 6 dp."""
    base = df.select(
        F.col(id_col).alias("_id"),
        normalize_name(name_col).alias("_nm"),
        *[F.col(c).alias(f"_b_{c}") for c in block_cols],
    ).withColumn("_bg", _bigrams_expr("_nm")).withColumn(
        "_blk", F.substring("_nm", 1, 1)
    )
    a, b = base.alias("a"), base.alias("b")
    cond = (F.col("a._blk") == F.col("b._blk")) & (
        F.col("a._id") < F.col("b._id")
    )
    for c in block_cols:
        cond = cond & (F.col(f"a._b_{c}") == F.col(f"b._b_{c}"))
    inter = F.size(F.array_intersect(F.col("a._bg"), F.col("b._bg")))
    union = (
        F.size(F.col("a._bg")) + F.size(F.col("b._bg")) - inter
    )
    from interop_datalake_spark.functions.fixedpoint import try_exact_ratio

    # exact 6-dp half-up integer ratio, and the threshold filters on
    # that same 6-dp value on BOTH engines — round(double, 6) of an
    # integer ratio can land exactly half-way on the grid (ewma class)
    return (
        a.join(b, cond)
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            try_exact_ratio(inter, union).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
