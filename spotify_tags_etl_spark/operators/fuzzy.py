"""Fuzzy similarity top-1 matching — the reference's signature operator (J3).

Reference semantics (``spotify_client.py:140-179`` + callers ``:247-326``):
for each local keyword (artist/album/track name), score every candidate
with ``fuzz.ratio`` over normalized strings, pick the argmax, and split on
a confidence threshold (≥ 70 → match; below → audit side-output,
``spotify_client.py:177-178``). The early exit at score 100 is a serial
scan optimization with no effect on the result — dropped (SURVEY §4).

Spark shape: candidate pairing (blocked or exact) → vectorized scoring →
window argmax → threshold split. At 100 TB the exact all-pairs score is a
cross product, so the scale path *blocks* candidates on cheap keys
(normalized prefix + length band) before scoring — standard
entity-resolution blocking; recall loss is bounded by the block rule and
the exact path remains available per key-group.
"""

from __future__ import annotations

from typing import Mapping

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from spotify_tags_etl_spark.functions.text import normalize_udf, ratio_udf
from spotify_tags_etl_spark.plans.registry import register
from spotify_tags_etl_spark.sources.tpch import load_table

DEFAULT_THRESHOLD = 70.0  # reference config/settings_example.toml:34


def _norm_key(col):
    return F.lower(normalize_udf(col))


def fuzzy_top_match(
    local: DataFrame,
    candidates: DataFrame,
    local_key: str,
    candidate_name: str,
    threshold: float = DEFAULT_THRESHOLD,
    block: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Return ``(matches, audit)``: best candidate per local row.

    ``matches``: rows with ``best_name``, ``score`` ≥ threshold.
    ``audit``: below-threshold best matches (reference dumps these to JSON
    for human review — keep them as a frame; the caller sinks them).

    ``block=True`` prunes candidate pairs to same first-normalized-char
    and length within ±50% before scoring; ``block=False`` scores all
    pairs (exact reference parity, viable within a key group).
    """
    loc = local.withColumn("_norm_local", _norm_key(F.col(local_key)))
    cand = candidates.withColumn("_norm_cand", _norm_key(F.col(candidate_name)))

    if block:
        # LEFT join with the blocking predicate IN the join condition:
        # a local row whose block has no candidate must still surface (as
        # an audit row with score 0), never silently vanish — blocking may
        # degrade the best match, not delete keywords.
        loc = loc.withColumn("_blk", F.substring("_norm_local", 1, 1))
        cand = cand.withColumn("_blk", F.substring("_norm_cand", 1, 1))
        cond = (
            (loc["_blk"] == cand["_blk"])
            & (F.length(cand["_norm_cand"]) >= (F.length(loc["_norm_local"]) * 0.5).cast("int"))
            & (F.length(cand["_norm_cand"]) <= (F.length(loc["_norm_local"]) * 1.5).cast("int") + 1)
        )
        paired = loc.join(F.broadcast(cand), cond, "left")
    else:
        paired = loc.crossJoin(F.broadcast(cand))

    scored = paired.withColumn(
        "score", F.coalesce(ratio_udf(F.col("_norm_local"), F.col("_norm_cand")), F.lit(0.0))
    )
    # Argmax per LOCAL ROW, not per keyword value: partitioning on the
    # keyword column alone collapses distinct local rows that share a
    # keyword into one arbitrary survivor. All local columns form the
    # per-row identity (the reference loops rows, not distinct names).
    w = Window.partitionBy(*[loc[c] for c in local.columns]).orderBy(
        F.desc("score"), F.asc(candidate_name)
    )
    best = (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn", "_blk", "_norm_local", "_norm_cand")
        .withColumnRenamed(candidate_name, "best_name")
    )
    return best.where(F.col("score") >= threshold), best.where(F.col("score") < threshold)


def offline_lookup(ids: Mapping[str, str], key: str, default: str = "not_found") -> Column:
    """J4 (sql/offline_ids.py:3-46): literal-map lookup with default.

    Returns ``coalesce(map_literal[key], default)`` as a Column — the
    deterministic test seam replacing the live API. The map is built
    only from literals, so Catalyst folds it to one constant: the lookup
    is a projection with no join, exchange or job, and touches no
    caller column. Map lookup is linear in map size; it is sized for
    the fixed 9-12-entry offline dicts, and a large ID table belongs in
    a real join."""
    lit_map = F.create_map(*[F.lit(v) for kv in ids.items() for v in kv])
    return F.coalesce(lit_map[F.col(key)], F.lit(default))


# ---------------------------------------------------------------------------
# Driver-checkable registrations on the star schema.
# ---------------------------------------------------------------------------


@register(
    "q29_fuzzy_topk_levenshtein",
    oracle="""
    SELECT p_partkey, p_name, best_name, lev
    FROM (
      SELECT p_partkey, p_name, s_name AS best_name,
             levenshtein(p_name, s_name) AS lev,
             ROW_NUMBER() OVER (PARTITION BY p_partkey
                                ORDER BY levenshtein(p_name, s_name), s_name) AS rn
      FROM part, supplier
      WHERE p_partkey % 100 = 0
    ) WHERE rn = 1
    """,
    doc=(
        "J3 structure with an oracle-checkable metric: per keyword, argmin "
        "edit distance over a broadcast candidate set, window top-1 with "
        "deterministic tiebreak. (Exact fuzz.ratio parity is q30, pandas UDF.)"
    ),
    tags=("fuzzy", "join", "window"),
)
def q29(spark, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").where(F.col("p_partkey") % 100 == 0)
    supplier = load_table(spark, sf_dir, "supplier")
    paired = part.crossJoin(F.broadcast(supplier)).withColumn(
        "lev", F.levenshtein(F.col("p_name"), F.col("s_name"))
    )
    w = Window.partitionBy("p_partkey").orderBy(F.asc("lev"), F.asc("s_name"))
    return (
        paired.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("p_partkey", "p_name", F.col("s_name").alias("best_name"), "lev")
    )


#: fuzz.ratio IS SQL-expressible after all: LCS as a recursive-CTE row-DP.
#: Each recursion step advances one char of ``a`` and rebuilds the DP row
#: with the same prefix-max trick as functions/text.py:_lcs_len — the
#: elementwise max(prev[j], prev[j-1]+match) followed by a running max,
#: done with list_transform + a list_reduce fold (list-typed accumulator).
#: Normalization mirrors normalize_text: symbol strip keeping ,.:- →
#: whitespace collapse → trim → deaccent → lower (ASCII corpus, so
#: strip_accents ≡ NFD-drop-combining).
_Q30_ORACLE = r"""
WITH RECURSIVE
kw AS (
  SELECT p_partkey, p_name,
         lower(strip_accents(trim(regexp_replace(
           regexp_replace(p_name, '[!"#$%&''()*+/;<=>?@\[\\\]^_`{|}~]', '', 'g'),
           '\s+', ' ', 'g')))) AS a
  FROM part WHERE p_partkey % 200 = 0
),
cand AS (
  SELECT s_name,
         lower(strip_accents(trim(regexp_replace(
           regexp_replace(s_name, '[!"#$%&''()*+/;<=>?@\[\\\]^_`{|}~]', '', 'g'),
           '\s+', ' ', 'g')))) AS b
  FROM supplier
),
dp(p_partkey, p_name, s_name, a, b, i, row) AS (
  SELECT p_partkey, p_name, s_name, a, b, 0, list_transform(range(0, len(b)+1), x -> 0)
  FROM kw CROSS JOIN cand
  UNION ALL
  SELECT p_partkey, p_name, s_name, a, b, i+1,
    list_concat([0],
      list_reduce(
        list_transform(
          list_transform(range(1, len(b)+1),
            j -> greatest(row[j+1], row[j] + CASE WHEN substr(a, i+1, 1) = substr(b, j, 1) THEN 1 ELSE 0 END)),
          x -> [x]),
        (acc, x) -> list_concat(acc, [greatest(acc[len(acc)], x[1])])))
  FROM dp WHERE i < len(a)
),
scored AS (
  SELECT p_partkey, p_name, s_name,
         CASE WHEN len(a) + len(b) = 0 THEN 100.0
              ELSE ROUND((1.0 - (len(a) + len(b) - 2.0 * row[len(b)+1]) / (len(a) + len(b))) * 100.0, 4)
         END AS score
  FROM dp WHERE i = len(a)
)
SELECT p_partkey, p_name, s_name AS best_name, score
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY p_partkey ORDER BY score DESC, s_name) AS rn
  FROM scored
) WHERE rn = 1
"""


@register(
    "q30_fuzzy_ratio_top1",
    oracle=_Q30_ORACLE,
    doc=(
        "Exact reference J3: fuzz.ratio (indel similarity, pandas UDF) "
        "argmax per keyword with threshold split; golden-tested in "
        "tests/test_fuzzy.py against hand-computed ratios and hash-checked "
        "against a recursive-CTE LCS oracle in DuckDB."
    ),
    tags=("fuzzy", "udf"),
)
def q30(spark, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").where(F.col("p_partkey") % 200 == 0)
    supplier = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    matches, _audit = fuzzy_top_match(
        part, supplier, local_key="p_name", candidate_name="s_name", threshold=0.0, block=False
    )
    return matches.select("p_partkey", "p_name", "best_name", "score")


@register(
    "q31_normalize_text",
    oracle=r"""
    SELECT doc_id,
           TRIM(REGEXP_REPLACE(
             REGEXP_REPLACE(source || ' & (' || lang || ')  ' || substr(text, 1, 40),
                            '[!"#$%&''()*+/;<=>?@\[\\\]^_`{|}~]', '', 'g'),
             '\s+', ' ', 'g')) AS normalized
    FROM documents
    """,
    doc=(
        "F1 normalize (spotify_client.py:181-202) as a pandas UDF, "
        "oracle-checked against an equivalent SQL normalization chain "
        "(symbol strip keeping ,.:- → whitespace collapse → trim; deaccent "
        "is a no-op on this ASCII corpus and is unit-tested on unicode)."
    ),
    tags=("function", "udf", "text"),
)
def q31(spark, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    messy = F.concat(F.col("source"), F.lit(" & ("), F.col("lang"), F.lit(")  "), F.substring("text", 1, 40))
    return docs.select("doc_id", normalize_udf(messy).alias("normalized"))
