"""Training-run planner / eval operators (round 6).

The four queries here cover the last planning steps between a curated
corpus (yp01) and a training job actually consuming it — the pieces a
dataloader needs answered ahead of time, each as exact-integer
relational algebra with a DuckDB oracle:

* ``yv01_mixing_schedule`` — largest-remainder apportionment of a
  fixed-size training block across sources (the source-mixing quota
  table a sampler consumes);
* ``yv02_mrr_eval`` — retrieval-quality eval as exact integer MRR over
  int8-quantized dot products;
* ``yv03_vocab_coverage`` — smallest frequency-ranked vocabulary
  covering ≥99% of token occurrences (tokenizer sizing);
* ``yv04_epoch_shuffle`` — deterministic per-epoch reshuffle plan
  (hash-derived positions, no stored permutation);
* ``yv10_bpe_merge_rounds`` — BPE tokenizer training as relational
  algebra (per-round pair argmax + greedy-left fold merge, one
  corpus-sized pass total).

Reference parity: the reference ETL (averille-demo/spotify-tags-etl)
stops at loading curated rows; these extend the engine along the
training-data axis the build brief mandates, composing with tz04/tz07
(sharding, temperature mixing) and xi04 (curriculum order).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spotify_tags_etl_spark.plans.registry import register
from spotify_tags_etl_spark.sources.tpch import load_table

#: Training-block size apportioned by yv01 (docs per block).
YV01_BLOCK = 1024

#: Query-set stride for yv02 (every 20th vector is a query).
YV02_STRIDE = 20

#: Rank-key scale: key = score * 2^24 - cand_id encodes (score DESC,
#: cand_id ASC) in one int64 (|score| <= 127*127*64 ~ 1.04e6, so
#: |key| <= 1.8e13 — exact in both engines). The id term requires
#: cand_id < 2^24 (~16.7M vectors): a larger id bleeds into the score
#: bits and corrupts ranks IDENTICALLY on both engines, so oracle
#: parity cannot catch it — widen the key to DECIMAL(38,0) on both
#: sides before pointing this at a bigger vector catalog.
YV02_KEY_SCALE = 1 << 24

#: Coverage target for yv03 in permille.
YV03_TARGET_PERMILLE = 990

#: Epochs planned / shard count for yv04.
YV04_EPOCHS, YV04_SHARDS = 3, 8


# ---------------------------------------------------------------------------
# yv01 — largest-remainder source-mixing schedule
# ---------------------------------------------------------------------------


def quota_ctes(rel: str = "documents", prefix: str = "") -> str:
    """yv01's largest-remainder quota chain as reusable CTE text over
    any relation exposing (source, n_chars) — the final CTE
    ``{prefix}quotas`` exposes (source, n_docs, chars, quota). Shared
    with zc05's per-source curriculum (rel=documents), zg02's curated
    curriculum (rel=the zf01 survivor set), and zg10's mix-shift
    report (which instantiates the chain TWICE — full corpus and
    survivors — so ``prefix`` keeps the CTE namespaces disjoint;
    the default empty prefix reproduces the historical text)."""
    p = prefix
    return f"""{p}s AS (
      SELECT source, COUNT(*) AS n_docs, SUM(n_chars) AS chars
      FROM {rel} GROUP BY source
    ),
    {p}t AS (SELECT SUM(chars) AS total FROM {p}s),
    {p}fl AS (
      SELECT source, n_docs, chars,
             CAST(CAST(chars AS HUGEINT) * {YV01_BLOCK} // {p}t.total AS BIGINT) AS fl,
             CAST(CAST(chars AS HUGEINT) * {YV01_BLOCK} % {p}t.total AS BIGINT) AS rem
      FROM {p}s, {p}t
    ),
    {p}e AS (SELECT CAST({YV01_BLOCK} - SUM(fl) AS BIGINT) AS extra FROM {p}fl),
    {p}r AS (
      SELECT {p}fl.*, ROW_NUMBER() OVER (ORDER BY rem DESC, chars DESC, source ASC) AS rk
      FROM {p}fl
    ),
    {p}quotas AS (
      SELECT source, n_docs, chars,
             CAST(fl + CASE WHEN rk <= {p}e.extra THEN 1 ELSE 0 END AS BIGINT) AS quota
      FROM {p}r, {p}e
    )"""


#: The documents-relation instance (yv01's own oracle + zc05's).
YV01_QUOTA_CTES = quota_ctes()


@register(
    "yv01_mixing_schedule",
    oracle=f"""
    WITH {YV01_QUOTA_CTES}
    SELECT source, CAST(n_docs AS BIGINT) AS n_docs, CAST(chars AS BIGINT) AS chars,
           quota
    FROM quotas ORDER BY source
    """,
    doc=(
        "Largest-remainder (Hamilton) apportionment of a "
        f"{YV01_BLOCK}-doc training block across sources, proportional "
        "to each source's char mass — the mixing-quota table a "
        "dataloader consumes per block. Exact by construction: floor "
        "quotas via 128-bit product division (chars x block passes "
        "2^63 once a source holds ~9e15 chars — real at 100 TB), "
        "remainders ranked (rem DESC, chars DESC, source ASC — total "
        "order), the leftover seats topped up one each; quotas sum to "
        "EXACTLY the block size, which the test pins. Shape: one "
        "map-combined groupBy(source), then every remaining step on "
        "the O(#sources) quota frame (broadcast scalars, one tiny "
        "window — xr03's documented bounded-frame pattern). Composes "
        "with tz07 (which draws the sample this schedule sizes)."
    ),
    tags=("training", "planner", "llm-pipeline"),
)
def yv01(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("chars"),
    )
    # O(#sources) rows; without this checkpoint the quota chain
    # (total agg, floor frame, extra-seats agg, final join) re-derives
    # this subtree - and its corpus scan - FOUR times (r7 scan audit).
    from spotify_tags_etl_spark.plans.planmetrics import record_plan

    record_plan(s, "yv01:source_rollup")
    s = s.localCheckpoint(eager=True)
    total = s.agg(F.sum("chars").cast("bigint").alias("total"))
    fl = s.crossJoin(F.broadcast(total)).select(
        "source",
        "n_docs",
        "chars",
        F.expr(
            f"CAST(CAST(chars AS DECIMAL(38,0)) * {YV01_BLOCK} DIV total AS BIGINT)"
        ).alias("fl"),
        F.expr(
            f"CAST(CAST(chars AS DECIMAL(38,0)) * {YV01_BLOCK} % total AS BIGINT)"
        ).alias("rem"),
    )
    extra = fl.agg((F.lit(YV01_BLOCK) - F.sum("fl")).cast("bigint").alias("extra"))
    # O(#sources) frame: the global window is the xr03 bounded-frame
    # pattern (thousands of sources at most), not a data-sized reducer.
    rk = F.row_number().over(
        Window.orderBy(F.col("rem").desc(), F.col("chars").desc(), F.col("source").asc())
    )
    return (
        fl.withColumn("rk", rk)
        .crossJoin(F.broadcast(extra))
        .select(
            "source",
            "n_docs",
            "chars",
            (F.col("fl") + F.when(F.col("rk") <= F.col("extra"), 1).otherwise(0))
            .cast("bigint")
            .alias("quota"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# yv02 — exact integer MRR retrieval eval
# ---------------------------------------------------------------------------

_Q8 = "CAST(floor(CAST({v} AS DOUBLE) * 127) AS BIGINT)"


@register(
    "yv02_mrr_eval",
    oracle=f"""
    WITH qx AS (
      SELECT vec_id AS qid, label AS qlabel,
             unnest(range(1, len(embedding) + 1)) AS i,
             {_Q8.format(v='unnest(embedding)')} AS q
      FROM embeddings WHERE vec_id % {YV02_STRIDE} = 0
    ),
    cx AS (
      SELECT vec_id AS cid, label AS clabel,
             unnest(range(1, len(embedding) + 1)) AS i,
             {_Q8.format(v='unnest(embedding)')} AS q
      FROM embeddings
    ),
    pairs AS (
      SELECT qx.qid, qx.qlabel, cx.cid, cx.clabel,
             SUM(qx.q * cx.q) * {YV02_KEY_SCALE} - cx.cid AS key
      FROM qx JOIN cx ON cx.i = qx.i
      WHERE cx.cid <> qx.qid
      GROUP BY qx.qid, qx.qlabel, cx.cid, cx.clabel
    ),
    rel AS (
      SELECT qid, MAX(key) AS bkey FROM pairs
      WHERE clabel = qlabel GROUP BY qid
    ),
    rk AS (
      SELECT p.qid,
             1 + COUNT(*) FILTER (WHERE p.key > rel.bkey) AS r
      FROM pairs p JOIN rel ON rel.qid = p.qid
      GROUP BY p.qid
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(SUM(1000000 // r) AS BIGINT) AS sum_rr_ppm,
           CAST(SUM(1000000 // r) // COUNT(*) AS BIGINT) AS mrr_ppm
    FROM rk
    """,
    doc=(
        "Retrieval eval as EXACT integer MRR: every "
        f"{YV02_STRIDE}th vector queries the full candidate set, "
        "scored by int8-quantized dot product (vx02/ye01's floor "
        "spelling — engine-exact); the first relevant hit's rank is "
        "computed WITHOUT sorting by score: encode (score DESC, id "
        "ASC) into one int64 key, take the best relevant key per "
        "query (window max over one partition-by-query pass), then "
        "rank = 1 + count of strictly better keys (a groupBy reusing "
        "the same partitioning — pairs are scored and shuffled ONCE). "
        "Reciprocal ranks in truncated "
        "ppm — deterministic cross-engine, unlike float MRR. Shape: "
        "query side is O(n/stride) and BROADCASTS; candidates stream "
        "through one scan (ss01's quarantined-exact-baseline shape "
        "with a bounded query set — the production ANN path is "
        "xe04/ss02, this is its recall/MRR anchor, xe05's pattern). "
        "Sum widths: rr <= 1e6 per query, int64-safe to 9e12 queries."
    ),
    tags=("similarity", "eval", "llm-pipeline"),
)
def yv02(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r12 shape: ONE pair-scoring pass instead of two, and the int8
    # quantization hoisted out of the pair loop. The old form evaluated
    # the candidate x broadcast-query join twice (once for the
    # best-relevant key, once for the rank count) — two scans, two pair
    # scorings, three exchanges — and re-ran floor(cast(x)*127) on BOTH
    # vectors inside every pair's fold (O(pairs x dim) casts instead of
    # O(rows x dim)). Now: quantize each SIDE once per row, score each
    # pair with the exact int64 pair dot (functions/vecexpr.py holds the
    # kernels and their measured evidence), and derive BOTH the
    # best-relevant key and the rank in a single partition-by-qid pass:
    # bkey as a window max over relevant pairs, rank as the groupBy that
    # reuses the window's partitioning (no extra exchange). Queries with
    # no relevant candidate had no `rel` row and were dropped by the old
    # inner join — the bkey IS NULL filter reproduces that exactly.
    from spotify_tags_etl_spark.functions.vecexpr import pair_dot_int64, quantize_long

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") % YV02_STRIDE == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        quantize_long("embedding").alias("qe8"),
    )
    c = emb.select(
        F.col("vec_id").alias("cid"),
        F.col("label").alias("clabel"),
        quantize_long("embedding").alias("ce8"),
    )
    scored = pair_dot_int64(
        c.join(F.broadcast(q), F.col("cid") != F.col("qid")).select(
            "qid", "qlabel", "cid", "clabel", "qe8", "ce8"
        ),
        "qe8",
        "ce8",
        "dp",
    )
    pairs = scored.select(
        "qid",
        "qlabel",
        "cid",
        "clabel",
        (F.col("dp") * YV02_KEY_SCALE - F.col("cid")).alias("key"),
    )
    w = Window.partitionBy("qid")
    rk = (
        pairs.withColumn(
            "bkey",
            F.max(F.when(F.col("clabel") == F.col("qlabel"), F.col("key"))).over(w),
        )
        .where(F.col("bkey").isNotNull())
        .groupBy("qid")
        .agg((1 + F.sum(F.when(F.col("key") > F.col("bkey"), 1).otherwise(0))).alias("r"))
    )
    return rk.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_queries"),
        F.sum(F.expr("1000000 DIV r")).cast("bigint").alias("sum_rr_ppm"),
        F.expr("CAST(SUM(1000000 DIV r) DIV COUNT(*) AS BIGINT)").alias("mrr_ppm"),
    )


# ---------------------------------------------------------------------------
# yv03 — frequency-ranked vocabulary coverage
# ---------------------------------------------------------------------------


@register(
    "yv03_vocab_coverage",
    oracle=f"""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ),
    tf AS (SELECT token, COUNT(*) AS cnt FROM tok WHERE token <> '' GROUP BY token),
    tot AS (SELECT SUM(cnt) AS total FROM tf),
    ranked AS (
      SELECT token, cnt,
             ROW_NUMBER() OVER (ORDER BY cnt DESC, token ASC) AS r,
             SUM(cnt) OVER (ORDER BY cnt DESC, token ASC ROWS UNBOUNDED PRECEDING) AS cum
      FROM tf
    )
    SELECT CAST(MIN(r) AS BIGINT) AS vocab_size,
           MIN_BY(token, r) AS boundary_token,
           CAST(CAST(MIN_BY(cum, r) AS HUGEINT) * 1000000 // tot.total AS BIGINT)
             AS coverage_ppm,
           CAST(tot.total AS BIGINT) AS total_tokens
    FROM ranked, tot
    WHERE 1000 * cum >= {YV03_TARGET_PERMILLE} * tot.total
    GROUP BY tot.total
    """,
    doc=(
        "Tokenizer sizing: the smallest frequency-ranked vocabulary "
        f"covering >={YV03_TARGET_PERMILLE}permille of corpus token "
        "occurrences — emitted as (vocab_size, boundary token, exact "
        "coverage ppm, total). The Zipf curve xt05 plots, turned into "
        "the planning decision (vocab budget) a tokenizer build "
        "needs. Shape: one token groupBy, then BOTH the global rank "
        "and the running occurrence total ride scalerank (range "
        "layout + parallel per-partition windows + broadcast offsets "
        "— no single-reducer pass over the ~1e8-term vocabulary a "
        "100 TB corpus induces; the oracle keeps the windowed "
        "spelling as truth anchor). Crossing row selected by one "
        "min_by aggregate. Coverage ppm through a 128-bit product "
        "(cum x 1e6 wraps int64 past 9e12 occurrences — real at "
        "100 TB)."
    ),
    tags=("text", "planner", "llm-pipeline"),
)
def yv03(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spotify_tags_etl_spark.operators.scalerank import global_rank, prefix_sum

    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .where(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    order = [F.col("cnt").desc(), F.col("token").asc()]
    cum_df, total = prefix_sum(tf, order, "cnt", sum_col="cum")
    if not total:
        # Empty/zero-token corpus: coverage is undefined and the oracle's
        # GROUP BY over an empty census emits ZERO rows — mirror that
        # (yd02/yg02 discipline) instead of Spark's one all-NULL
        # global-aggregate row with `None` interpolated into the ppm SQL.
        return spark.createDataFrame(
            [],
            "vocab_size bigint, boundary_token string, "
            "coverage_ppm bigint, total_tokens bigint",
        )
    ranked, _n = global_rank(cum_df, order, rank_col="r")
    crossing = ranked.where(F.lit(1000) * F.col("cum") >= F.lit(YV03_TARGET_PERMILLE) * F.lit(total))
    return crossing.agg(
        F.min("r").cast("bigint").alias("vocab_size"),
        F.expr("min_by(token, r)").alias("boundary_token"),
        F.expr(
            f"CAST(CAST(min_by(cum, r) AS DECIMAL(38,0)) * 1000000 DIV {total} AS BIGINT)"
        ).alias("coverage_ppm"),
        F.lit(total).cast("bigint").alias("total_tokens"),
    )


# ---------------------------------------------------------------------------
# yv04 — deterministic per-epoch shuffle plan
# ---------------------------------------------------------------------------


@register(
    "yv04_epoch_shuffle",
    oracle=f"""
    WITH p AS (
      SELECT ge.epoch, d.doc_id, d.n_chars,
             ('0x' || substr(md5('e:' || CAST(ge.epoch AS VARCHAR) || ':'
                                 || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT AS pos
      FROM documents d, generate_series(0, {YV04_EPOCHS - 1}) AS ge(epoch)
    )
    SELECT CAST(epoch AS BIGINT) AS epoch,
           CAST(pos % {YV04_SHARDS} AS BIGINT) AS shard,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(MIN(pos) AS BIGINT) AS min_pos,
           CAST(MAX(pos) AS BIGINT) AS max_pos
    FROM p GROUP BY 1, 2 ORDER BY 1, 2
    """,
    doc=(
        f"Deterministic per-epoch reshuffle plan: for {YV04_EPOCHS} "
        "epochs, each doc gets a pseudo-random 32-bit position "
        "hash(epoch, doc_id) and a shard = position mod "
        f"{YV04_SHARDS}; the plan emits per-(epoch, shard) doc/char "
        "loads plus position bounds. This is how multi-epoch training "
        "re-shuffles 100 TB WITHOUT materializing (or storing) a "
        "permutation per epoch: position is a pure column expression, "
        "so epoch N's order is reproducible from the seed alone, "
        "restartable mid-epoch (resume = filter pos > checkpoint), "
        "and maps to ONE hash exchange on (epoch, shard) here — the "
        "same md5-derived uniformity argument as tz01's stratified "
        "sampler, so shard skew is binomial-tight. Composes with "
        "tz04 (static shard plan) and xi04 (curriculum overrides "
        "epoch 0's order)."
    ),
    tags=("training", "planner", "llm-pipeline"),
)
def yv04(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    p = docs.select(
        "doc_id",
        "n_chars",
        F.explode(F.sequence(F.lit(0), F.lit(YV04_EPOCHS - 1))).alias("epoch"),
    ).select(
        "epoch",
        "n_chars",
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("e:"),
                        F.col("epoch").cast("string"),
                        F.lit(":"),
                        F.col("doc_id").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        )
        .cast("bigint")
        .alias("pos"),
    )
    return (
        p.groupBy(
            F.col("epoch").cast("bigint").alias("epoch"),
            (F.col("pos") % YV04_SHARDS).cast("bigint").alias("shard"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
            F.min("pos").cast("bigint").alias("min_pos"),
            F.max("pos").cast("bigint").alias("max_pos"),
        )
        .orderBy("epoch", "shard")
    )


# ---------------------------------------------------------------------------
# yv10 — BPE merge-rule learning as relational algebra
# ---------------------------------------------------------------------------

#: Merge rounds learned by yv10 (the first R rules of a BPE tokenizer).
YV10_ROUNDS = 8

#: Word-length band kept for training (chars); bounds the pair index so
#: the oracle's fixed generate_series cross join stays exact.
YV10_MIN_LEN, YV10_MAX_LEN = 2, 12

#: The greedy-left fold that applies ONE merge rule (pa, pb) to a
#: '|'-separated symbol string, exactly Sennrich-BPE's per-round merge:
#: scan symbols left to right, gluing x onto the accumulator whenever
#: the accumulator's LAST symbol is pa and x is pb. A cascade (the
#: just-merged symbol re-matching pa) is impossible: merged = pa||pb
#: can only equal pa if pb were empty. The accumulator is the joined
#: string itself, so the fold is expressible in both engines' lambda
#: dialects; '|' never occurs in symbols ([a-z] only), so the
#: "acc ends with symbol pa" test (acc = pa OR acc LIKE '%|pa') is a
#: boundary-exact match with no LIKE-wildcard risk.


def bpe_ctes(rounds: int = YV10_ROUNDS) -> list[str]:
    """Unrolled DuckDB CTE chain shared by yv10's oracle and za01's
    apply oracle: R chained (count pairs -> argmax -> fold) stages;
    fixed generate_series + WHERE (no lateral) for the pair explode,
    list_reduce for the fold. ``w{rounds}`` is the post-merge vocab."""
    ctes = [
        f"""tok AS (
      SELECT t.w AS w, COUNT(*) AS cnt
      FROM (SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
            FROM documents) t
      WHERE len(t.w) BETWEEN {YV10_MIN_LEN} AND {YV10_MAX_LEN}
      GROUP BY 1
    )""",
        """w0 AS (
      SELECT array_to_string(regexp_extract_all(w, '[a-z]'), '|') AS seq, cnt
      FROM tok
    )""",
    ]
    for r in range(rounds):
        ctes.append(
            f"""p{r} AS (
      SELECT l[i] AS pa, l[i + 1] AS pb, SUM(cnt) AS c
      FROM (SELECT string_split(seq, '|') AS l, cnt FROM w{r}) s,
           UNNEST(generate_series(1, {YV10_MAX_LEN - 1})) AS t(i)
      WHERE i <= len(l) - 1
      GROUP BY 1, 2
    )"""
        )
        ctes.append(f"b{r} AS (SELECT pa, pb, c FROM p{r} ORDER BY c DESC, pa, pb LIMIT 1)")
        # LEFT JOIN ON TRUE (not a cross join): if the pair supply
        # exhausts before ``rounds`` (every word fused to one symbol),
        # b{r} is EMPTY and a cross join would empty w{r+1} — but
        # Spark's bpe_learn breaks out keeping the fused vocab, so the
        # apply-side consumers (za01/za05/zb01) would census a fused
        # vocab while the oracle censused nothing. The NULL-pa CASE arm
        # passes w{r} through unchanged, matching the break semantics.
        ctes.append(
            f"""w{r + 1} AS (
      SELECT CASE WHEN b.pa IS NULL OR len(l) <= 1 THEN seq ELSE
        list_reduce(l, (acc, x) -> CASE
          WHEN (acc = b.pa OR acc LIKE '%|' || b.pa) AND x = b.pb THEN acc || b.pb
          ELSE acc || '|' || x END) END AS seq, cnt
      FROM (SELECT seq, string_split(seq, '|') AS l, cnt FROM w{r}) s
      LEFT JOIN b{r} b ON TRUE
    )"""
        )
    return ctes


def _bpe_oracle_sql(rounds: int = YV10_ROUNDS) -> str:
    ctes = bpe_ctes(rounds)
    sel = " UNION ALL ".join(
        f"SELECT {r + 1} AS round, pa, pb, CAST(c AS BIGINT) AS pair_count FROM b{r}"
        for r in range(rounds)
    )
    return "WITH " + ",\n    ".join(ctes) + f"\n    SELECT * FROM ({sel}) u ORDER BY round"


@register(
    "yv10_bpe_merge_rounds",
    oracle=_bpe_oracle_sql(),
    doc=(
        f"BPE tokenizer training as relational algebra: the first "
        f"{YV10_ROUNDS} merge rules learned from the corpus "
        "(Sennrich-style: count adjacent symbol pairs weighted by word "
        "frequency, merge the most frequent pair everywhere greedy-left, "
        "repeat), emitted as the ordered merge table (round, pa, pb, "
        "pair_count) a tokenizer build consumes. The corpus is first "
        "collapsed to a (word, count) vocabulary — at 100 TB that one "
        "map-combined groupBy is the ONLY corpus-sized pass; every "
        "round after it runs on the ~1e7-row vocab frame: one "
        "map-combined pair aggregate, a 1-ROW argmax collect fused "
        "into the next plan (the xz10 plan-feeding pattern), and a "
        "map-only fold applying the merge (aggregate() higher-order "
        "function — no UDF, no shuffle). localCheckpoint per round "
        "caps the lineage at O(1) instead of O(rounds) re-derivation. "
        "Tie-break (count DESC, pa ASC, pb ASC) totally orders rule "
        "selection, so the learned table is deterministic and the "
        "unrolled-CTE DuckDB oracle (list_reduce fold twin) is "
        "bit-exact. Composes with yv03 (vocab sizing) and tx03/tx06 "
        "(token counting/chunking)."
    ),
    tags=("text", "tokenizer", "training", "llm-pipeline"),
)
def yv10(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows, _words = bpe_learn(spark, sf_dir, YV10_ROUNDS, materialize_words=False)
    return spark.createDataFrame(
        rows, "round int, pa string, pb string, pair_count long"
    )


def bpe_learn(
    spark: SparkSession, sf_dir: str, rounds: int, materialize_words: bool = True
) -> tuple[list[tuple[int, str, str, int]], DataFrame | None]:
    """Sennrich-BPE merge-rule learning (yv10's engine), shared with the
    za01 apply operator: returns ``(merge_table_rows, words)`` where
    ``words`` is the (seq, cnt) vocabulary AFTER applying all learned
    merges greedy-left round by round — i.e. the already-tokenized
    vocabulary a consumer censuses or maps back over the corpus. The
    caller owns ``words`` (unpersist when done). A caller that only
    needs the merge TABLE (yv10) passes ``materialize_words=False``:
    the final round's fold — which no argmax ever consumes — is then
    never computed and ``words`` comes back None."""
    docs = load_table(spark, sf_dir, "documents")
    tok = (
        docs.select(F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("w"))
        .where(
            (F.length("w") >= YV10_MIN_LEN) & (F.length("w") <= YV10_MAX_LEN)
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    from spotify_tags_etl_spark.plans.planmetrics import record_plan

    words = tok.select(
        F.expr("array_join(regexp_extract_all(w, '[a-z]', 0), '|')").alias("seq"),
        "cnt",
    )
    # Loop-stage fingerprints (plans/planmetrics.LOOP_PLAN_LOG): the
    # returned frame is driver-built, so these pins are what proves the
    # one-corpus-pass / map-only-fold shape mechanically.
    record_plan(words, "bpe:vocab")
    words = words.localCheckpoint(eager=True)
    rows: list[tuple[int, str, str, int]] = []
    plan_seen: set = set()  # r13: fingerprint each loop label once per learn
    # Per round, ONE job: the pair-argmax action over the LAZILY
    # checkpointed fold of the previous round materializes that fold's
    # blocks as a side effect (localCheckpoint(eager=False) persists on
    # first computation), so the separate eager-checkpoint job each
    # round — half of the loop's driver round-trips — disappears. The
    # previous round's blocks are released only AFTER the action that
    # materializes the current round has returned (a checkpointed RDD
    # has no lineage to recompute from).
    pending_unpersist: DataFrame | None = None
    for r in range(1, rounds + 1):
        lcol = words.select(F.split("seq", "\\|").alias("l"), "cnt").where(F.size("l") >= 2)
        top = (
            lcol.select(
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(l) - 1),"
                        " i -> struct(l[i - 1] AS pa, l[i] AS pb))"
                    )
                ).alias("p"),
                "cnt",
            )
            .groupBy("p.pa", "p.pb")
            .agg(F.sum("cnt").alias("c"))
            .orderBy(F.desc("c"), F.asc("pa"), F.asc("pb"))
            .limit(1)
        )
        record_plan(top, "bpe:pair_argmax", seen=plan_seen)
        top = top.collect()
        if pending_unpersist is not None:
            pending_unpersist.unpersist()
            pending_unpersist = None
        if not top:
            # Every word fused to one symbol. The oracle agrees on BOTH
            # outputs: the merge table truncates identically (empty b{r}
            # contributes no UNION ALL rows), and the w{r+1..} fold CTEs
            # pass the fused vocab through via the NULL-pa LEFT JOIN arm
            # in bpe_ctes, matching the kept `words` frame here.
            break
        pa, pb, c = top[0].pa, top[0].pb, int(top[0].c)
        rows.append((r, pa, pb, c))
        prev = words
        # pa/pb are [a-z]+ by construction (regexp_extract_all above), so
        # embedding them as SQL literals is injection-safe.
        words = words.select(
            F.expr(
                "CASE WHEN size(split(seq, '\\\\|')) <= 1 THEN seq ELSE"
                " aggregate(slice(split(seq, '\\\\|'), 2, size(split(seq, '\\\\|')) - 1),"
                " split(seq, '\\\\|')[0],"
                f" (acc, x) -> CASE WHEN (acc = '{pa}' OR acc LIKE concat('%|', '{pa}'))"
                f" AND x = '{pb}' THEN concat(acc, '{pb}')"
                " ELSE concat(acc, '|', x) END) END"
            ).alias("seq"),
            "cnt",
        )
        record_plan(words, "bpe:fold", seen=plan_seen)
        words = words.localCheckpoint(eager=False)
        pending_unpersist = prev
    if pending_unpersist is not None:
        if materialize_words:
            # The final fold is still lazy: materialize it before
            # releasing its input so the returned frame never depends
            # on freed blocks.
            words.write.format("noop").mode("overwrite").save()
        else:
            words = None
        pending_unpersist.unpersist()
    elif not materialize_words:
        words.unpersist()
        words = None
    return rows, words


# ---------------------------------------------------------------------------
# yv18 — waterfilling token-budget allocation across domains
# ---------------------------------------------------------------------------

#: Per-source weight spread (1..15): multiplies the raw byte totals so
#: the fixture exercises BOTH waterfill branches (fully-funded small
#: domains AND capped large ones) at every SF.
_YV18_WSPAN = 15

#: Budget as a fraction of the weighted total: numerator/denominator.
_YV18_BNUM, _YV18_BDEN = 1, 2


@register(
    "yv18_token_waterfill",
    oracle=f"""
    WITH dom AS (
      SELECT source,
             SUM(n_chars) * (1 + ('0x' || substr(md5('wf:' || source), 1, 8))::BIGINT
                                 % {_YV18_WSPAN}) AS tok
      FROM documents GROUP BY 1
    ),
    g AS (
      SELECT COUNT(*) AS d, SUM(tok) * {_YV18_BNUM} // {_YV18_BDEN} AS b FROM dom
    ),
    ranked AS (
      SELECT source, tok,
             ROW_NUMBER() OVER (ORDER BY tok, source) AS k,
             SUM(tok) OVER (ORDER BY tok, source
                            ROWS UNBOUNDED PRECEDING) AS s_k
      FROM dom
    ),
    flagged AS (
      SELECT r.*, g.d, g.b,
             CASE WHEN r.s_k + (g.d - r.k) * r.tok <= g.b THEN 1 ELSE 0 END AS full_ok
      FROM ranked r, g
    ),
    cut AS (
      SELECT MAX(CASE WHEN full_ok = 1 THEN k ELSE 0 END) AS kstar,
             MAX(CASE WHEN full_ok = 1 THEN s_k ELSE 0 END) AS s_star
      FROM flagged
    )
    SELECT f.source,
           CAST(f.tok AS BIGINT) AS tokens,
           CAST(CASE WHEN f.k <= c.kstar THEN f.tok
                     ELSE (f.b - c.s_star) // (f.d - c.kstar) END AS BIGINT) AS alloc,
           CAST(CASE WHEN f.k <= c.kstar THEN 0 ELSE 1 END AS BIGINT) AS capped,
           CAST((f.b - c.s_star) // (f.d - c.kstar) AS BIGINT) AS level
    FROM flagged f, cut c
    ORDER BY f.source
    """,
    doc=(
        "Waterfilling token-budget allocation — the data-mixing "
        "primitive behind 'cap every domain at a common level t* so the "
        "corpus fits the training budget': maximize the common level "
        "subject to sum(min(T_d, t)) <= B (here B = half the weighted "
        "total, weights md5-spread 1..15 so both branches populate at "
        "every SF). Solved ANALYTICALLY, not by search: sort domains "
        "ascending, prefix-sum, and the largest k with "
        "S_k + (D-k)*T_k <= B is the fully-funded set; "
        "t* = (B - S_k) DIV (D - k) then caps the rest (maximality "
        "guarantees t* < T_(k+1), so min() never reorders the split). "
        "All integer: truncating DIV on both engines. Shape: the ONLY "
        "data-sized stage is the map-combined groupBy(source); the "
        "sort, window, and scalar cuts all run on the O(#domains) "
        "aggregate frame (20 rows here, maybe 1e4 at 100 TB — the "
        "documented-tiny global window, xr03 class), joined back by "
        "broadcast. No budget search loop, no driver-side iteration."
    ),
    tags=("training", "mixing", "llm-pipeline"),
)
def yv18(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("source", "n_chars")
    dom = docs.groupBy("source").agg(
        (
            F.sum("n_chars")
            * (
                F.expr(
                    "CAST(conv(substring(md5(concat('wf:', source)), 1, 8), 16, 10)"
                    " AS BIGINT)"
                )
                % _YV18_WSPAN
                + 1
            )
        ).alias("tok")
    )
    return waterfill(dom, _YV18_BNUM, _YV18_BDEN)


def waterfill(dom: DataFrame, bnum: int, bden: int) -> DataFrame:
    """Integer waterfilling over a ``(source, tok)`` domain frame:
    budget B = total * bnum DIV bden, maximize the common level t*
    subject to sum(min(tok_d, t*)) <= B. Returns (source, tokens,
    alloc, capped, level). Pure relational — every stage runs on the
    O(#domains) frame (the caller supplies the already-aggregated
    totals); property-tested against brute-force search in
    tests/test_round6_additions.py.

    Precondition: ``bnum < bden`` (a strict sub-unity budget ratio).
    At ``bnum/bden >= 1`` the budget covers every domain, kstar = d,
    and the level term's ``DIV (d - kstar)`` divides by zero (NULL
    under non-ANSI Spark) — the SQL below also guards that branch:
    alloc degrades to ``tok`` (every domain fully funded) and level to
    the uniform ``MAX(tok)``, so a future caller bypassing the assert
    gets a coherent everything-fits allocation instead of NULLs."""
    if bnum >= bden:
        raise ValueError(
            f"waterfill requires bnum < bden (budget strictly below total); "
            f"got {bnum}/{bden}"
        )
    # O(#domains) rows; without this checkpoint the budget agg, the
    # ranked frame, the k* cut, and the output join re-derive the
    # caller's aggregation - and its corpus scan - four times over
    # (r7 scan audit found yv18 reading documents 4x).
    from spotify_tags_etl_spark.plans.planmetrics import record_plan

    record_plan(dom, "waterfill:domain_totals")
    dom = dom.localCheckpoint(eager=True)
    g = dom.agg(
        F.count(F.lit(1)).alias("d"),
        F.expr(f"SUM(tok) * {bnum} DIV {bden}").alias("b"),
        F.max("tok").alias("mtok"),
    )
    w = Window.orderBy("tok", "source")
    ranked = (
        dom.withColumn("k", F.row_number().over(w))
        .withColumn(
            "s_k",
            F.sum("tok").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
        )
        .crossJoin(F.broadcast(g))
        .withColumn(
            "full_ok",
            F.when(F.col("s_k") + (F.col("d") - F.col("k")) * F.col("tok") <= F.col("b"), 1)
            .otherwise(0),
        )
    )
    cut = ranked.agg(
        F.max(F.when(F.col("full_ok") == 1, F.col("k")).otherwise(0)).alias("kstar"),
        F.max(F.when(F.col("full_ok") == 1, F.col("s_k")).otherwise(0)).alias("s_star"),
    )
    out = ranked.crossJoin(F.broadcast(cut)).selectExpr(
        "source",
        "CAST(tok AS BIGINT) AS tokens",
        "CAST(CASE WHEN k <= kstar THEN tok"
        " ELSE (b - s_star) DIV (d - kstar) END AS BIGINT) AS alloc",
        "CAST(CASE WHEN k <= kstar THEN 0 ELSE 1 END AS BIGINT) AS capped",
        # d = kstar (everything fits) is unreachable behind the
        # bnum < bden guard, but if a future caller bypasses it the
        # level must still be ONE value for all rows: MAX(tok) is the
        # smallest level at which every domain is uncapped (per-row
        # `tok` here would make rows disagree about the water level —
        # ADVICE r7).
        "CAST(CASE WHEN d = kstar THEN mtok"
        " ELSE (b - s_star) DIV (d - kstar) END AS BIGINT) AS level",
    )
    return out.orderBy("source")
