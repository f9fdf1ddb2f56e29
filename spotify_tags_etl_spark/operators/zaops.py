"""Round-7 operators: the tokenizer APPLY step and the arena ranking
fit — the two consumers the round-6 additions left dangling.

* ``za01_bpe_apply`` — apply yv10's LEARNED merge table to the corpus
  vocabulary map-side and census the merged tokens (the missing stage-0
  consumer in PLANS.md's RLHF walk: yv10 learns rules, nothing applied
  them);
* ``za02_bradley_terry`` — fixed-iteration Bradley–Terry
  (minorization-maximization) strength fit over yv07's arena edge
  frame, exact-integer throughout, completing the yv07 (win rates) →
  yv13 (cycle audit) → fit arc.

Reference parity: the reference ETL (averille-demo/spotify-tags-etl)
has no training-data surface; these extend the engine along the
LLM-pipeline axis the build brief mandates. Names are ``za*`` so they
sort after ``yz02`` (the last never-driver-checked round-6 name) and
before the ``zv_`` rotation prefix — joining the round-7 driver window
without displacing a pending first check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spotify_tags_etl_spark.operators.yrlhf import YV07_MODELS, _RMOD, _h, _hd
from spotify_tags_etl_spark.operators.ytrain import (
    YV10_MAX_LEN,
    YV10_MIN_LEN,
    YV10_ROUNDS,
    bpe_ctes,
    bpe_learn,
)
from spotify_tags_etl_spark.plans.planmetrics import record_plan
from spotify_tags_etl_spark.plans.registry import register
from spotify_tags_etl_spark.functions.concurrency import fan_out_scan
from spotify_tags_etl_spark.sources.tpch import load_table

# ---------------------------------------------------------------------------
# za01 — apply the learned BPE merge table to the corpus vocabulary
# ---------------------------------------------------------------------------


def _za01_oracle_sql(rounds: int = YV10_ROUNDS) -> str:
    """yv10's unrolled CTE chain, then a census of the post-merge vocab
    ``w{rounds}``: only merge results are multi-char symbols, so the
    ``len >= 2`` filter selects exactly the tokens the merge table
    created — at most ``rounds`` distinct token types by construction."""
    ctes = bpe_ctes(rounds)
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT t AS token,
           CAST(len(t) AS BIGINT) AS token_chars,
           CAST(SUM(cnt) AS BIGINT) AS occurrences
    FROM (SELECT unnest(string_split(seq, '|')) AS t, cnt FROM w{rounds}) u
    WHERE len(t) >= 2
    GROUP BY t
    ORDER BY occurrences DESC, token ASC
    """
    )


@register(
    "za01_bpe_apply",
    oracle=_za01_oracle_sql(),
    doc=(
        f"BPE APPLY: learn the {YV10_ROUNDS}-rule merge table (yv10's "
        "engine, shared via ytrain.bpe_learn) and apply every rule in "
        "learned order to the corpus vocabulary greedy-left, then "
        "census the tokens the merges created — (token, chars, "
        "weighted occurrences), ordered by occurrence. This is the "
        "stage-0 consumer PLANS.md's RLHF walk assumes: a tokenizer "
        "build learns rules once, then APPLIES them to 100 TB. Shape: "
        "the single corpus-sized pass is the (word, count) vocabulary "
        "groupBy inherited from the learner; every apply round is a "
        "MAP-ONLY aggregate() fold over the ~1e7-row vocab frame with "
        "the rule pair embedded as a broadcast-equivalent literal (no "
        "UDF, no shuffle, no materialized tokenized corpus — exactly "
        "how the merge table would map over 100 TB: rules broadcast, "
        "one map pass); the final census groupBy runs on the "
        f"<= {YV10_ROUNDS}-row space of merge-created token types. "
        "Oracle: the same unrolled-CTE chain as yv10 plus a list_reduce "
        "census over the post-merge vocab — bit-exact."
    ),
    tags=("text", "tokenizer", "training", "llm-pipeline"),
)
def za01(spark: SparkSession, sf_dir: str) -> DataFrame:
    _rows, words = bpe_learn(spark, sf_dir, YV10_ROUNDS)
    toks = words.select(F.explode(F.split("seq", "\\|")).alias("token"), "cnt")
    out = (
        toks.where(F.length("token") >= 2)
        .groupBy("token")
        .agg(F.sum("cnt").cast("bigint").alias("occurrences"))
        .select(
            "token",
            F.length("token").cast("bigint").alias("token_chars"),
            "occurrences",
        )
        .orderBy(F.desc("occurrences"), F.asc("token"))
    )
    record_plan(out, "za01:census")
    # materialize before releasing the checkpointed vocab the plan reads
    out = out.localCheckpoint(eager=True)
    words.unpersist()
    return out


# ---------------------------------------------------------------------------
# za02 — Bradley–Terry strength fit over the arena edge frame
# ---------------------------------------------------------------------------

#: Fixed MM iteration count (convergence is geometric; 10 rounds is
#: plenty at 6 models and makes the unrolled oracle finite).
ZA02_ITERS = 10

#: Fixed-point scale for the per-edge term 2*n/(s_i + s_j). One
#: truncating division per edge per iteration, identical both engines.
ZA02_SCALE = 10**12


def _za02_oracle_sql(iters: int = ZA02_ITERS) -> str:
    """Unrolled MM iterations as chained CTEs, all HUGEINT-exact:
    s_{r+1}(i) = normalize( W2_i / sum_j 2*n_ij/(s_r(i)+s_r(j)) ) with
    draw-adjusted wins W2 = 2*wins + draws, strengths held in truncated
    ppm fixed point (mean 1e6). Every CTE is MATERIALIZED: s{r} is
    referenced twice per iteration, so DuckDB's default inlining
    expands the chain 2^iters-fold (fd exhaustion on the parquet
    scan); materialization keeps it linear."""
    ctes = [
        f"""battles AS MATERIALIZED (
      SELECT {_hd('m', 'event_id')} % {YV07_MODELS} AS ma,
             {_hd('n', 'event_id')} % {YV07_MODELS} AS mb,
             {_hd('wa', 'event_id')} % {_RMOD} AS sa,
             {_hd('wb', 'event_id')} % {_RMOD} AS sb
      FROM events
    )""",
        """d AS MATERIALIZED (
      SELECT ma AS i, mb AS j,
             CASE WHEN sa > sb THEN 2 WHEN sa = sb THEN 1 ELSE 0 END AS w2
      FROM battles WHERE ma <> mb
      UNION ALL
      SELECT mb, ma,
             CASE WHEN sb > sa THEN 2 WHEN sb = sa THEN 1 ELSE 0 END
      FROM battles WHERE ma <> mb
    )""",
        "e AS MATERIALIZED (SELECT i, j, COUNT(*) AS n, SUM(w2) AS w2 FROM d GROUP BY i, j)",
        "wt AS MATERIALIZED (SELECT i, SUM(n) AS n, SUM(w2) AS w2 FROM e GROUP BY i)",
        "nm AS MATERIALIZED (SELECT COUNT(*) AS nmod FROM wt)",
        "s0 AS MATERIALIZED (SELECT i, CAST(1000000 AS HUGEINT) AS s FROM wt)",
    ]
    for r in range(iters):
        ctes.append(
            f"""t{r} AS MATERIALIZED (
      SELECT e.i,
             SUM(CAST(2 * e.n AS HUGEINT) * {ZA02_SCALE} // (si.s + sj.s)) AS t
      FROM e JOIN s{r} si ON si.i = e.i JOIN s{r} sj ON sj.i = e.j
      GROUP BY e.i
    )"""
        )
        ctes.append(
            f"""p{r} AS MATERIALIZED (
      SELECT wt.i, CAST(wt.w2 AS HUGEINT) * {ZA02_SCALE} * 1000000 // t{r}.t AS p
      FROM wt JOIN t{r} ON t{r}.i = wt.i
    )"""
        )
        ctes.append(f"ps{r} AS MATERIALIZED (SELECT SUM(p) AS sp FROM p{r})")
        ctes.append(
            f"""s{r + 1} AS MATERIALIZED (
      SELECT i, GREATEST(p * nm.nmod * 1000000 // ps{r}.sp, 1) AS s
      FROM p{r}, ps{r}, nm
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT CAST(wt.i AS BIGINT) AS model,
           CAST(wt.n AS BIGINT) AS n_battles,
           CAST(wt.w2 AS BIGINT) AS w2,
           CAST(sf.s AS BIGINT) AS strength_ppm,
           CAST(ROW_NUMBER() OVER (ORDER BY sf.s DESC, wt.i ASC) AS BIGINT)
             AS bt_rank
    FROM wt JOIN s{iters} sf ON sf.i = wt.i
    ORDER BY model
    """
    )


@register(
    "za02_bradley_terry",
    oracle=_za02_oracle_sql(),
    doc=(
        f"Bradley–Terry strength fit over yv07's {YV07_MODELS}-model "
        f"arena: {ZA02_ITERS} fixed minorization-maximization rounds "
        "s_i <- W2_i / sum_j 2*n_ij/(s_i+s_j), draws counted as half "
        "wins (W2 = 2*wins + draws — yv07's published convention), "
        "strengths renormalized to mean 1e6 ppm each round; emits "
        "(model, battles, W2, strength_ppm, rank). Completes the arc "
        "yv13's cycle audit gates: the ranking fit itself. "
        "Exact-integer throughout: each per-edge term is ONE truncating "
        "128-bit fixed-point division (scale 1e12), so both engines "
        "compute identical iterates — no float fixed point to diverge "
        "in the last ulp. Shape: the corpus-sized work is the map-side "
        "battle derivation + ONE map-combined groupBy onto the "
        "O(models^2) directed edge frame (<= 30 rows); that bounded "
        "edge list is collected ONCE and every MM round is an "
        "exact-integer fold over it on the driver (xz10's plan-feeding "
        "pattern: the engine does the one corpus-sized pass, the driver "
        "iterates over O(models^2) integers — one round-trip instead of "
        "one per round). The oracle unrolls the same rounds as chained "
        "HUGEINT CTEs; tests/test_round7_additions.py re-derives the "
        "fit in pure-Python integers and pins both."
    ),
    tags=("rlhf", "eval", "ranking", "llm-pipeline"),
)
def za02(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_id")
    battles = ev.select(
        (F.expr(_h("m", "event_id")) % YV07_MODELS).alias("ma"),
        (F.expr(_h("n", "event_id")) % YV07_MODELS).alias("mb"),
        (F.expr(_h("wa", "event_id")) % _RMOD).alias("sa"),
        (F.expr(_h("wb", "event_id")) % _RMOD).alias("sb"),
    ).where(F.col("ma") != F.col("mb"))
    w2_ab = (
        F.when(F.col("sa") > F.col("sb"), 2)
        .when(F.col("sa") == F.col("sb"), 1)
        .otherwise(0)
    )
    w2_ba = (
        F.when(F.col("sb") > F.col("sa"), 2)
        .when(F.col("sb") == F.col("sa"), 1)
        .otherwise(0)
    )
    # Both orientations from ONE scan: a union of two selects over the
    # same source re-reads events per branch (the scan log showed two
    # event_id scans); the 2-element explode reads it once.
    directed = battles.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("ma").alias("i"), F.col("mb").alias("j"), w2_ab.alias("w2")
                ),
                F.struct(
                    F.col("mb").alias("i"), F.col("ma").alias("j"), w2_ba.alias("w2")
                ),
            )
        ).alias("e")
    ).select("e.i", "e.j", "e.w2")
    # The ONLY corpus-sized stage: map-combined groupBy onto <= 30 rows.
    edges = directed.groupBy("i", "j").agg(
        F.count(F.lit(1)).alias("n"), F.sum("w2").alias("w2")
    )
    record_plan(edges, "za02:edges")
    # The edge frame is O(models^2) <= 30 rows by construction: collect
    # it ONCE and run every MM round as an exact-integer fold on the
    # driver. (The previous shape re-planned + collected a Spark job per
    # round over this same 30-row frame — 11 driver round-trips for
    # arithmetic on ~30 integers; the folds below mirror the oracle's
    # t{r}/p{r}/ps{r}/s{r+1} CTEs bit for bit, and positive-operand
    # Python // is the same truncating division as DECIMAL DIV/HUGEINT //.)
    edge_rows = [(int(r["i"]), int(r["j"]), int(r["n"]), int(r["w2"])) for r in edges.collect()]
    wt: dict[int, tuple[int, int]] = {}
    for i, _j, n, w2 in edge_rows:
        pn, pw = wt.get(i, (0, 0))
        wt[i] = (pn + n, pw + w2)
    models = sorted(wt)
    nmod = len(models)
    s = {i: 10**6 for i in models}
    for _ in range(ZA02_ITERS):
        t = {i: 0 for i in models}
        for i, j, n, _w2 in edge_rows:
            t[i] += (2 * n * ZA02_SCALE) // (s[i] + s[j])
        p = {i: (wt[i][1] * ZA02_SCALE * 10**6) // t[i] for i in models}
        sp = sum(p.values())
        s = {i: max(1, (p[i] * nmod * 10**6) // sp) for i in models}
    ranked = sorted(models, key=lambda i: (-s[i], i))
    rank = {i: k + 1 for k, i in enumerate(ranked)}
    rows = [(i, wt[i][0], wt[i][1], s[i], rank[i]) for i in models]
    return spark.createDataFrame(
        rows,
        "model bigint, n_battles bigint, w2 bigint, strength_ppm bigint,"
        " bt_rank bigint",
    )


# ---------------------------------------------------------------------------
# za03 — cross-shard quantile drift via mergeable integer histograms
# ---------------------------------------------------------------------------

#: Hash shards audited for quantile drift.
ZA03_SHARDS = 8

#: Quantiles audited, in permille.
ZA03_QS = (500, 900, 990)


_ZA03_ORACLE = f"""
    WITH ev AS (
      SELECT CAST(round(value * 100) AS BIGINT) AS cents,
             user_id % {ZA03_SHARDS} AS shard
      FROM events
    ),
    hs AS (SELECT shard, cents, COUNT(*) AS c FROM ev GROUP BY shard, cents),
    hg AS (SELECT -1 AS shard, cents, SUM(c) AS c FROM hs GROUP BY cents),
    h AS (SELECT shard, cents, c FROM hs UNION ALL SELECT shard, cents, c FROM hg),
    cum AS (
      SELECT shard, cents,
             SUM(c) OVER (PARTITION BY shard ORDER BY cents
                          ROWS UNBOUNDED PRECEDING) AS cum
      FROM h
    ),
    n AS (SELECT shard, SUM(c) AS n FROM h GROUP BY shard),
    qq AS (SELECT unnest([{", ".join(str(q) for q in ZA03_QS)}]) AS q_permille),
    q AS (
      SELECT cum.shard, qq.q_permille, MIN(cum.cents) AS qc
      FROM cum JOIN n ON n.shard = cum.shard, qq
      WHERE 1000 * cum.cum >= qq.q_permille * n.n
      GROUP BY cum.shard, qq.q_permille
    ),
    g AS (SELECT q_permille, qc AS global_cents FROM q WHERE shard = -1),
    s AS (
      SELECT q_permille, MIN(qc) AS min_shard_cents, MAX(qc) AS max_shard_cents
      FROM q WHERE shard >= 0 GROUP BY q_permille
    )
    SELECT CAST(g.q_permille AS BIGINT) AS q_permille,
           CAST(g.global_cents AS BIGINT) AS global_cents,
           CAST(s.min_shard_cents AS BIGINT) AS min_shard_cents,
           CAST(s.max_shard_cents AS BIGINT) AS max_shard_cents,
           CAST(GREATEST(g.global_cents - s.min_shard_cents,
                         s.max_shard_cents - g.global_cents) AS BIGINT)
             AS max_abs_drift_cents
    FROM g JOIN s ON s.q_permille = g.q_permille
    ORDER BY q_permille
    """


@register(
    "za03_quantile_drift",
    oracle=_ZA03_ORACLE,
    doc=(
        "Cross-shard quantile drift via MERGEABLE integer histograms — "
        "the t-digest role (per-shard quantile summaries that merge "
        "associatively into a global one) made exact: the metric's "
        "domain is bounded integer cents, so the summary is a "
        "(cents, count) histogram whose merge is a plain SUM, and "
        "quantiles are rank-selected with zero interpolation (float "
        "t-digest centroids cannot cross-engine hash; the exact "
        "histogram can, and IS the production pattern for bounded "
        f"domains). Emits per audited quantile ({ZA03_QS} permille) "
        "the global value, the shard min/max, and the max absolute "
        "drift — the dataloader-skew / shard-health check a sharded "
        "100 TB store runs after repartitioning. Shape: one "
        "map-combined groupBy(shard, cents) builds every per-shard "
        "summary in a single corpus pass; all later stages run on the "
        "O(shards x domain) histogram (the cumulative window is "
        "PARTITIONED by shard and its frame is domain-bounded — "
        "~56k cents rows per shard here, independent of corpus size). "
        "Rank predicate 1000*cum >= q*n stays in int64 to 9e15 "
        "rows/shard (documented bound)."
    ),
    tags=("analytics", "quantile", "ops", "llm-pipeline"),
)
def za03(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        (F.col("user_id") % ZA03_SHARDS).alias("shard"),
    )
    # The ONE corpus-sized pass: per-shard mergeable summaries,
    # materialized (localCheckpoint) exactly as a production job would
    # persist them — everything below is summary-sized, and without the
    # checkpoint the union of hs with an aggregate OF hs re-derives the
    # corpus scan twice.
    hs = (
        ev.groupBy("shard", "cents")
        .agg(F.count(F.lit(1)).alias("c"))
        .select(F.col("shard").cast("bigint").alias("shard"), "cents", "c")
    )
    record_plan(hs, "za03:shard_summaries")
    hs = hs.localCheckpoint(eager=True)
    return quantile_drift_from_summaries(spark, hs)


def quantile_drift_from_summaries(spark: SparkSession, hs: DataFrame) -> DataFrame:
    """Summary-side half of za03, shared with its streaming twin zb02:
    takes a materialized per-shard (shard, cents, c) histogram and
    rank-selects the audited quantiles + drift. Every stage here is
    summary-sized."""
    hg = (
        hs.groupBy("cents")
        .agg(F.sum("c").alias("c"))
        .select(F.lit(-1).cast("bigint").alias("shard"), "cents", "c")
    )
    h = hs.unionByName(hg)
    from pyspark.sql import Window

    # ntot rides the SAME shard partitioning as the cumulative sum — no
    # second corpus pass, no join, one exchange for both.
    w_cum = (
        Window.partitionBy("shard")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("shard")
    cum = h.select(
        "shard",
        "cents",
        F.sum("c").over(w_cum).alias("cum"),
        F.sum("c").over(w_all).alias("ntot"),
    )
    qq = spark.createDataFrame([(q,) for q in ZA03_QS], "q_permille bigint")
    q = (
        cum.crossJoin(F.broadcast(qq))
        .where(F.lit(1000) * F.col("cum") >= F.col("q_permille") * F.col("ntot"))
        .groupBy("shard", "q_permille")
        .agg(F.min("cents").alias("qc"))
    )
    # global and shard extremes in ONE conditional aggregate (a filter +
    # self-join here would recompute the q subtree twice).
    out = q.groupBy("q_permille").agg(
        F.max(F.when(F.col("shard") == -1, F.col("qc")))
        .cast("bigint")
        .alias("global_cents"),
        F.min(F.when(F.col("shard") >= 0, F.col("qc")))
        .cast("bigint")
        .alias("min_shard_cents"),
        F.max(F.when(F.col("shard") >= 0, F.col("qc")))
        .cast("bigint")
        .alias("max_shard_cents"),
    )
    return out.select(
        "q_permille",
        "global_cents",
        "min_shard_cents",
        "max_shard_cents",
        F.greatest(
            F.col("global_cents") - F.col("min_shard_cents"),
            F.col("max_shard_cents") - F.col("global_cents"),
        )
        .cast("bigint")
        .alias("max_abs_drift_cents"),
    ).orderBy("q_permille")


# ---------------------------------------------------------------------------
# za05 — corpus token accounting under the learned BPE tokenizer
# ---------------------------------------------------------------------------


def _za05_oracle_sql(rounds: int = YV10_ROUNDS) -> str:
    ctes = bpe_ctes(rounds)
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS word_types,
           CAST(SUM(cnt) AS BIGINT) AS word_occurrences,
           CAST(SUM(CAST(cnt AS HUGEINT) * len(replace(seq, '|', ''))) AS BIGINT)
             AS total_chars,
           CAST(SUM(CAST(cnt AS HUGEINT) * len(string_split(seq, '|'))) AS BIGINT)
             AS total_tokens,
           CAST(SUM(CAST(cnt AS HUGEINT) * len(string_split(seq, '|'))) * 1000000
                // SUM(CAST(cnt AS HUGEINT) * len(replace(seq, '|', '')))
                AS BIGINT) AS tokens_per_char_ppm
    FROM w{rounds}
    """
    )


@register(
    "za05_bpe_token_accounting",
    oracle=_za05_oracle_sql(),
    doc=(
        "Corpus token accounting under the LEARNED tokenizer: total "
        "words, chars, and post-merge TOKENS, plus the exact "
        "tokens-per-char ppm — the number a training-budget planner "
        "(yv18's waterfill, yv01's quotas are in chars/docs) needs to "
        "convert char budgets into token budgets under the actual "
        "tokenizer rather than a rule of thumb. Shape: everything "
        "derives from the learner's (seq, cnt) vocabulary — the "
        "original word is recoverable as replace(seq, '|', '') and "
        "the token count as the symbol count, so the accounting is a "
        "SINGLE global aggregate over the vocab frame with NO second "
        "corpus pass. Occurrence-weighted products are accumulated in "
        "DECIMAL(38,0)/HUGEINT (cnt x token-count reaches ~1e14 per "
        "row at 100 TB word counts) and the ppm ratio is one 128-bit "
        "truncating division."
    ),
    tags=("text", "tokenizer", "training", "planner", "llm-pipeline"),
)
def za05(spark: SparkSession, sf_dir: str) -> DataFrame:
    _rows, words = bpe_learn(spark, sf_dir, YV10_ROUNDS)
    acc = words.select(
        F.expr("size(split(seq, '\\\\|'))").alias("n_tok"),
        F.length(F.translate("seq", "|", "")).alias("n_chars"),
        "cnt",
    )
    out = acc.agg(
        F.count(F.lit(1)).cast("bigint").alias("word_types"),
        F.sum("cnt").cast("bigint").alias("word_occurrences"),
        F.expr("CAST(SUM(CAST(cnt AS DECIMAL(38,0)) * n_chars) AS BIGINT)").alias(
            "total_chars"
        ),
        F.expr("CAST(SUM(CAST(cnt AS DECIMAL(38,0)) * n_tok) AS BIGINT)").alias(
            "total_tokens"
        ),
        F.expr(
            "CAST(SUM(CAST(cnt AS DECIMAL(38,0)) * n_tok) * 1000000"
            " DIV SUM(CAST(cnt AS DECIMAL(38,0)) * n_chars) AS BIGINT)"
        ).alias("tokens_per_char_ppm"),
    )
    record_plan(out, "za05:accounting")
    out = out.localCheckpoint(eager=True)
    words.unpersist()
    return out


# ---------------------------------------------------------------------------
# za04 — streaming twin of yv05's preference-pair construction
# ---------------------------------------------------------------------------


def streaming_preference_pairs(spark: SparkSession, stream: DataFrame) -> DataFrame:
    """Incremental DPO pair construction: each micro-batch is reduced to
    per-prompt (count, argmax-key, argmin-key) partials and merged into
    a standing versioned-parquet extremes table. The merge relation —
    SUM for counts, key-argmax/argmin for extremes over yv05's injective
    (rating DESC, doc_id ASC) int64 key — is associative and
    commutative, so the converged table is micro-batch-layout invariant
    and final pairs equal batch yv05 exactly (pinned by
    tests/test_round7_additions.py's layout-invariance test). The
    versioning runs on the streaming/ops.py merged_stream skeleton."""
    from spotify_tags_etl_spark.operators.yrlhf import _KEY_SCALE, YV05_GROUP
    from spotify_tags_etl_spark.streaming.ops import merged_stream

    merge_aggs = [
        F.sum("n_cands").alias("n_cands"),
        F.expr("max_by(chosen_doc, ckey)").alias("chosen_doc"),
        F.expr("max_by(chosen_rating, ckey)").alias("chosen_rating"),
        F.max("ckey").alias("ckey"),
        F.expr("min_by(rejected_doc, rkey)").alias("rejected_doc"),
        F.expr("min_by(rejected_rating, rkey)").alias("rejected_rating"),
        F.min("rkey").alias("rkey"),
    ]

    def step(batch: DataFrame, prev: DataFrame | None) -> DataFrame:
        keyed = batch.select(
            F.expr(f"doc_id DIV {YV05_GROUP}").alias("pid"),
            "doc_id",
            (F.expr(_h("r", "doc_id")) % _RMOD).alias("rating"),
        ).withColumn("key", F.col("rating") * _KEY_SCALE - F.col("doc_id"))
        part = keyed.groupBy("pid").agg(
            F.count(F.lit(1)).alias("n_cands"),
            F.expr("max_by(doc_id, key)").alias("chosen_doc"),
            F.expr("max_by(rating, key)").alias("chosen_rating"),
            F.max("key").alias("ckey"),
            F.expr("min_by(doc_id, key)").alias("rejected_doc"),
            F.expr("min_by(rating, key)").alias("rejected_rating"),
            F.min("key").alias("rkey"),
        )
        if prev is None:
            return part
        return prev.unionByName(part).groupBy("pid").agg(*merge_aggs)

    out_schema = (
        "pid bigint, n_cands bigint, chosen_doc bigint, rejected_doc bigint,"
        " chosen_rating bigint, rejected_rating bigint, margin bigint"
    )
    with merged_stream(stream.select("doc_id"), "za04:pairs_merge", step) as state:
        if state is None:
            return spark.createDataFrame([], out_schema)
        return (
            state.where(
                (F.col("n_cands") >= 2)
                & (F.col("chosen_rating") > F.col("rejected_rating"))
            )
            .select(
                F.col("pid").cast("bigint").alias("pid"),
                F.col("n_cands").cast("bigint").alias("n_cands"),
                F.col("chosen_doc").cast("bigint").alias("chosen_doc"),
                F.col("rejected_doc").cast("bigint").alias("rejected_doc"),
                F.col("chosen_rating").cast("bigint").alias("chosen_rating"),
                F.col("rejected_rating").cast("bigint").alias("rejected_rating"),
                (F.col("chosen_rating") - F.col("rejected_rating"))
                .cast("bigint")
                .alias("margin"),
            )
            .orderBy("pid")
            .localCheckpoint(eager=True)  # detach from the temp files before cleanup
        )


def _za04_oracle_sql() -> str:
    """Identical to yv05's oracle: the converged streaming state IS the
    batch answer (layout invariance is the operator's whole claim)."""
    from spotify_tags_etl_spark.operators.yrlhf import _KEY_SCALE, YV05_GROUP

    return f"""
    WITH rated AS (
      SELECT doc_id // {YV05_GROUP} AS pid, doc_id,
             {_hd('r', 'doc_id')} % {_RMOD} AS rating
      FROM documents
    ),
    keyed AS (
      SELECT pid, doc_id, rating,
             rating * {_KEY_SCALE} - doc_id AS key
      FROM rated
    ),
    g AS (
      SELECT pid,
             COUNT(*) AS n_cands,
             MAX_BY(doc_id, key) AS chosen_doc,
             MAX_BY(rating, key) AS chosen_rating,
             MIN_BY(doc_id, key) AS rejected_doc,
             MIN_BY(rating, key) AS rejected_rating
      FROM keyed GROUP BY pid
    )
    SELECT CAST(pid AS BIGINT) AS pid,
           CAST(n_cands AS BIGINT) AS n_cands,
           CAST(chosen_doc AS BIGINT) AS chosen_doc,
           CAST(rejected_doc AS BIGINT) AS rejected_doc,
           CAST(chosen_rating AS BIGINT) AS chosen_rating,
           CAST(rejected_rating AS BIGINT) AS rejected_rating,
           CAST(chosen_rating - rejected_rating AS BIGINT) AS margin
    FROM g
    WHERE n_cands >= 2 AND chosen_rating > rejected_rating
    ORDER BY pid
    """


@register(
    "za04_stream_preference_pairs",
    oracle=_za04_oracle_sql(),
    doc=(
        "Streaming twin of yv05: DPO preference pairs maintained "
        "INCREMENTALLY as a response log arrives — foreachBatch reduces "
        "each micro-batch to per-prompt (count, argmax, argmin) "
        "partials (one map-combined groupBy of the BATCH, not the "
        "history) and merges them into a standing versioned-parquet "
        "extremes table keyed by prompt; pairs never need the full log "
        "re-scanned, so a 100 TB preference store updates at "
        "O(batch + |prompts|) per trigger. The merge relation (SUM + "
        "key-argmax/argmin over yv05's injective int64 key) is "
        "associative+commutative => micro-batch-layout invariant; the "
        "oracle is literally yv05's batch SQL. State lives in versioned "
        "parquet (the merged_stream skeleton) — the engine-state pin is EMPTY by "
        "design, and the inner merge plan is fingerprint-pinned."
    ),
    tags=("streaming", "rlhf", "training", "llm-pipeline"),
)
def za04(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spotify_tags_etl_spark.streaming.ops import read_table_stream

    return streaming_preference_pairs(
        spark, read_table_stream(spark, sf_dir, "documents")
    )


# ---------------------------------------------------------------------------
# zb01 — per-source token accounting via the vocabulary-dictionary join
# ---------------------------------------------------------------------------


def _zb01_oracle_sql(rounds: int = YV10_ROUNDS) -> str:
    ctes = bpe_ctes(rounds)
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f""",
    vocab AS (
      SELECT replace(seq, '|', '') AS w,
             len(string_split(seq, '|')) AS n_tok
      FROM w{rounds}
    ),
    cw AS (
      SELECT source, w, COUNT(*) AS c
      FROM (SELECT source,
                   unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
            FROM documents) t
      WHERE len(w) BETWEEN {YV10_MIN_LEN} AND {YV10_MAX_LEN}
      GROUP BY source, w
    )
    SELECT cw.source AS source,
           CAST(COUNT(*) AS BIGINT) AS word_types,
           CAST(SUM(cw.c) AS BIGINT) AS words,
           CAST(SUM(CAST(cw.c AS HUGEINT) * vocab.n_tok) AS BIGINT) AS tokens,
           CAST(SUM(CAST(cw.c AS HUGEINT) * vocab.n_tok) * 1000000
                // SUM(cw.c) AS BIGINT) AS tokens_per_word_ppm
    FROM cw JOIN vocab ON vocab.w = cw.w
    GROUP BY cw.source
    ORDER BY source
    """
    )


@register(
    "zb01_bpe_source_tokens",
    oracle=_zb01_oracle_sql(),
    doc=(
        "Per-source token accounting under the learned tokenizer via "
        "the DICTIONARY-JOIN apply shape (za01/za05 fold rules over the "
        "vocab; this is the other production apply: tokenize a keyed "
        "corpus slice by joining the word->token-count dictionary). "
        "Shape: ONE map-combined groupBy(source, word) collapses the "
        "corpus word stream (zipfian keys map-combine hard); the "
        "word-keyed join then runs on the per-source VOCABULARY frame "
        "(types, not occurrences) against the learner's vocab "
        "dictionary — at 100 TB that join is vocab-sized (~1e7 rows a "
        "side), never corpus-sized, and AQE's skew split covers the "
        "hot-word heads. Occurrence-weighted token sums accumulate in "
        "DECIMAL(38,0)/HUGEINT; the per-source tokens-per-word ratio "
        "is one 128-bit truncating ppm division. Feeds yv01/yv18: "
        "char/doc budgets become token budgets PER SOURCE under the "
        "actual tokenizer. The word band and normalization are exactly "
        "the learner's (yv10 tok CTE), so the dictionary covers every "
        "corpus word by construction (inner join is total)."
    ),
    tags=("text", "tokenizer", "training", "planner", "llm-pipeline"),
)
def zb01(spark: SparkSession, sf_dir: str) -> DataFrame:
    _rows, words = bpe_learn(spark, sf_dir, YV10_ROUNDS)
    vocab = words.select(
        F.translate("seq", "|", "").alias("w"),
        F.expr("size(split(seq, '\\\\|'))").alias("n_tok"),
    )
    record_plan(vocab, "zb01:vocab_dict")
    vocab = vocab.localCheckpoint(eager=True)
    words.unpersist()
    docs = load_table(spark, sf_dir, "documents")
    cw = (
        docs.select(
            "source", F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("w")
        )
        .where((F.length("w") >= YV10_MIN_LEN) & (F.length("w") <= YV10_MAX_LEN))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    out = (
        cw.join(vocab, "w")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("word_types"),
            F.sum("c").cast("bigint").alias("words"),
            F.expr("CAST(SUM(CAST(c AS DECIMAL(38,0)) * n_tok) AS BIGINT)").alias(
                "tokens"
            ),
            F.expr(
                "CAST(SUM(CAST(c AS DECIMAL(38,0)) * n_tok) * 1000000"
                " DIV SUM(c) AS BIGINT)"
            ).alias("tokens_per_word_ppm"),
        )
        .orderBy("source")
    )
    record_plan(out, "zb01:source_rollup")
    out = out.localCheckpoint(eager=True)
    vocab.unpersist()
    return out


# ---------------------------------------------------------------------------
# zb02 — streaming twin of za03: incremental histogram-merge quantile drift
# ---------------------------------------------------------------------------


def streaming_quantile_drift(spark: SparkSession, stream: DataFrame) -> DataFrame:
    """Incremental quantile drift: each micro-batch is reduced to its
    per-shard (shard, cents, count) histogram partial — SUM-merged into
    the standing versioned-parquet summary (counts are the canonical
    associative+commutative merge, so the converged summary is
    micro-batch-layout invariant; versioning runs on the
    streaming/ops.py merged_stream skeleton). Quantile extraction
    reuses za03's summary-side helper on the final state."""
    from spotify_tags_etl_spark.streaming.ops import merged_stream

    def step(batch: DataFrame, prev: DataFrame | None) -> DataFrame:
        part = (
            batch.select(
                F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
                (F.col("user_id") % ZA03_SHARDS).cast("bigint").alias("shard"),
            )
            .groupBy("shard", "cents")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        if prev is None:
            return part
        return (
            prev.unionByName(part)
            .groupBy("shard", "cents")
            .agg(F.sum("c").alias("c"))
        )

    with merged_stream(stream.select("user_id", "value"), "zb02:hist_merge", step) as state:
        if state is None:
            return spark.createDataFrame(
                [],
                "q_permille bigint, global_cents bigint, min_shard_cents bigint,"
                " max_shard_cents bigint, max_abs_drift_cents bigint",
            )
        hs = state.localCheckpoint(eager=True)
    return quantile_drift_from_summaries(spark, hs)


@register(
    "zb02_stream_quantile_drift",
    oracle=_ZA03_ORACLE,
    doc=(
        "Streaming twin of za03: the per-shard integer histogram is "
        "maintained INCREMENTALLY — each micro-batch contributes a "
        "map-combined (shard, cents, count) partial, SUM-merged into a "
        "versioned-parquet summary (the textbook mergeable-sketch "
        "update; O(batch + domain) per trigger, the raw stream is "
        "never re-scanned). Quantiles/drift are rank-selected from the "
        "converged summary with za03's shared summary-side helper, so "
        "batch and stream literally execute the same extraction. "
        "Associative+commutative merge => micro-batch-layout invariant "
        "(pinned against batch za03 under a 3-file split); oracle = "
        "za03's SQL. State-shape pin EMPTY (versioned parquet, the "
        "merged_stream skeleton); the inner merge plan is fingerprint-pinned."
    ),
    tags=("streaming", "quantile", "ops", "llm-pipeline"),
)
def zb02(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spotify_tags_etl_spark.streaming.ops import read_events_stream

    return streaming_quantile_drift(spark, read_events_stream(spark, sf_dir))


# ---------------------------------------------------------------------------
# zb03 — DSIR-style hashed n-gram importance scoring
# ---------------------------------------------------------------------------

#: Hash buckets for the n-gram feature space.
ZB03_BUCKETS = 256

#: Target-distribution filter (the domain we want more of).
ZB03_TARGET_LANG = "en"

#: Docs reported (highest importance first).
ZB03_TOPK = 20

#: Oracle-side word-position bound (ADVICE r7): DuckDB has no lateral
#: generate_series, so the bigram explode enumerates fixed positions
#: 1..N and filters ``i <= len(w) - 1``. A FIXED N either silently
#: diverges from Spark's unbounded ``sequence(1, size(ws) - 1)`` on a
#: long document (the r7 100000 cap) or pays an N-per-document
#: cross-join. Deriving N from the data — an uncorrelated scalar
#: subquery ``(SELECT MAX(len(words)) ...)`` — removes both failure
#: modes: exact at ANY document length, and the explode costs
#: max_len x n_docs instead of 100000 x n_docs (fixtures top out at
#: ~100 words/doc, so this is also ~1000x cheaper).
ZB03_ORACLE_MAX_WORDS_SQL = (
    "(SELECT MAX(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),"
    " x -> x <> ''))) FROM documents)"
)

#: Shared bigram spelling: lowercase, [a-z0-9]+ words, adjacent pairs.
_ZB03_SPARK_GRAMS = (
    "filter(transform(sequence(1, size(ws) - 1),"
    " i -> concat(ws[i - 1], ' ', ws[i])), g -> g IS NOT NULL)"
)


def zb03_grams(docs: DataFrame) -> DataFrame:
    """Shared gram extraction for batch zb03 and its streaming twin
    zc04: one (doc_id, lang, bucket) row per bigram occurrence."""
    return (
        docs.select(
            "doc_id",
            "lang",
            F.expr(
                "filter(split(lower(text), '[^a-z0-9]+'), x -> x <> '')"
            ).alias("ws"),
        )
        .where(F.size("ws") >= 2)
        .select(
            "doc_id",
            "lang",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ws) - 1),"
                    " i -> concat(ws[i - 1], ' ', ws[i]))"
                )
            ).alias("g"),
        )
        .withColumn(
            "bucket",
            F.expr(
                f"CAST(conv(substring(md5(g), 1, 8), 16, 10) AS BIGINT)"
                f" % {ZB03_BUCKETS}"
            ),
        )
    )


#: zb03's full oracle — shared verbatim with the streaming twin zc04
#: (same logical result; the stream only changes WHEN the census and
#: doc partials accumulate).
ZB03_ORACLE = f"""
    WITH grams AS MATERIALIZED (
      SELECT doc_id, lang,
             ('0x' || substr(md5(w[i] || ' ' || w[i + 1]), 1, 8))::BIGINT
               % {ZB03_BUCKETS} AS bucket
      FROM (SELECT doc_id, lang,
                   list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                               x -> x <> '') AS w
            FROM documents) t,
           UNNEST(generate_series(1, {ZB03_ORACLE_MAX_WORDS_SQL})) AS s(i)
      WHERE i <= len(w) - 1
    ),
    census AS MATERIALIZED (
      SELECT bucket,
             COUNT(*) AS raw_n,
             COUNT(*) FILTER (WHERE lang = '{ZB03_TARGET_LANG}') AS tgt_n
      FROM grams GROUP BY bucket
    ),
    tot AS (SELECT SUM(raw_n) AS raw_t, SUM(tgt_n) AS tgt_t FROM census),
    wts AS (
      SELECT bucket,
             CAST(CAST(tgt_n AS HUGEINT) * 1000000 // tot.tgt_t AS BIGINT)
             - CAST(CAST(raw_n AS HUGEINT) * 1000000 // tot.raw_t AS BIGINT)
               AS w
      FROM census, tot
    )
    SELECT g.doc_id AS doc_id,
           MIN(g.lang) AS lang,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(w.w) AS BIGINT) AS importance
    FROM grams g JOIN wts w ON w.bucket = g.bucket
    GROUP BY g.doc_id
    ORDER BY importance DESC, doc_id ASC
    LIMIT {ZB03_TOPK}
    """


@register(
    "zb03_importance_weights",
    oracle=ZB03_ORACLE,
    doc=(
        "Data-selection importance scoring (the hashed-n-gram "
        "importance-resampling recipe): bigrams hash into "
        f"{ZB03_BUCKETS} buckets; each bucket's weight is the exact "
        "ppm-frequency difference between the TARGET distribution "
        f"(lang='{ZB03_TARGET_LANG}') and the raw corpus; a document's "
        "importance is the sum of its bigram-occurrence weights — the "
        "linear, exactly-integer analog of the DSIR log-likelihood "
        "ratio (float logs cannot cross-engine hash; the ppm-difference "
        "score induces the same kind of target-likeness ordering and "
        "is reproducible bit-for-bit). Emits the top "
        f"{ZB03_TOPK} most target-like documents. Shape: two corpus "
        "passes exactly as real importance resampling runs at 100 TB — "
        "pass 1 is ONE map-combined groupBy(bucket) building both "
        "censuses at once (raw + filtered counts in the same "
        "aggregate); the 256-row weight table broadcast-joins into "
        "pass 2's map side, and the per-doc rollup is the second "
        "map-combined exchange; top-k compiles to "
        "TakeOrderedAndProject (rank is filter-only). The ppm "
        "numerators cross-multiply in 128-bit (count x 1e6 wraps int64 "
        "past 9e12 bigrams). Composes with tz07/yv01 (sample what this "
        "scores) and yx01 (decontaminate what it selects)."
    ),
    tags=("curation", "quality", "sampling", "llm-pipeline"),
)
def zb03(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r12 §14: fan the single-split corpus out before the two gram
    # passes. The fan key is text — the one column BOTH passes read —
    # so the census pass's ReadSchema stays (lang, text): keying on
    # doc_id would force the pruned id column back into that scan.
    docs = fan_out_scan(load_table(spark, sf_dir, "documents"), "text")
    # word-array projection filters empties exactly like the oracle
    grams = zb03_grams(docs)
    census = grams.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("raw_n"),
        F.count(F.when(F.col("lang") == ZB03_TARGET_LANG, 1)).alias("tgt_n"),
    )
    record_plan(census, "zb03:census")
    # 256 rows; without this checkpoint the census subtree (and its
    # corpus scan) evaluates twice — once under tot, once as the weight
    # frame's left side (the scan log showed pass 1 reading the corpus
    # twice; importance resampling is a TWO-pass recipe).
    census = census.localCheckpoint(eager=True)
    tot = census.agg(
        F.sum("raw_n").alias("raw_t"), F.sum("tgt_n").alias("tgt_t")
    )
    wts = census.crossJoin(F.broadcast(tot)).select(
        "bucket",
        (
            F.expr("CAST(CAST(tgt_n AS DECIMAL(38,0)) * 1000000 DIV tgt_t AS BIGINT)")
            - F.expr("CAST(CAST(raw_n AS DECIMAL(38,0)) * 1000000 DIV raw_t AS BIGINT)")
        ).alias("w"),
    )
    record_plan(wts, "zb03:bucket_weights")
    wts = wts.localCheckpoint(eager=True)  # 256 rows; pass 2 must not re-census
    out = (
        grams.join(F.broadcast(wts), "bucket")
        .groupBy("doc_id")
        .agg(
            F.min("lang").alias("lang"),
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum("w").cast("bigint").alias("importance"),
        )
        .orderBy(F.desc("importance"), F.asc("doc_id"))
        .limit(ZB03_TOPK)
    )
    record_plan(out, "zb03:doc_scores")
    return out
