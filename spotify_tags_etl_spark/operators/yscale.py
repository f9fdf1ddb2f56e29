"""Round-5 scale-machinery operators (``y*`` names sort after the
round-5 driver window, before the ``zv_`` rotation band):

* yb02 — integer TF-IDF document neighbors: inverted-index self-join
  with a document-frequency prefix filter (never all-pairs), top-k per
  doc — the sparse-retrieval complement of the dense ANN family;
* yd02 — exact two-sample Kolmogorov–Smirnov distance in integer ppm,
  its two ECDFs built on ``scalerank.prefix_sum`` (no single-reducer
  cumulative window) and compared by 128-bit cross-multiplication;
* ys01 — Pareto frontier (2-D skyline) via a strictly-greater RANGE
  window stacked on the range-partition + broadcast-offset pattern —
  the data-sized "best tradeoff" query that naive engines answer with
  an O(n^2) NOT EXISTS;
* yu01 — deterministic per-group reservoir downsample (hash-ranked
  k-per-source), the uniform-subsample primitive of data mixing;
* yz01 — small-file compaction planner: global first-fit bin packing
  along the exact cumulative-size axis (``prefix_sum`` again), the
  maintenance op every 100 TB parquet lake schedules nightly.

Disciplines: integer arithmetic end-to-end (cents / days / ppm via
DECIMAL(38,0) DIV where products can pass 2^63), md5 for deterministic
pseudo-randomness, total-order tiebreaks, and no stage that funnels a
data-sized frame through one reducer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spotify_tags_etl_spark.operators.scalerank import (
    _pid_map,
    _range_layout,
    prefix_sum,
)
from spotify_tags_etl_spark.plans.registry import register
from spotify_tags_etl_spark.functions.concurrency import fan_out_scan
from spotify_tags_etl_spark.sources.tpch import load_table, read_parquet


# ---------------------------------------------------------------------------
# yb02 — integer TF-IDF top-k document neighbors (inverted-index join)
# ---------------------------------------------------------------------------

#: Document-frequency cap: terms in more than this many documents are
#: dropped from the index (classic prefix/stop-term filtering — they
#: carry ~no signal and produce the quadratic posting-list joins).
YB02_DF_CAP = 100

#: Neighbors kept per document.
YB02_K = 3


@register(
    "yb02_tfidf_neighbors",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, t FROM (
        SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS t
        FROM documents
      ) WHERE t <> ''
    ),
    tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM tok GROUP BY doc_id, t),
    df AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY t),
    idf AS (SELECT t, 1000000 // df AS idf FROM df WHERE df <= {YB02_DF_CAP}),
    p AS (SELECT tf.doc_id, tf.t, tf.tf, idf.idf FROM tf JOIN idf USING (t)),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(SUM(a.tf * b.tf * a.idf) AS BIGINT) AS score
      FROM p a JOIN p b ON a.t = b.t AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    sym AS (
      SELECT doc_a AS doc_id, doc_b AS other_id, score FROM pairs
      UNION ALL
      SELECT doc_b AS doc_id, doc_a AS other_id, score FROM pairs
    ),
    ranked AS (
      SELECT doc_id, other_id, score,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, other_id) AS rk
      FROM sym
    )
    SELECT doc_id, other_id, score, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= {YB02_K}
    """,
    doc=(
        "Sparse-retrieval document similarity: integer TF-IDF scored "
        "top-k neighbors per document via an INVERTED-INDEX self-join "
        "— postings meet only on shared terms, and a document-"
        "frequency cap (df <= 100) drops stop-terms before the join, "
        "so pair work is bounded by sum-over-terms(df^2) with df "
        "capped, never corpus^2 (the same prefix-filtering rationale "
        "as xz01's exact sim-join). idf is the exact integer "
        "1e6 DIV df — no log, no floats — so scores are engine-"
        "identical. Top-k per doc is a per-partition window (doc-"
        "keyed, parallel). The sparse complement of the dense "
        "ss/xe ANN families for retrieval-augmented training data."
    ),
    tags=("text", "similarity", "llm-pipeline"),
)
def yb02(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), "\\s+")).alias("t")
    ).where(F.col("t") != "")
    tf = tok.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("tf"))
    idf = (
        tf.groupBy("t")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= YB02_DF_CAP)
        .select("t", F.expr("1000000 DIV df").alias("idf"))
    )
    p = tf.join(idf, "t")
    a = p.select(
        F.col("t").alias("t_a"), F.col("doc_id").alias("doc_a"),
        F.col("tf").alias("tf_a"), F.col("idf").alias("idf_a"),
    )
    b = p.select(F.col("t").alias("t_b"), F.col("doc_id").alias("doc_b"), F.col("tf").alias("tf_b"))
    pairs = (
        a.join(b, (F.col("t_a") == F.col("t_b")) & (F.col("doc_a") < F.col("doc_b")))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("tf_a") * F.col("tf_b") * F.col("idf_a")).cast("bigint").alias("score"))
    )
    sym = pairs.select(
        F.col("doc_a").alias("doc_id"), F.col("doc_b").alias("other_id"), "score"
    ).unionByName(
        pairs.select(
            F.col("doc_b").alias("doc_id"), F.col("doc_a").alias("other_id"), "score"
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("other_id").asc())
    return (
        sym.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rk") <= YB02_K)
        .select("doc_id", "other_id", "score", "rk")
    )


# ---------------------------------------------------------------------------
# yd02 — exact two-sample Kolmogorov–Smirnov distance (integer ppm)
# ---------------------------------------------------------------------------

#: The two event populations whose value distributions are compared.
YD02_A, YD02_B = "click", "purchase"


@register(
    "yd02_ks_two_sample",
    oracle=f"""
    WITH f AS (
      SELECT CAST(round(value * 100) AS BIGINT) AS c,
             COUNT(*) FILTER (WHERE event_type = '{YD02_A}') AS n1,
             COUNT(*) FILTER (WHERE event_type = '{YD02_B}') AS n2
      FROM events
      WHERE event_type IN ('{YD02_A}', '{YD02_B}') AND value IS NOT NULL
      GROUP BY 1
    ),
    cum AS (
      SELECT c,
             SUM(n1) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING) AS cum1,
             SUM(n2) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING) AS cum2
      FROM f
    ),
    t AS (SELECT CAST(SUM(n1) AS BIGINT) AS n, CAST(SUM(n2) AS BIGINT) AS m FROM f)
    SELECT t.n AS n_a, t.m AS n_b,
           CAST(MAX(ABS(CAST(cum.cum1 AS HUGEINT) * t.m - CAST(cum.cum2 AS HUGEINT) * t.n)
                    * 1000000 // (CAST(t.n AS HUGEINT) * t.m)) AS BIGINT) AS ks_ppm
    FROM cum CROSS JOIN t
    GROUP BY t.n, t.m
    """,
    doc=(
        "Exact two-sample Kolmogorov-Smirnov distance between the "
        "click and purchase value distributions, in integer ppm — the "
        "drift test that decides whether two data sources (or two "
        "time windows of one source) can be mixed into one training "
        "corpus. D = max_x |F1(x) - F2(x)| evaluated at every distinct "
        "cents value by cross-multiplication (|cum1*m - cum2*n|, "
        "DECIMAL(38,0) since the product passes 2^63 at ~1e10-row "
        "samples), so the statistic is engine-exact with no float "
        "ECDFs. Shape: one cents-keyed census, then BOTH cumulative "
        "counts ride scalerank.prefix_sum over the shared range "
        "layout (each a parallel per-partition running sum + "
        "broadcast offsets — no single-reducer window; the oracle "
        "keeps the windowed spelling as the truth anchor), then one "
        "scalar max-aggregate. Sample sizes fall out of the "
        "statistics passes as plan literals."
    ),
    tags=("statistics", "quality", "llm-pipeline"),
)
def yd02(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin(YD02_A, YD02_B) & F.col("value").isNotNull()
    )
    per = ev.groupBy(F.round(F.col("value") * 100).cast("bigint").alias("c")).agg(
        F.count(F.when(F.col("event_type") == YD02_A, 1)).alias("n1"),
        F.count(F.when(F.col("event_type") == YD02_B, 1)).alias("n2"),
    )
    # r13: both running sums in ONE layout/subtotal/window pass (see
    # yd03; scalerank.prefix_sums)
    from spotify_tags_etl_spark.operators.scalerank import prefix_sums

    cum2, tot = prefix_sums(
        per, [F.col("c").asc()], {"cum1": "n1", "cum2": "n2"}
    )
    n, m = tot["cum1"], tot["cum2"]
    if not n or not m:
        # One sample empty: D is undefined and the oracle's GROUP BY
        # over an empty census emits ZERO rows — mirror that instead of
        # Spark's one all-NULL global-aggregate row (and a 0-divisor).
        return spark.createDataFrame([], "n_a bigint, n_b bigint, ks_ppm bigint")
    diff_ppm = F.expr(
        f"CAST(ABS(CAST(cum1 AS DECIMAL(38,0)) * {m} - CAST(cum2 AS DECIMAL(38,0)) * {n})"
        f" * 1000000 DIV (CAST({n} AS DECIMAL(38,0)) * {m}) AS BIGINT)"
    )
    return cum2.agg(
        F.lit(n).cast("bigint").alias("n_a"),
        F.lit(m).cast("bigint").alias("n_b"),
        F.max(diff_ppm).alias("ks_ppm"),
    )


# ---------------------------------------------------------------------------
# ys01 — Pareto frontier / 2-D skyline (strict dominance)
# ---------------------------------------------------------------------------


@register(
    "ys01_pareto_frontier",
    oracle="""
    WITH p AS (
      SELECT o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             epoch_us(o_orderdate) // 86400000000 AS day
      FROM orders
    ),
    w AS (
      SELECT o_orderkey, cents, day,
             MAX(day) OVER (ORDER BY cents DESC
                            RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS dmax
      FROM p
    )
    SELECT o_orderkey, cents, CAST(day AS BIGINT) AS day
    FROM w WHERE dmax IS NULL OR day >= dmax
    """,
    doc=(
        "Pareto frontier (2-D skyline) of orders maximizing BOTH "
        "total price and recency: keep every order no other order "
        "strictly beats on both axes — the 'best tradeoffs' query "
        "that naive engines answer with an O(n^2) NOT EXISTS anti-"
        "join. Closed-form instead: a point survives iff its day >= "
        "max(day) over all STRICTLY higher cents, i.e. one running "
        "max over an exclusive value-RANGE frame. Scale shape: "
        "range-partition on cents DESC (equal keys never straddle a "
        "range boundary, so preceding partitions are strictly "
        "greater), per-partition RANGE-frame running max in parallel, "
        "GREATEST with the broadcast prefix of preceding partitions' "
        "maxima — scalerank's offset pattern under a value-range "
        "window. The single-reducer window lives only in the oracle."
    ),
    tags=("analytics", "skyline", "window"),
)
def ys01(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        F.expr("unix_micros(o_orderdate) DIV 86400000000").alias("day"),
    )
    # Range layout on cents DESC: partition p holds cents strictly above
    # partition p+1 (equal cents co-locate), so partition offsets are the
    # running max over strictly-greater cents by construction.
    ranged, _cols = _range_layout(pts, [F.col("cents").desc()], None)
    part_max = {
        r["_pid"]: r["m"]
        for r in ranged.groupBy("_pid").agg(F.max("day").alias("m")).collect()
    }
    offsets: dict[int, int | None] = {}
    acc: int | None = None
    for pid in sorted(part_max):
        offsets[pid] = acc
        v = part_max[pid]
        if v is not None:
            acc = v if acc is None else max(acc, v)
    # Exclusive value-range frame: with ORDER BY cents DESC, the frame
    # [unbounded, -1] holds rows whose cents >= current + 1 — exactly the
    # strictly-dominating-x population (cents are integers).
    w = (
        Window.partitionBy("_pid")
        .orderBy(F.col("cents").desc())
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    dmax = F.greatest(F.max("day").over(w), _pid_map(offsets))
    return (
        ranged.withColumn("dmax", dmax)
        .where(F.col("dmax").isNull() | (F.col("day") >= F.col("dmax")))
        .select("o_orderkey", "cents", "day")
    )


# ---------------------------------------------------------------------------
# yu01 — deterministic per-group reservoir downsample
# ---------------------------------------------------------------------------

#: Documents kept per source.
YU01_K = 20


@register(
    "yu01_grouped_reservoir_sample",
    oracle=f"""
    SELECT doc_id, source, CAST(rk AS BIGINT) AS rk FROM (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      FROM documents
    ) WHERE rk <= {YU01_K}
    """,
    doc=(
        "Deterministic uniform k-per-group downsample: each source "
        "keeps the k documents with the smallest md5(doc_id) — a "
        "reservoir sample that is a PURE FUNCTION of the corpus "
        "(stable under retries, repartitions, and engine swaps, the "
        "property rand() reservoirs cannot give an incremental "
        "pipeline; tz07 mixes by rate, this caps by exact count). "
        "Shape: one source-keyed partitioned window — parallel per "
        "group, top-k short-circuited by WindowGroupLimit at any "
        "scale. The uniform-subsample primitive under data-mixing "
        "recipes ('at most k docs per domain')."
    ),
    tags=("training", "sampling", "deterministic"),
)
def yu01(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rk") <= YU01_K)
        .select("doc_id", "source", "rk")
    )


# ---------------------------------------------------------------------------
# yz01 — small-file compaction planner (global first-fit bin packing)
# ---------------------------------------------------------------------------

#: Target compacted size (chars stand in for bytes in the fixture).
YZ01_TARGET = 64_000


@register(
    "yz01_compaction_planner",
    oracle=f"""
    WITH cw AS (
      SELECT doc_id, n_chars,
             SUM(n_chars) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
      FROM documents
    ),
    binned AS (
      SELECT CAST((cum - n_chars) // {YZ01_TARGET} AS BIGINT) AS bin, n_chars
      FROM cw
    )
    SELECT bin, COUNT(*) AS n_files,
           CAST(SUM(n_chars) AS BIGINT) AS bytes,
           CAST(CAST(SUM(n_chars) AS HUGEINT) * 1000000 // {YZ01_TARGET} AS BIGINT)
             AS fill_ppm
    FROM binned GROUP BY bin
    """,
    doc=(
        "Compaction planner: pack the table's files (documents stand "
        "in, n_chars as size) into target-sized output bins by "
        "first-fit along the stable doc_id order — each file joins "
        "the bin its cumulative-size prefix starts in — then report "
        "per-bin file count, bytes, and fill ratio (exact ppm via "
        "128-bit division). This is the nightly maintenance op of "
        "every parquet lake: small-file merge targets, sized so "
        "post-compaction scans read O(target) chunks. Shape: the "
        "cumulative-size axis is scalerank.prefix_sum (range-"
        "partitioned parallel running sum + broadcast offsets — no "
        "single-reducer window; the oracle keeps the windowed "
        "spelling as truth anchor), then one bin-keyed aggregate. "
        "Large files legitimately overflow their starting bin "
        "(streaming first-fit semantics), and the plan never moves "
        "data — it EMITS the merge schedule xv03-style writers "
        "execute."
    ),
    tags=("maintenance", "layout", "planner"),
)
def yz01(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    cw, _total = prefix_sum(docs, [F.col("doc_id").asc()], "n_chars", sum_col="cum")
    binned = cw.select(
        F.expr(f"CAST((cum - n_chars) DIV {YZ01_TARGET} AS BIGINT)").alias("bin"),
        "n_chars",
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("n_chars").cast("bigint").alias("bytes"),
        F.expr(
            f"CAST(CAST(SUM(n_chars) AS DECIMAL(38,0)) * 1000000 DIV {YZ01_TARGET} AS BIGINT)"
        ).alias("fill_ppm"),
    )


# ---------------------------------------------------------------------------
# yc01 — RAG chunking (fixed-size overlapping token windows)
# ---------------------------------------------------------------------------

#: Chunk size / stride in tokens (stride < size => overlapping windows).
YC01_SIZE, YC01_STRIDE = 64, 48


@register(
    "yc01_chunk_documents",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS t
      FROM documents
    ),
    chunks AS (
      SELECT doc_id, i AS chunk_idx,
             list_slice(t, i * {YC01_STRIDE} + 1,
                        least(i * {YC01_STRIDE} + {YC01_SIZE}, len(t))) AS c
      FROM tk, unnest(range(0, (len(t) - 1) // {YC01_STRIDE} + 1)) AS u(i)
      WHERE len(t) > 0
    )
    SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
           CAST(len(c) AS BIGINT) AS n_tokens,
           md5(array_to_string(c, ' ')) AS chunk_hash
    FROM chunks
    """,
    doc=(
        "RAG chunking: split every document into fixed-size overlapping "
        "token windows (64-token chunks, 48-token stride) with stable "
        "(doc_id, chunk_idx) identity and a content hash — the "
        "retrieval-corpus preparation step between curation and "
        "embedding. Pure map-side: tokenize, generate chunk starts with "
        "sequence(), slice() each window, hash — no shuffle, no UDF, "
        "perfectly scalable (a chunker that shuffles is a broken "
        "chunker). The final short chunk is kept (standard RAG "
        "practice: trailing context must not be dropped); determinism "
        "comes from the tokenizer alone, so chunks are reproducible "
        "across engines and reruns — which is what makes downstream "
        "embedding caches (keyed on chunk_hash) valid."
    ),
    tags=("text", "llm-pipeline", "chunking"),
)
def yc01(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tk = docs.select(
        "doc_id",
        F.expr("filter(split(lower(text), '\\\\s+'), x -> x != '')").alias("t"),
    ).where(F.size("t") > 0)
    return (
        tk.select(
            "doc_id",
            "t",
            F.explode(
                F.expr(f"sequence(0, CAST((size(t) - 1) DIV {YC01_STRIDE} AS INT))")
            ).alias("chunk_idx"),
        )
        .select(
            "doc_id",
            F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
            F.expr(f"slice(t, chunk_idx * {YC01_STRIDE} + 1, {YC01_SIZE})").alias("c"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            F.size("c").cast("bigint").alias("n_tokens"),
            F.md5(F.array_join("c", " ")).alias("chunk_hash"),
        )
    )


# ---------------------------------------------------------------------------
# yf01 — within-document repetition score (duplicate n-gram fraction)
# ---------------------------------------------------------------------------


@register(
    "yf01_repetition_score",
    oracle="""
    WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    g AS (
      SELECT doc_id,
             len(t) - 2 AS n_grams,
             len(list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                for i in range(1, len(t) - 1)])) AS n_distinct
      FROM tk WHERE len(t) >= 3
    )
    SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
           CAST(n_distinct AS BIGINT) AS n_distinct,
           CAST((1000000 * (n_grams - n_distinct)) // n_grams AS BIGINT) AS rep_ppm
    FROM g
    """,
    doc=(
        "Within-document repetition score: the fraction of a doc's "
        "word 3-gram OCCURRENCES that are repeats of an earlier gram "
        "in the same doc, in exact integer ppm — the Gopher-style "
        "quality signal that catches degenerate/looping text "
        "(boilerplate lists, keyword stuffing, decode loops) that "
        "cross-corpus novelty (ya01) cannot see because the "
        "repetition is local. Shape: ENTIRELY map-side — tokenize, "
        "build the gram array, array_distinct, two sizes, one "
        "integer division; no explode, no shuffle, no UDF. The "
        "cheapest possible quality gate at 100 TB: it composes into "
        "any scan for free (whole-stage codegen, one pass)."
    ),
    tags=("text", "quality", "llm-pipeline"),
)
def yf01(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r12 §14: fan the single-split corpus out before the gram explode
    docs = fan_out_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"
    )
    grams = (
        "transform(sequence(1, size(t) - 2), "
        "i -> concat_ws(' ', element_at(t, i), element_at(t, i + 1), element_at(t, i + 2)))"
    )
    return (
        docs.select("doc_id", F.split("text", " ").alias("t"))
        .where(F.size("t") >= 3)
        .select(
            "doc_id",
            (F.size("t") - 2).cast("bigint").alias("n_grams"),
            F.expr(f"CAST(size(array_distinct({grams})) AS BIGINT)").alias("n_distinct"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_distinct",
            F.expr("(1000000 * (n_grams - n_distinct)) DIV n_grams").alias("rep_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# yg02 — Mann-Whitney rank-sum test (exact midranks, integer AUC)
# ---------------------------------------------------------------------------


@register(
    "yg02_rank_sum_test",
    oracle=f"""
    WITH f AS (
      SELECT CAST(round(value * 100) AS BIGINT) AS c,
             COUNT(*) FILTER (WHERE event_type = '{YD02_A}') AS n1,
             COUNT(*) AS cnt
      FROM events
      WHERE event_type IN ('{YD02_A}', '{YD02_B}') AND value IS NOT NULL
      GROUP BY 1
    ),
    cum AS (
      SELECT c, n1, cnt,
             SUM(cnt) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING) - cnt AS cum_prev
      FROM f
    ),
    t AS (
      SELECT CAST(SUM(n1) AS BIGINT) AS n,
             CAST(SUM(cnt) - SUM(n1) AS BIGINT) AS m
      FROM f
    )
    SELECT t.n AS n_a, t.m AS n_b,
           CAST(CAST(SUM(CAST(n1 AS HUGEINT) * (2 * cum_prev + cnt + 1)) AS HUGEINT)
                - CAST(t.n AS HUGEINT) * (t.n + 1) AS VARCHAR) AS two_u,
           CAST((CAST(SUM(CAST(n1 AS HUGEINT) * (2 * cum_prev + cnt + 1)) AS HUGEINT)
                 - CAST(t.n AS HUGEINT) * (t.n + 1)) * 1000000
                // (2 * CAST(t.n AS HUGEINT) * t.m) AS BIGINT) AS auc_ppm
    FROM cum CROSS JOIN t
    GROUP BY t.n, t.m
    """,
    doc=(
        "Mann-Whitney rank-sum test between the click and purchase "
        "value samples with EXACT tie midranks, all in integer "
        "arithmetic: for each distinct cents value the doubled "
        "midrank-sum contribution is n1*(2*cum_prev + cnt + 1), so "
        "2*U = sum - n*(n+1) and AUC = U/(n*m) in exact ppm — the "
        "nonparametric sibling of yd02's KS distance (KS asks 'same "
        "distribution?', rank-sum asks 'is one stochastically "
        "larger?' — the A/B effect direction). 128-bit products "
        "(DECIMAL(38,0)/HUGEINT, rendered as strings — xs06's "
        "discipline) since rank sums pass 2^63 at ~1e10-row samples. "
        "Shape: cents census, ONE prefix_sum for the shared "
        "cumulative axis (parallel, offset-broadcast), one scalar "
        "aggregate."
    ),
    tags=("statistics", "quality", "llm-pipeline"),
)
def yg02(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin(YD02_A, YD02_B) & F.col("value").isNotNull()
    )
    per = ev.groupBy(F.round(F.col("value") * 100).cast("bigint").alias("c")).agg(
        F.count(F.when(F.col("event_type") == YD02_A, 1)).alias("n1"),
        F.count(F.lit(1)).alias("cnt"),
    )
    cum, total = prefix_sum(per, [F.col("c").asc()], "cnt", sum_col="cum_incl")
    rows = cum.withColumn("cum_prev", F.col("cum_incl") - F.col("cnt"))
    # The A-sample total is a plain aggregate over the checkpointed frame
    # (O(#distinct cents) rows — not a data-sized pass).
    n = rows.agg(F.sum("n1")).collect()[0][0]
    if not n or not (total - n):
        # Empty census → SUM(n1) is NULL (f-string would render the
        # literal token None); one-sided census → 0 divisor. The
        # oracle's GROUP BY emits zero rows in both cases — mirror it.
        return spark.createDataFrame(
            [], "n_a bigint, n_b bigint, two_u string, auc_ppm bigint"
        )
    m = total - n
    return rows.agg(
        F.lit(n).cast("bigint").alias("n_a"),
        F.lit(m).cast("bigint").alias("n_b"),
        F.expr(
            f"CAST(CAST(SUM(CAST(n1 AS DECIMAL(38,0)) * (2 * cum_prev + cnt + 1)) "
            f"- CAST({n} AS DECIMAL(38,0)) * {n + 1} AS DECIMAL(38,0)) AS STRING)"
        ).alias("two_u"),
        F.expr(
            f"CAST((SUM(CAST(n1 AS DECIMAL(38,0)) * (2 * cum_prev + cnt + 1)) "
            f"- CAST({n} AS DECIMAL(38,0)) * {n + 1}) * 1000000 "
            f"DIV (2 * CAST({n} AS DECIMAL(38,0)) * {m}) AS BIGINT)"
        ).alias("auc_ppm"),
    )


# ---------------------------------------------------------------------------
# yl01 — partition stats manifest (data-skipping index)
# ---------------------------------------------------------------------------


@register(
    "yl01_partition_stats_manifest",
    oracle="""
    SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
           COUNT(*) AS n_rows,
           CAST(MIN(epoch_us(ts)) AS BIGINT) AS min_ts_us,
           CAST(MAX(epoch_us(ts)) AS BIGINT) AS max_ts_us,
           COUNT(DISTINCT user_id) AS ndv_users,
           CAST(MIN(user_id) AS BIGINT) AS min_user,
           CAST(MAX(user_id) AS BIGINT) AS max_user,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
    FROM events GROUP BY 1
    """,
    doc=(
        "Partition stats manifest: per day-partition min/max/count/"
        "NDV/sum column statistics — the data-skipping index every "
        "100 TB lake keeps beside its files (parquet footer stats "
        "lifted to the manifest level, the Iceberg/Delta mechanism "
        "xv03's directory pruning approximates). A scan with a "
        "user_id or ts predicate consults O(#partitions) manifest "
        "rows and prunes whole files before any I/O; the stats are "
        "all associative aggregates, so incremental maintenance is "
        "a per-new-file merge (uz04's rollup discipline). One "
        "map-combined groupBy; NDV exact here, av14's HLL sketch at "
        "manifest-merge scale."
    ),
    tags=("maintenance", "layout", "statistics"),
)
def yl01(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.expr("CAST(unix_micros(ts) DIV 86400000000 AS BIGINT)").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min(F.unix_micros("ts")).cast("bigint").alias("min_ts_us"),
        F.max(F.unix_micros("ts")).cast("bigint").alias("max_ts_us"),
        F.count_distinct("user_id").alias("ndv_users"),
        F.min("user_id").cast("bigint").alias("min_user"),
        F.max("user_id").cast("bigint").alias("max_user"),
        F.sum(F.round(F.col("value") * 100).cast("bigint")).cast("bigint").alias("sum_cents"),
    )


# ---------------------------------------------------------------------------
# ym01 — sequence pattern match (MATCH_RECOGNIZE-lite funnel regex)
# ---------------------------------------------------------------------------

#: The ordered event-type pattern counted per user.
YM01_PATTERN = "view,click,purchase"


@register(
    "ym01_sequence_pattern_match",
    oracle=f"""
    WITH seqs AS (
      SELECT user_id,
             string_agg(event_type, ',' ORDER BY ts, event_id) AS seq
      FROM events GROUP BY user_id
    )
    SELECT user_id,
           CAST((length(seq) - length(replace(seq, '{YM01_PATTERN}', '')))
                // {len(YM01_PATTERN)} AS BIGINT) AS n_matches
    FROM seqs
    """,
    doc=(
        "MATCH_RECOGNIZE-lite sequence pattern matching: count the "
        "non-overlapping occurrences of the ordered event pattern "
        "view->click->purchase (IMMEDIATELY consecutive — stricter "
        "than xf01's eventually-after funnel, which tolerates "
        "interleaved noise) per user, via the length-delta-of-replace "
        "identity over the user's (ts, event_id)-ordered type string. "
        "Both engines replace left-to-right non-overlapping, so the "
        "count is engine-exact with a total-order tiebreak. Shape: "
        "one user-keyed aggregate builds each sequence (sort_array "
        "over the collected (ts,event_id,type) structs — per-key, "
        "parallel, no global sort), then per-row string arithmetic; "
        "per-user sequences are bounded by per-user activity, the "
        "same state bound st03's sessionizer lives with."
    ),
    tags=("eventtime", "pattern", "analytics"),
)
def ym01(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    seqs = ev.groupBy("user_id").agg(
        F.array_join(
            F.expr(
                "transform(array_sort(collect_list(struct(ts, event_id, event_type))), x -> x.event_type)"
            ),
            ",",
        ).alias("seq")
    )
    plen = len(YM01_PATTERN)
    return seqs.select(
        "user_id",
        F.expr(
            f"CAST((length(seq) - length(replace(seq, '{YM01_PATTERN}', ''))) DIV {plen} AS BIGINT)"
        ).alias("n_matches"),
    )


# ---------------------------------------------------------------------------
# ye01 — int8 embedding projection (relational matrix multiply)
# ---------------------------------------------------------------------------

#: Output dimensionality of the projection head.
YE01_D_OUT = 8

#: Deterministic weight in {-3..3} for (input dim i, output dim j) —
#: md5-derived so both engines synthesize the IDENTICAL matrix with no
#: shipped artifact.
_W_SPARK = (
    "CAST(conv(substring(md5(concat(CAST(i AS STRING), ':', CAST(j AS STRING))), 1, 8), 16, 10) AS BIGINT) % 7 - 3"
)
_W_DUCK = (
    "('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || CAST(j AS VARCHAR)), 1, 8))::BIGINT % 7 - 3"
)


@register(
    "ye01_int8_projection",
    oracle=f"""
    WITH ex AS (
      SELECT vec_id,
             unnest(range(1, len(embedding) + 1)) AS i,
             unnest(embedding) AS v
      FROM embeddings
    ),
    q AS (
      SELECT vec_id, i, CAST(floor(CAST(v AS DOUBLE) * 127) AS BIGINT) AS q
      FROM ex
    ),
    w AS (
      SELECT i, j, {_W_DUCK} AS w
      FROM generate_series(1, 64) AS gi(i), generate_series(1, {YE01_D_OUT}) AS gj(j)
    )
    SELECT q.vec_id, w.j AS out_dim,
           CAST(SUM(q.q * w.w) AS BIGINT) AS dot
    FROM q JOIN w ON w.i = q.i
    GROUP BY q.vec_id, w.j
    """,
    doc=(
        "Linear projection head over the embedding column as RELATIONAL "
        "algebra — the 'tensor op in the engine' pattern: quantize to "
        "int8 (floor-based, vx02's engine-exact spelling), posexplode "
        "to (vec_id, i, q) triples, broadcast-join the 64x8 weight "
        "matrix (synthesized in-plan from md5, so both engines "
        "materialize the identical matrix with no shipped artifact), "
        "and sum-reduce to (vec_id, out_dim, dot) — exact integer "
        "dot products at any scale. This is how a linear probe / "
        "dimensionality reduction runs over 100 TB of embeddings "
        "WITHOUT exporting to a training framework: the weight side "
        "is O(d_in*d_out) and broadcasts; the data side scans once "
        "and reduces on (vec_id, j) with map-side partials."
    ),
    tags=("similarity", "llm-pipeline", "linear-algebra"),
)
def ye01(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "v")
    ).select(
        "vec_id",
        (F.col("pos") + 1).alias("i"),
        F.expr("CAST(floor(CAST(v AS DOUBLE) * 127) AS BIGINT)").alias("q"),
    )
    w = (
        spark.range(1, 65)
        .select(F.col("id").alias("i"))
        .crossJoin(
            spark.range(1, YE01_D_OUT + 1).select(F.col("id").alias("j"))
        )
        .select("i", "j", F.expr(_W_SPARK).alias("w"))
    )
    return (
        q.join(F.broadcast(w), "i")
        .groupBy("vec_id", F.col("j").alias("out_dim"))
        .agg(F.sum(F.col("q") * F.col("w")).cast("bigint").alias("dot"))
    )


# ---------------------------------------------------------------------------
# yn02 — grid-blocked spatial neighbor join
# ---------------------------------------------------------------------------

#: Coordinate domain, neighbor radius, and its square (grid cell = R).
YN02_DOMAIN, YN02_R = 100_000, 500

_X_SPARK = (
    "CAST(conv(substring(md5(concat('x:', CAST(event_id AS STRING))), 1, 8), 16, 10) AS BIGINT) % 100000"
)
_Y_SPARK = (
    "CAST(conv(substring(md5(concat('y:', CAST(event_id AS STRING))), 1, 8), 16, 10) AS BIGINT) % 100000"
)
_X_DUCK = "('0x' || substr(md5('x:' || CAST(event_id AS VARCHAR)), 1, 8))::BIGINT % 100000"
_Y_DUCK = "('0x' || substr(md5('y:' || CAST(event_id AS VARCHAR)), 1, 8))::BIGINT % 100000"


@register(
    "yn02_grid_neighbor_join",
    oracle=f"""
    WITH pts AS (
      SELECT event_id, {_X_DUCK} AS x, {_Y_DUCK} AS y FROM events
    ),
    a AS (SELECT event_id, x, y, x // {YN02_R} AS cx, y // {YN02_R} AS cy FROM pts),
    b AS (
      SELECT event_id, x, y, x // {YN02_R} + dx AS cx, y // {YN02_R} + dy AS cy
      FROM pts, generate_series(-1, 1) AS gx(dx), generate_series(-1, 1) AS gy(dy)
    ),
    pairs AS (
      SELECT (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS d2
      FROM a JOIN b ON a.cx = b.cx AND a.cy = b.cy AND a.event_id < b.event_id
      WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= {YN02_R * YN02_R}
    )
    SELECT COUNT(*) AS n_pairs,
           CAST(COALESCE(SUM(d2), 0) AS BIGINT) AS sum_d2
    FROM pairs
    """,
    doc=(
        "Spatial neighbor join (all point pairs within radius R) via "
        "GRID BLOCKING — the canonical distributed spatial-join "
        "pattern: bucket points into R-sized cells, replicate ONE side "
        "into its 3x3 cell neighborhood, equi-join on cell id, then "
        "exact integer squared-distance filter. Each qualifying pair "
        "meets exactly once (the replica lands in the anchor's home "
        "cell; the id ordering kills the mirror match), so no distinct "
        "is needed. Work is sum-over-cells(density^2) — local density, "
        "never corpus^2 — and the 9x replication is the bounded price "
        "that turns a theta-join into an equi-join Spark can hash-"
        "partition (same move as dd02's LSH bands and xz01's prefix "
        "filter, in coordinate space). Coordinates are md5-derived "
        "from event ids, so both engines synthesize the identical "
        "deterministic point set."
    ),
    tags=("join", "spatial", "blocking"),
)
def yn02(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = YN02_R
    # r12 §14: fan the single-split events scan out before the 9-cell
    # explode + in-cell pair work (scale-adaptive no-op at >= cores
    # splits). Every other events consumer measured WORSE with a fan
    # (cheap per-row maps) and keeps the plain scan.
    pts = fan_out_scan(
        load_table(spark, sf_dir, "events").select(
            "event_id", F.expr(_X_SPARK).alias("x"), F.expr(_Y_SPARK).alias("y")
        ),
        "event_id",
    )
    a = pts.select(
        F.col("event_id").alias("a_id"), F.col("x").alias("ax"), F.col("y").alias("ay"),
        F.expr(f"x DIV {r}").alias("cx"), F.expr(f"y DIV {r}").alias("cy"),
    )
    b = (
        pts.select(
            F.col("event_id").alias("b_id"), F.col("x").alias("bx"), F.col("y").alias("by"),
            F.expr(f"x DIV {r}").alias("hcx"), F.expr(f"y DIV {r}").alias("hcy"),
        )
        .withColumn("dx", F.explode(F.sequence(F.lit(-1), F.lit(1))))
        .withColumn("dy", F.explode(F.sequence(F.lit(-1), F.lit(1))))
        .select(
            "b_id", "bx", "by",
            (F.col("hcx") + F.col("dx")).alias("cx"),
            (F.col("hcy") + F.col("dy")).alias("cy"),
        )
    )
    d2 = (F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx")) + (
        F.col("ay") - F.col("by")
    ) * (F.col("ay") - F.col("by"))
    pairs = a.join(b, ["cx", "cy"]).where(
        (F.col("a_id") < F.col("b_id")) & (d2 <= r * r)
    )
    return pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.coalesce(F.sum(d2), F.lit(0)).cast("bigint").alias("sum_d2"),
    )


# ---------------------------------------------------------------------------
# yx01 — train/test split leakage audit (cross-split near-dup detection)
# ---------------------------------------------------------------------------

#: Near-dup threshold for a cross-split pair to count as leakage —
#: dd02's 0.8 Jaccard, in integer permille.
YX01_PERMILLE = 800


def _yx01_oracle() -> str:
    from spotify_tags_etl_spark.functions.hashing import hash_frac_sql
    from spotify_tags_etl_spark.operators.dedup import _minhash_ctes

    return f"""
    WITH {_minhash_ctes(YX01_PERMILLE)},
    sp AS (
      SELECT doc_id,
             CASE WHEN {hash_frac_sql('doc_id')} < 0.8 THEN 'train'
                  WHEN {hash_frac_sql('doc_id')} < 0.9 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    )
    SELECT v.d1, v.d2, sa.split AS split_1, sb.split AS split_2,
           CAST(v.jaccard_permille AS BIGINT) AS jaccard_permille
    FROM verified v
    JOIN sp sa ON sa.doc_id = v.d1
    JOIN sp sb ON sb.doc_id = v.d2
    WHERE sa.split <> sb.split
    """


@register(
    "yx01_split_leakage_audit",
    oracle=_yx01_oracle(),
    doc=(
        "Train/test LEAKAGE audit: after the deterministic 80/10/10 "
        "hash split (tz02's assignment), find every verified near-dup "
        "pair (dd02's MinHash->LSH bands->exact-Jaccard machinery, "
        "same 0.8 threshold) whose two documents landed in DIFFERENT "
        "splits — the contamination that silently inflates eval "
        "numbers and that xu02's benchmark decontamination cannot see "
        "because both sides live inside the training corpus. Exact "
        "hash-split twins ARE leakage here: near-dup of an eval doc "
        "in train is the definition of the problem. Shape: the full "
        "banded-LSH candidate path (single self-join, never "
        "all-pairs) + two broadcast-sized split-label joins; at "
        "100 TB this rides the SAME signature/band frames the dedup "
        "pass already computes, so the audit is an incremental "
        "join-filter on work the pipeline has to do anyway."
    ),
    tags=("training", "dedup", "llm-pipeline", "audit"),
)
def yx01(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spotify_tags_etl_spark.operators.dedup import (
        jaccard_verify,
        lsh_candidate_pairs,
        minhash_signatures,
        word_shingles,
    )
    from spotify_tags_etl_spark.operators.training import train_val_test_split

    # r12 §14: fan the single-split corpus out before shingling
    docs = fan_out_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    sh = word_shingles(docs)
    sig = minhash_signatures(sh)
    verified = jaccard_verify(lsh_candidate_pairs(sig), sh, YX01_PERMILLE)
    sp = train_val_test_split(docs.select("doc_id"), "doc_id")
    s1 = sp.select(F.col("doc_id").alias("d1"), F.col("split").alias("split_1"))
    s2 = sp.select(F.col("doc_id").alias("d2"), F.col("split").alias("split_2"))
    return (
        verified.join(s1, "d1")
        .join(s2, "d2")
        .where(F.col("split_1") != F.col("split_2"))
        .select("d1", "d2", "split_1", "split_2",
                F.col("jaccard_permille").cast("bigint").alias("jaccard_permille"))
    )



# ---------------------------------------------------------------------------
# yl02 — deterministic class balancing (downsample to minority count)
# ---------------------------------------------------------------------------


@register(
    "yl02_class_balance",
    oracle="""
    WITH c AS (SELECT label, COUNT(*) AS n FROM embeddings GROUP BY label),
    m AS (SELECT MIN(n) AS mn FROM c),
    r AS (
      SELECT vec_id, label,
             ROW_NUMBER() OVER (PARTITION BY label
                                ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rk
      FROM embeddings
    )
    SELECT vec_id, label, CAST(rk AS BIGINT) AS rk
    FROM r CROSS JOIN m WHERE rk <= mn
    """,
    doc=(
        "Deterministic class balancing: every label downsampled to the "
        "MINORITY class count by md5-ranked selection — the classifier-"
        "training prep that prevents majority-class collapse, as a "
        "pure function of the corpus (yu01's reservoir discipline "
        "applied to label strata; tz01 rates are per-stratum "
        "fractions, this equalizes absolute counts). Shape: one "
        "O(#labels) census collected as a plan literal (the "
        "sanctioned plan-feeding-statistic collect), one label-"
        "partitioned window with WindowGroupLimit pushdown — per-"
        "class top-k short-circuits map-side, so the shuffle carries "
        "O(#labels * minority) rows whatever the corpus size."
    ),
    tags=("training", "sampling", "deterministic"),
)
def yl02(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    counts = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n")).collect()
    mn = min(r.n for r in counts)
    w = Window.partitionBy("label").orderBy(
        F.md5(F.col("vec_id").cast("string")), F.col("vec_id")
    )
    return (
        emb.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rk") <= mn)
        .select("vec_id", "label", "rk")
    )


# ---------------------------------------------------------------------------
# yl03 — DAU / trailing-MAU stickiness
# ---------------------------------------------------------------------------

#: Trailing window (days) for the MAU denominator.
YL03_WINDOW = 30


@register(
    "yl03_dau_mau_stickiness",
    oracle=f"""
    WITH du AS (
      SELECT DISTINCT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day, user_id
      FROM events
    ),
    days AS (SELECT DISTINCT day FROM du),
    mau AS (
      SELECT d.day, COUNT(DISTINCT u.user_id) AS mau
      FROM days d JOIN du u ON u.day BETWEEN d.day - {YL03_WINDOW - 1} AND d.day
      GROUP BY d.day
    ),
    dau AS (SELECT day, COUNT(*) AS dau FROM du GROUP BY day)
    SELECT dau.day, dau.dau, mau.mau,
           CAST((1000000 * dau.dau) // mau.mau AS BIGINT) AS stickiness_ppm
    FROM dau JOIN mau ON mau.day = dau.day
    """,
    doc=(
        "DAU/MAU stickiness: per day, the distinct-actives ratio "
        "against the TRAILING 30-day distinct actives, in exact ppm — "
        "the engagement metric whose denominator is a sliding-window "
        "COUNT DISTINCT (not decomposable into per-day partials, the "
        "reason naive rollups get it wrong). Exact shape: reduce "
        "events to the distinct (day, user) frame ONCE (the only "
        "data-sized stage), then a broadcast range-join of the tiny "
        "O(#days) day list against that frame re-buckets each "
        "day-user pair into every window it serves — work is "
        "O(pairs * window/periods-per-pair), never a rescan of raw "
        "events. At extreme scale the exact distinct swaps for "
        "xk02's mergeable HLL per day, unioned over the trailing "
        "window — same plan shape, sketch algebra."
    ),
    tags=("eventtime", "analytics", "window"),
)
def yl03(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    du = ev.select(
        F.expr("CAST(unix_micros(ts) DIV 86400000000 AS BIGINT)").alias("day"),
        "user_id",
    ).distinct()
    days = du.select("day").distinct().select(F.col("day").alias("d"))
    mau = (
        du.join(
            F.broadcast(days),
            (F.col("day") >= F.col("d") - (YL03_WINDOW - 1)) & (F.col("day") <= F.col("d")),
        )
        .groupBy("d")
        .agg(F.count_distinct("user_id").alias("mau"))
    )
    dau = du.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    return (
        dau.join(mau, dau["day"] == mau["d"])
        .select(
            "day",
            "dau",
            "mau",
            F.expr("CAST((1000000 * dau) DIV mau AS BIGINT)").alias("stickiness_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# yl04 — top-k population drift between time halves
# ---------------------------------------------------------------------------

#: Top-k population size compared across the two halves.
YL04_K = 50


@register(
    "yl04_topk_drift",
    oracle=f"""
    WITH bounds AS (
      SELECT MIN(epoch_us(ts) // 86400000000) AS lo,
             MAX(epoch_us(ts) // 86400000000) AS hi
      FROM events
    ),
    tagged AS (
      SELECT user_id,
             CASE WHEN epoch_us(ts) // 86400000000 <= (b.lo + b.hi) // 2
                  THEN 0 ELSE 1 END AS half
      FROM events CROSS JOIN bounds b
    ),
    counts AS (SELECT half, user_id, COUNT(*) AS c FROM tagged GROUP BY half, user_id),
    topk AS (
      SELECT half, user_id FROM (
        SELECT half, user_id,
               ROW_NUMBER() OVER (PARTITION BY half ORDER BY c DESC, user_id) AS rk
        FROM counts
      ) WHERE rk <= {YL04_K}
    )
    SELECT CAST(SUM(CASE WHEN n = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
           CAST(COUNT(*) AS BIGINT) AS n_union,
           CAST((1000 * SUM(CASE WHEN n = 2 THEN 1 ELSE 0 END)) // COUNT(*) AS BIGINT)
             AS jaccard_permille
    FROM (SELECT user_id, COUNT(*) AS n FROM topk GROUP BY user_id)
    """,
    doc=(
        "Top-k population drift: how much the top-50 most-active user "
        "set changed between the first and second half of the time "
        "range — set Jaccard in integer permille, the heavy-hitter "
        "stability check behind cache sizing, skew-salt lists (wz02), "
        "and 'did the workload shift' alerts (xa01 compares "
        "DISTRIBUTIONS; this compares the top POPULATION, which is "
        "what the infrastructure actually keys on). Shape: per-half "
        "activity census (one shuffle), per-half top-k via "
        "WindowGroupLimit (map-side short-circuit to k rows per task "
        "— a 2-partition window is NOT a bottleneck because only "
        "O(k) rows per map task ever reach the reducer), then an "
        "O(k) set comparison. The time midpoint comes from a 1-row "
        "min/max broadcast."
    ),
    tags=("analytics", "skew", "drift"),
)
def yl04(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.expr("unix_micros(ts) DIV 86400000000").alias("day")
    )
    bounds = ev.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    tagged = ev.crossJoin(F.broadcast(bounds)).select(
        "user_id",
        F.when(F.col("day") <= F.expr("(lo + hi) DIV 2"), F.lit(0))
        .otherwise(F.lit(1))
        .alias("half"),
    )
    counts = tagged.groupBy("half", "user_id").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("half").orderBy(F.col("c").desc(), F.col("user_id").asc())
    topk = counts.withColumn("rk", F.row_number().over(w)).where(
        F.col("rk") <= YL04_K
    ).select("half", "user_id")
    per_user = topk.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    return per_user.agg(
        F.sum(F.when(F.col("n") == 2, 1).otherwise(0)).cast("bigint").alias("n_common"),
        F.count(F.lit(1)).alias("n_union"),
        F.expr(
            "CAST((1000 * SUM(CASE WHEN n = 2 THEN 1 ELSE 0 END)) DIV COUNT(1) AS BIGINT)"
        ).alias("jaccard_permille"),
    )


# ---------------------------------------------------------------------------
# ye02 — projection recall eval (does the 8-d space preserve neighbors?)
# ---------------------------------------------------------------------------

#: Every STRIDE-th vector is a query; top-K neighborhoods compared.
YE02_STRIDE, YE02_K = 25, 10


@register(
    "ye02_projection_recall_eval",
    oracle=f"""
    WITH ex AS (
      SELECT vec_id,
             unnest(range(1, len(embedding) + 1)) AS i,
             unnest(embedding) AS v
      FROM embeddings
    ),
    q AS (
      SELECT vec_id, i, CAST(floor(CAST(v AS DOUBLE) * 127) AS BIGINT) AS q
      FROM ex
    ),
    tq AS (SELECT * FROM q WHERE vec_id % {YE02_STRIDE} = 0),
    truth AS (
      SELECT q_id, c_id FROM (
        SELECT a.vec_id AS q_id, b.vec_id AS c_id,
               ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                  ORDER BY SUM(a.q * b.q) DESC, b.vec_id) AS rk
        FROM tq a JOIN q b ON b.i = a.i AND b.vec_id <> a.vec_id
        GROUP BY a.vec_id, b.vec_id
      ) WHERE rk <= {YE02_K}
    ),
    w AS (
      SELECT i, j, {_W_DUCK} AS w
      FROM generate_series(1, 64) AS gi(i), generate_series(1, {YE01_D_OUT}) AS gj(j)
    ),
    proj AS (
      SELECT q.vec_id, w.j, CAST(SUM(q.q * w.w) AS BIGINT) AS p
      FROM q JOIN w ON w.i = q.i
      GROUP BY q.vec_id, w.j
    ),
    pq AS (SELECT * FROM proj WHERE vec_id % {YE02_STRIDE} = 0),
    approx AS (
      SELECT q_id, c_id FROM (
        SELECT a.vec_id AS q_id, b.vec_id AS c_id,
               ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                  ORDER BY SUM(a.p * b.p) DESC, b.vec_id) AS rk
        FROM pq a JOIN proj b ON b.j = a.j AND b.vec_id <> a.vec_id
        GROUP BY a.vec_id, b.vec_id
      ) WHERE rk <= {YE02_K}
    )
    SELECT t.q_id,
           CAST(COUNT(a.c_id) AS BIGINT) AS n_match,
           CAST((1000 * COUNT(a.c_id)) // {YE02_K} AS BIGINT) AS recall_permille
    FROM truth t
    LEFT JOIN approx a ON a.q_id = t.q_id AND a.c_id = t.c_id
    GROUP BY t.q_id
    """,
    doc=(
        "Projection-quality recall eval: for a deterministic query "
        "sample, compare the top-10 neighborhood under the FULL 64-d "
        "int8 dot product against the neighborhood under ye01's 8-d "
        "projection — recall@10 in integer permille per query. The "
        "accept/reject gate for using the cheap projected space in "
        "retrieval (xe05/xe06's eval discipline applied to the "
        "learned-free random projection): if recall is high, ANN "
        "candidate generation can run on vectors 8x smaller. ALL "
        "integer — quantized dots, relational dot products (sum over "
        "a shared index join), id tiebreaks — so the eval itself is "
        "engine-exact, no tolerance verdict needed. Brute force is "
        "the documented EVAL shape (bounded query sample, yk01's "
        "argument); the production path is the xe family. On the "
        "fixture's near-random synthetic embeddings recall@10 is "
        "intrinsically low (~10% at 8-d, ~24% even at 32-d — "
        "measured): that IS the gate firing correctly — it rejects "
        "the compressed space for this corpus, exactly the decision "
        "it exists to make; on real clustered embeddings the same "
        "query reports whether the cheap space is usable."
    ),
    tags=("similarity", "llm-pipeline", "evaluation"),
)
def ye02(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r13 (guide §2.3/§4.2): the dots were spelled RELATIONALLY — a
    # per-(query, candidate, dimension) join exploding to
    # O(queries x corpus x dim) rows (12.8M at sf0.1) shuffled through
    # a groupBy — when both sides are fixed-width integer vectors. Now:
    # quantize each side once per row (yv02's hoist), broadcast the
    # query sample, and score each pair with the exact int64 pair dot
    # (functions/vecexpr.py). The shuffle carries O(queries x corpus)
    # pair rows, dim never explodes.
    from spotify_tags_etl_spark.functions.vecexpr import pair_dot_int64, quantize_long

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qv = emb.select("vec_id", quantize_long("embedding").alias("qe"))
    tq = qv.where(F.col("vec_id") % YE02_STRIDE == 0).select(
        F.col("vec_id").alias("q_id"), F.col("qe").alias("qq")
    )
    cv = qv.select(F.col("vec_id").alias("c_id"), F.col("qe").alias("cq"))
    wnd = Window.partitionBy("q_id").orderBy(F.col("dot").desc(), F.col("c_id").asc())
    truth = (
        pair_dot_int64(
            cv.join(F.broadcast(tq), F.col("q_id") != F.col("c_id")).select(
                "q_id", "c_id", "qq", "cq"
            ),
            "qq",
            "cq",
            "dot",
        )
        .withColumn("rk", F.row_number().over(wnd))
        .where(F.col("rk") <= YE02_K)
        .select("q_id", "c_id")
    )
    # approx side: ye01's (vec_id, out_dim, dot) rows re-vectorized to
    # the 8-d projection array (array_sort on the (out_dim, dot) struct
    # orders by out_dim), then the same broadcast + Arrow pair dot.
    proj = ye01(spark, sf_dir)
    parr = proj.groupBy("vec_id").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(out_dim, dot))), e -> e.dot)"
        ).alias("pe")
    )
    pq = parr.where(F.col("vec_id") % YE02_STRIDE == 0).select(
        F.col("vec_id").alias("q_id"), F.col("pe").alias("qp")
    )
    pc = parr.select(F.col("vec_id").alias("c_id"), F.col("pe").alias("cp"))
    approx = (
        pair_dot_int64(
            pc.join(F.broadcast(pq), F.col("q_id") != F.col("c_id")).select(
                "q_id", "c_id", "qp", "cp"
            ),
            "qp",
            "cp",
            "dot",
        )
        .withColumn("rk", F.row_number().over(wnd))
        .where(F.col("rk") <= YE02_K)
        .select(F.col("q_id").alias("a_q"), F.col("c_id").alias("a_c"))
    )
    return (
        truth.join(
            approx,
            (F.col("q_id") == F.col("a_q")) & (F.col("c_id") == F.col("a_c")),
            "left",
        )
        .groupBy("q_id")
        .agg(
            F.count(F.col("a_c")).alias("n_match"),
            F.expr(f"CAST((1000 * COUNT(a_c)) DIV {YE02_K} AS BIGINT)").alias(
                "recall_permille"
            ),
        )
    )


# ---------------------------------------------------------------------------
# yy01 — composed pipeline health report
# ---------------------------------------------------------------------------

# xw05's deterministic arrival-jitter model, reused verbatim so the
# lateness metric here and the full audit there agree by construction.
from spotify_tags_etl_spark.streaming.ops import (  # noqa: E402
    _ARR as _ARR_ORACLE,
    _ARR_SPARK as _ARR_SPARK_EXPR,
)


@register(
    "yy01_pipeline_health_report",
    oracle=f"""
    WITH manifest AS (
      SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day, COUNT(*) AS n
      FROM events GROUP BY 1
    ),
    kc AS (SELECT o_custkey AS k, COUNT(*) AS c FROM orders GROUP BY o_custkey),
    skew AS (
      SELECT CAST((1000000 * MAX(c)) // SUM(c) AS BIGINT) AS max_share_ppm FROM kc
    ),
    arr AS (
      SELECT event_id, epoch_us(ts) AS us,
             MAX(epoch_us(ts)) OVER (ORDER BY {_ARR_ORACLE}, event_id
                                     ROWS UNBOUNDED PRECEDING) AS hwm
      FROM events
    ),
    lateness AS (
      SELECT CAST((1000000 * COUNT(*) FILTER (WHERE hwm - us > {10 * 60 * 1_000_000}))
                  // COUNT(*) AS BIGINT) AS drop_ppm_10m
      FROM arr
    ),
    f AS (
      SELECT CAST(round(value * 100) AS BIGINT) AS c,
             COUNT(*) FILTER (WHERE event_type = '{YD02_A}') AS n1,
             COUNT(*) FILTER (WHERE event_type = '{YD02_B}') AS n2
      FROM events
      WHERE event_type IN ('{YD02_A}', '{YD02_B}') AND value IS NOT NULL
      GROUP BY 1
    ),
    cum AS (
      SELECT SUM(n1) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING) AS cum1,
             SUM(n2) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING) AS cum2
      FROM f
    ),
    t AS (SELECT CAST(SUM(n1) AS BIGINT) AS n, CAST(SUM(n2) AS BIGINT) AS m FROM f),
    ks AS (
      SELECT CAST(MAX(ABS(CAST(cum.cum1 AS HUGEINT) * t.m - CAST(cum.cum2 AS HUGEINT) * t.n)
                   * 1000000 // (CAST(t.n AS HUGEINT) * t.m)) AS BIGINT) AS ks_ppm
      FROM cum CROSS JOIN t GROUP BY t.n, t.m
    )
    SELECT 'days_covered' AS metric, CAST(COUNT(*) AS BIGINT) AS value FROM manifest
    UNION ALL
    SELECT 'total_events', CAST(SUM(n) AS BIGINT) FROM manifest
    UNION ALL
    SELECT 'hottest_key_share_ppm', max_share_ppm FROM skew
    UNION ALL
    SELECT 'late_drop_ppm_10m', drop_ppm_10m FROM lateness
    UNION ALL
    SELECT 'value_drift_ks_ppm', ks_ppm FROM ks
    """,
    doc=(
        "The composed PIPELINE HEALTH REPORT: one metric/value row set "
        "unifying the monitoring family — manifest coverage (yl01's "
        "day census), join-key skew (xj02's hottest-key share), "
        "watermark lateness cost (xw05's 10-minute drop rate under "
        "the arrival-jitter model), and source drift (yd02's KS "
        "distance) — the single dashboard query a 100 TB pipeline "
        "pages on. Composition discipline: every metric reduces to "
        "an O(1) scalar BEFORE the union (tp01/yp01's argument "
        "applied to observability), each branch keeps its family's "
        "scale shape, and all values are exact integers so the "
        "report itself is hash-checkable. The oracle keeps the "
        "single-reducer window spellings as the truth anchor; the "
        "Spark side rides prefix_max/prefix_sum."
    ),
    tags=("analytics", "monitoring", "composed"),
)
def yy01(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spotify_tags_etl_spark.operators.scalerank import prefix_max

    ev = load_table(spark, sf_dir, "events")
    # r13 (guide §2.4): coverage and volume both aggregate the day
    # census, and union branches cannot share a subtree — the events
    # scan + day groupBy ran twice. Fold both scalars into ONE
    # aggregate over one manifest subtree and stack them; still a
    # single job (the other branches schedule concurrently inside it),
    # one day-census pass instead of two. (A checkpoint-per-section
    # §2.6 variant was measured and rejected — see yv23.)
    manifest = ev.groupBy(
        F.expr("CAST(unix_micros(ts) DIV 86400000000 AS BIGINT)").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    two = manifest.agg(
        F.count(F.lit(1)).alias("_d"),
        F.sum("n").cast("bigint").alias("_t"),
    ).selectExpr(
        "stack(2, 'days_covered', _d, 'total_events', _t) AS (metric, value)"
    )
    kc = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    skew = kc.agg(
        F.lit("hottest_key_share_ppm").alias("metric"),
        F.expr("CAST((1000000 * MAX(c)) DIV SUM(c) AS BIGINT)").alias("value"),
    )
    arr = ev.select(
        "event_id", F.unix_micros("ts").alias("us"), F.expr(_ARR_SPARK_EXPR).alias("_arr")
    )
    hwm = prefix_max(arr, [F.col("_arr").asc(), F.col("event_id").asc()], "us", out_col="hwm")
    thr = 10 * 60 * 1_000_000
    lateness = hwm.agg(
        F.lit("late_drop_ppm_10m").alias("metric"),
        F.expr(
            f"CAST((1000000 * COUNT(CASE WHEN hwm - us > {thr} THEN 1 END)) DIV COUNT(1) AS BIGINT)"
        ).alias("value"),
    )
    ks = yd02(spark, sf_dir).select(
        F.lit("value_drift_ks_ppm").alias("metric"), F.col("ks_ppm").alias("value")
    )
    return two.unionByName(skew).unionByName(lateness).unionByName(ks)


# ---------------------------------------------------------------------------
# yd03 — exact two-sample energy distance (O(n log n), integer)
# ---------------------------------------------------------------------------


@register(
    "yd03_energy_distance",
    oracle=f"""
    WITH f AS (
      SELECT CAST(round(value * 100) AS BIGINT) AS v,
             COUNT(*) FILTER (WHERE event_type = '{YD02_A}') AS cx,
             COUNT(*) FILTER (WHERE event_type = '{YD02_B}') AS cy
      FROM events
      WHERE event_type IN ('{YD02_A}', '{YD02_B}') AND value IS NOT NULL
      GROUP BY 1
    ),
    cum AS (
      SELECT v, cx, cy,
             SUM(cx) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_cx,
             SUM(cx * v) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_sx,
             SUM(cy) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_cy,
             SUM(cy * v) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_sy
      FROM f
    ),
    t AS (
      SELECT CAST(SUM(cx) AS HUGEINT) AS n, CAST(SUM(cy) AS HUGEINT) AS m,
             CAST(SUM(cx * v) AS HUGEINT) AS sx_tot,
             CAST(SUM(cy * v) AS HUGEINT) AS sy_tot
      FROM f
    ),
    s AS (
      SELECT
        SUM(CAST(cy AS HUGEINT) * (CAST(v AS HUGEINT) * (2 * CAST(cum_cx AS HUGEINT) - t.n)
            + t.sx_tot - 2 * CAST(cum_sx AS HUGEINT))) AS sxy,
        SUM(CAST(cx AS HUGEINT) * (CAST(v AS HUGEINT) * (2 * CAST(cum_cx AS HUGEINT) - t.n)
            + t.sx_tot - 2 * CAST(cum_sx AS HUGEINT))) AS sxx,
        SUM(CAST(cy AS HUGEINT) * (CAST(v AS HUGEINT) * (2 * CAST(cum_cy AS HUGEINT) - t.m)
            + t.sy_tot - 2 * CAST(cum_sy AS HUGEINT))) AS syy,
        MAX(t.n) AS n, MAX(t.m) AS m
      FROM cum CROSS JOIN t
    )
    SELECT CAST(n AS BIGINT) AS n_a, CAST(m AS BIGINT) AS n_b,
           CAST(sxy AS VARCHAR) AS sxy,
           CAST(sxx AS VARCHAR) AS sxx,
           CAST(syy AS VARCHAR) AS syy,
           CAST(2 * sxy * n * m - sxx * m * m - syy * n * n AS VARCHAR) AS energy_num
    FROM s
    """,
    doc=(
        "Exact two-sample ENERGY DISTANCE between the click and "
        "purchase value distributions — the pairwise statistic "
        "D^2 = 2E|X-Y| - E|X-X'| - E|Y-Y'| that detects ANY "
        "distributional difference (location, scale, shape), "
        "complementing yd02's KS (max-gap) and yg02's rank-sum "
        "(direction). The naive form is O(n*m) pairs; the closed "
        "form here is O(n log n): with the value census sorted, "
        "sum|x_i - v| = v*(2*CX(v) - n) + SX_tot - 2*SX(v) from the "
        "running count CX and running sum SX, so all three pairwise "
        "sums fall out of FOUR chained prefix_sum passes over one "
        "shared census frame (parallel, offset-broadcast — the "
        "single-reducer windows live only in the oracle). 128-bit "
        "products (energy_num ~ cents*n^2*m^2 passes 2^63 "
        "immediately), rendered as strings (xs06's discipline); the "
        "exact rational D^2 = energy_num / (n^2*m^2) cents."
    ),
    tags=("statistics", "quality", "llm-pipeline"),
)
def yd03(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin(YD02_A, YD02_B) & F.col("value").isNotNull()
    )
    f = ev.groupBy(F.round(F.col("value") * 100).cast("bigint").alias("v")).agg(
        F.count(F.when(F.col("event_type") == YD02_A, 1)).alias("cx"),
        F.count(F.when(F.col("event_type") == YD02_B, 1)).alias("cy"),
    ).withColumn("xv", F.col("cx") * F.col("v")).withColumn("yv", F.col("cy") * F.col("v"))
    # r13 (guide §1.2): the four running sums share one total order —
    # one layout + one subtotal job + one window pass instead of four
    # chained prefix_sum calls (4 checkpoints + 4 collects -> 1 + 1).
    from spotify_tags_etl_spark.operators.scalerank import prefix_sums

    c4, tot = prefix_sums(
        f,
        [F.col("v").asc()],
        {"cum_cx": "cx", "cum_sx": "xv", "cum_cy": "cy", "cum_sy": "yv"},
    )
    n, sx_tot = tot["cum_cx"], tot["cum_sx"]
    m, sy_tot = tot["cum_cy"], tot["cum_sy"]
    if not n or not m:
        # One sample empty: the statistic is undefined and the oracle's
        # grouped spelling emits zero rows — mirror it (no all-NULL row).
        return spark.createDataFrame(
            [],
            "n_a bigint, n_b bigint, sxy string, sxx string, syy string, energy_num string",
        )
    dec = "DECIMAL(38,0)"
    sxy = (
        f"SUM(CAST(cy AS {dec}) * (CAST(v AS {dec}) * (2 * cum_cx - {n})"
        f" + CAST({sx_tot} AS {dec}) - 2 * cum_sx))"
    )
    sxx = (
        f"SUM(CAST(cx AS {dec}) * (CAST(v AS {dec}) * (2 * cum_cx - {n})"
        f" + CAST({sx_tot} AS {dec}) - 2 * cum_sx))"
    )
    syy = (
        f"SUM(CAST(cy AS {dec}) * (CAST(v AS {dec}) * (2 * cum_cy - {m})"
        f" + CAST({sy_tot} AS {dec}) - 2 * cum_sy))"
    )
    return c4.agg(
        F.lit(n).cast("bigint").alias("n_a"),
        F.lit(m).cast("bigint").alias("n_b"),
        F.expr(f"CAST({sxy} AS STRING)").alias("sxy"),
        F.expr(f"CAST({sxx} AS STRING)").alias("sxx"),
        F.expr(f"CAST({syy} AS STRING)").alias("syy"),
        F.expr(
            f"CAST(CAST(2 AS {dec}) * ({sxy}) * {n} * {m}"
            f" - ({sxx}) * CAST({m} AS {dec}) * {m}"
            f" - ({syy}) * CAST({n} AS {dec}) * {n} AS STRING)"
        ).alias("energy_num"),
    )


# ---------------------------------------------------------------------------
# yw02 — write-audit-publish (WAP) gate
# ---------------------------------------------------------------------------


@register(
    "yw02_write_audit_publish",
    oracle="""
    WITH base AS (
      SELECT COUNT(*) AS n, COUNT(DISTINCT o_orderkey) AS nd,
             COUNT(*) FILTER (WHERE o_orderkey IS NULL) AS k_null,
             COUNT(*) FILTER (WHERE o_custkey IS NULL) AS fk_null
      FROM orders
    ),
    verdicts AS (
      SELECT 'clean' AS candidate, 'pk_not_null' AS chk,
             CAST(k_null AS BIGINT) AS n_bad FROM base
      UNION ALL SELECT 'clean', 'pk_unique', CAST(n - nd AS BIGINT) FROM base
      UNION ALL SELECT 'clean', 'fk_not_null', CAST(fk_null AS BIGINT) FROM base
      UNION ALL SELECT 'clean', 'rowcount_min', CAST(CASE WHEN n >= 1 THEN 0 ELSE 1 END AS BIGINT) FROM base
      UNION ALL SELECT 'dirty', 'pk_not_null', CAST(k_null AS BIGINT) FROM base
      UNION ALL SELECT 'dirty', 'pk_unique', CAST((n + 4) - (nd + 3) AS BIGINT) FROM base
      UNION ALL SELECT 'dirty', 'fk_not_null', CAST(fk_null + 3 AS BIGINT) FROM base
      UNION ALL SELECT 'dirty', 'rowcount_min', CAST(CASE WHEN n + 4 >= 1 THEN 0 ELSE 1 END AS BIGINT) FROM base
    )
    SELECT v.candidate, v.chk, v.n_bad,
           MIN(CASE WHEN w.n_bad > 0 THEN 0 ELSE 1 END) = 1 AS published
    FROM verdicts v JOIN verdicts w ON w.candidate = v.candidate
    GROUP BY v.candidate, v.chk, v.n_bad
    """,
    doc=(
        "Write-Audit-Publish: the lakehouse commit protocol — a "
        "candidate table version is STAGED to its own path, audited "
        "against declared constraints by reading the staged files "
        "back (auditing the pre-write frame would miss writer bugs; "
        "the read-back IS the point), and only a fully-clean "
        "candidate is published by atomic pointer swap; a failing "
        "one leaves the published version untouched. Two "
        "deterministic candidates exercise BOTH outcomes: the clean "
        "copy publishes; the dirty one (three NULL-foreign-key rows "
        "+ one duplicated primary key injected) is rejected with "
        "per-check violation counts. Checks are xv01's constraint-"
        "audit family (NOT NULL, key uniqueness via count-vs-"
        "distinct, row-count floor) — each a map-combined aggregate "
        "over the staged scan, so the audit costs one pass at any "
        "scale. The oracle derives the same verdict table "
        "relationally; the staging/publish side effects are pinned "
        "by unit test (xv03/xv05's file-roundtrip discipline)."
    ),
    tags=("maintenance", "audit", "lakehouse"),
)
def yw02(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os

    from spotify_tags_etl_spark.operators.maintenance import _pid_tmp_path

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    dup_key = orders.agg(F.min("o_orderkey")).collect()[0][0]
    bad = spark.createDataFrame(
        [(-1, None, 0.0), (-2, None, 0.0), (-3, None, 0.0), (dup_key, 1, 0.0)],
        "o_orderkey LONG, o_custkey LONG, o_totalprice DOUBLE",
    )
    candidates = {"clean": orders, "dirty": orders.unionByName(bad)}
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    root = _pid_tmp_path("spark_graft_yw02", tag)
    # r13 (guide §2.6): the two candidates' stage-write + read-back
    # audits are fully independent (separate staging dirs, separate
    # publish markers) but ran back to back — each is a small write job
    # plus a map-combined audit that never fills the cluster. Run each
    # candidate's WAP sequence in its own thread; within a candidate the
    # write -> read-back -> audit order (the protocol itself) is
    # untouched.
    from spotify_tags_etl_spark.functions.concurrency import run_parallel

    def wap(name: str, cand: DataFrame) -> list[tuple]:
        staged_path = os.path.join(root, "staging", name)
        cand.write.mode("overwrite").parquet(staged_path)
        staged = read_parquet(spark, staged_path)  # audit the STAGED files
        verdict = staged.agg(
            F.count(F.when(F.col("o_orderkey").isNull(), 1)).alias("pk_not_null"),
            (F.count(F.lit(1)) - F.count_distinct("o_orderkey")).alias("pk_unique"),
            F.count(F.when(F.col("o_custkey").isNull(), 1)).alias("fk_not_null"),
            F.when(F.count(F.lit(1)) >= 1, F.lit(0)).otherwise(F.lit(1)).alias("rowcount_min"),
        ).collect()[0]
        checks = {
            "pk_not_null": verdict["pk_not_null"],
            "pk_unique": verdict["pk_unique"],
            "fk_not_null": verdict["fk_not_null"],
            "rowcount_min": verdict["rowcount_min"],
        }
        published = all(v == 0 for v in checks.values())
        if published:  # atomic publish: write the pointer beside the data
            marker = os.path.join(root, "published")
            os.makedirs(marker, exist_ok=True)
            with open(os.path.join(marker, "CURRENT"), "w") as fh:
                fh.write(staged_path)
        return [
            (name, chk, int(n_bad), published)
            for chk, n_bad in sorted(checks.items())
        ]
    ordered = sorted(candidates.items())
    results = run_parallel(*[lambda n=n, c=c: wap(n, c) for n, c in ordered])
    return spark.createDataFrame(
        [row for rows in results for row in rows],
        "candidate STRING, chk STRING, n_bad LONG, published BOOLEAN",
    )


# ---------------------------------------------------------------------------
# yz02 — retention delete plan (partition-drop planner)
# ---------------------------------------------------------------------------

#: Days of event history kept; older day-partitions are dropped whole.
YZ02_RETENTION_DAYS = 21


@register(
    "yz02_retention_delete_plan",
    oracle=f"""
    WITH m AS (
      SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
             COUNT(*) AS n_rows
      FROM events GROUP BY 1
    ),
    hi AS (SELECT MAX(day) AS max_day FROM m)
    SELECT m.day, m.n_rows,
           CASE WHEN m.day <= hi.max_day - {YZ02_RETENTION_DAYS} THEN 'drop'
                ELSE 'keep' END AS action
    FROM m CROSS JOIN hi
    """,
    doc=(
        "Retention delete planner: against the per-day partition "
        "manifest (yl01's frame), mark every day-partition older than "
        "the 21-day window for WHOLE-DIRECTORY drop — the only delete "
        "mechanism that works at 100 TB (partition-aligned retention "
        "costs one directory unlink per day, xv03's layout contract; "
        "row-level deletes cost a rewrite of everything they touch). "
        "The watermark is data-derived (max observed day, one 1-row "
        "broadcast), so the plan is reproducible from the table alone; "
        "emitting keep AND drop rows makes the plan auditable (row "
        "counts about to be destroyed are in the output, yw02's "
        "audit-before-destruct discipline). Compaction (yz01) and "
        "retention (yz02) are the two standing maintenance jobs of a "
        "parquet lake; both plan in O(#partitions) after one manifest "
        "aggregate."
    ),
    tags=("maintenance", "layout", "planner"),
)
def yz02(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.expr("CAST(unix_micros(ts) DIV 86400000000 AS BIGINT)").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    hi = m.agg(F.max("day").alias("max_day"))
    return m.crossJoin(F.broadcast(hi)).select(
        "day",
        "n_rows",
        F.when(
            F.col("day") <= F.col("max_day") - YZ02_RETENTION_DAYS, F.lit("drop")
        )
        .otherwise(F.lit("keep"))
        .alias("action"),
    )
