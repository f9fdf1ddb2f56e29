"""Deduplication operator family for large-scale training-data pipelines.

Four levels, all pure DataFrame algebra (no UDFs), each with a DuckDB
oracle:

* exact — content-hash groupBy (the only dedup the reference has, A3
  ``spotify_client.py:545-546``, generalized from keyed to content);
* MinHash + LSH — shingle → minhash signature → banded bucket join →
  candidate pairs → exact-jaccard verify. The scale path: candidate
  generation is a shuffle on band keys (tiny), never an all-pairs join;
* SimHash — 32-bit fingerprint from token hashes, banded bucket join,
  Hamming-distance verify;
* n-gram Jaccard — exact all-pairs within a blocking key (for bounded
  blocks only; the honest quadratic baseline the LSH paths approximate).

Cross-engine determinism: hashes are md5 hex (identical in Spark and
DuckDB); minhash = lexicographic min of md5 strings (a valid 128-bit
min-hash); similarity thresholds compare *integers* (permille) — no
float rounding can diverge between engines.

At 100 TB: shingling explodes ~100× rows but is map-side only; the
signature frame is 1 row/doc × k hashes; band join shuffles k_band
small keys; only verified candidate pairs (rare) touch the shingle
frame again — via a shuffle join on doc_id, pruned to candidate docs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spotify_tags_etl_spark.plans.registry import register
from spotify_tags_etl_spark.functions.concurrency import fan_out_scan
from spotify_tags_etl_spark.functions.vecexpr import cosine, l2norm, oracle_dot_sql
from spotify_tags_etl_spark.sources.tpch import load_table

N_HASHES = 8
BAND_ROWS = 2  # 8 hashes / 2 rows = 4 bands


# ---------------------------------------------------------------------------
# shared shingle / token frames
# ---------------------------------------------------------------------------


def word_shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per doc: (doc_id, s)."""
    toks = docs.select("doc_id", F.split("text", " ").alias("t")).where(F.size("t") >= n)
    grams = F.expr(
        f"transform(sequence(1, size(t) - {n - 1}), "
        f"i -> concat_ws(' ', {', '.join(f'element_at(t, i + {j})' for j in range(n))}))"
    )
    return toks.select("doc_id", F.explode(F.array_distinct(grams)).alias("s"))


_SHINGLE_SQL = """
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t)-1)]) AS s
  FROM toks WHERE len(t) >= 3
)"""


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


@register(
    "dd01_exact_hash",
    oracle="""
    SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
    doc=(
        "Exact content dedup: hash-groupBy with deterministic keep-first. "
        "Generalizes reference A3 (spotify_client.py:545-546) from keyed to "
        "content-addressed. Map-side partial agg; shuffle on the hash."
    ),
    tags=("dedup",),
)
def dd01(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5("text").alias("text_hash"))
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup pairs
# ---------------------------------------------------------------------------


def minhash_signatures(shingles: DataFrame, n_hashes: int = N_HASHES) -> DataFrame:
    """One row per doc: m0..m{k-1} = min(md5(seed || shingle)).

    Lexicographic min over salted md5 hex is a valid min-hash family
    (each salt permutes the shingle universe); identical across engines.
    """
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("s")))).alias(f"m{i}") for i in range(n_hashes)
    ]
    return shingles.groupBy("doc_id").agg(*aggs)


def banded_frame(sig: DataFrame, band_rows: int = BAND_ROWS) -> DataFrame:
    """Explode a signature frame into (doc_id, band, bucket-key) rows —
    the single-frame form every LSH join variant matches on."""
    n_bands = N_HASHES // band_rows
    bands = F.array(
        *[
            F.concat(*[F.col(f"m{b * band_rows + r}") for r in range(band_rows)])
            for b in range(n_bands)
        ]
    )
    return sig.select("doc_id", F.posexplode(bands).alias("band", "bk"))


def lsh_candidate_pairs(sig: DataFrame, band_rows: int = BAND_ROWS) -> DataFrame:
    """Band the signature and self-join once on (band, bucket-key).

    The bands are exploded into rows of ONE frame and matched with a
    single equi-join — not one join per band: a per-band loop makes the
    (expensive) signature aggregation a subplan of every band join, so
    Spark recomputes it 2 × n_bands times and unions the results; the
    posexplode form computes it once, shuffles once on (band, bk), and
    the two self-join sides are identical subplans that AQE serves from
    one reused exchange. Same candidate set (a pair matches iff some
    band matches), different physical cost — this is the difference
    between 1 and 8 passes over the corpus at 100 TB."""
    return lsh_candidate_pairs_banded(banded_frame(sig, band_rows))


def lsh_candidate_pairs_banded(banded: DataFrame) -> DataFrame:
    """:func:`lsh_candidate_pairs` over an ALREADY-banded (doc_id,
    band, bk) frame — for consumers that persist the banded form
    directly (zf02's consolidated per-batch doc store stores banded
    rows, not wide signatures, so every store row shares one schema)."""
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bk") == F.col("r.bk"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("d1"), F.col("r.doc_id").alias("d2"))
        .distinct()
    )


def jaccard_verify(pairs: DataFrame, shingles: DataFrame, threshold_permille: int) -> DataFrame:
    """Exact jaccard on candidate pairs; integer-permille threshold."""
    sizes = shingles.groupBy("doc_id").agg(F.count("*").alias("n"))
    s1 = shingles.withColumnsRenamed({"doc_id": "d1", "s": "s1"})
    s2 = shingles.withColumnsRenamed({"doc_id": "d2r", "s": "s2"})
    inter = (
        pairs.join(s1, "d1")
        .join(s2, (F.col("d2") == F.col("d2r")) & (F.col("s1") == F.col("s2")))
        .groupBy("d1", "d2")
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        inter.join(sizes.withColumnsRenamed({"doc_id": "d1", "n": "n1"}), "d1")
        .join(sizes.withColumnsRenamed({"doc_id": "d2", "n": "n2"}), "d2")
        .withColumn("u", F.col("n1") + F.col("n2") - F.col("n_inter"))
        .where(F.lit(1000) * F.col("n_inter") >= F.lit(threshold_permille) * F.col("u"))
        .select("d1", "d2", F.expr("CAST((1000 * n_inter) DIV u AS BIGINT)").alias("jaccard_permille"))
    )


def _minhash_ctes(threshold_permille: int) -> str:
    """Shared CTE prefix ending in ``verified(d1, d2, jaccard_permille)``
    — reused by the dd02 oracle and the vz01 component-closure oracle."""
    mins = ",\n         ".join(f"MIN(md5('{i}|' || s)) AS m{i}" for i in range(N_HASHES))
    bands = "\n  UNION ALL\n".join(
        f"  SELECT l.doc_id AS d1, r.doc_id AS d2 FROM sig l JOIN sig r"
        f" ON l.m{b * BAND_ROWS} || l.m{b * BAND_ROWS + 1} = r.m{b * BAND_ROWS} || r.m{b * BAND_ROWS + 1}"
        f" AND l.doc_id < r.doc_id"
        for b in range(N_HASHES // BAND_ROWS)
    )
    return f"""{_SHINGLE_SQL.lstrip()},
    sig AS (
      SELECT doc_id, {mins}
      FROM sh GROUP BY doc_id
    ),
    cand AS (
      SELECT DISTINCT d1, d2 FROM (
{bands}
      )
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.d1, c.d2, COUNT(*) AS n_inter
      FROM cand c
      JOIN sh a ON a.doc_id = c.d1
      JOIN sh b ON b.doc_id = c.d2 AND a.s = b.s
      GROUP BY c.d1, c.d2
    ),
    verified AS (
      SELECT i.d1, i.d2,
             (1000 * i.n_inter) // (sa.n + sb.n - i.n_inter) AS jaccard_permille
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.d1
      JOIN sizes sb ON sb.doc_id = i.d2
      WHERE 1000 * i.n_inter >= {threshold_permille} * (sa.n + sb.n - i.n_inter)
    )"""


def _minhash_oracle(threshold_permille: int) -> str:
    return f"""
    WITH {_minhash_ctes(threshold_permille)}
    SELECT d1, d2, jaccard_permille FROM verified
    """


@register(
    "dd02_minhash_lsh",
    oracle=_minhash_oracle(800),
    doc=(
        "MinHash+LSH near-dup pairs: word-3-gram shingles → 8 salted-md5 "
        "minhashes → 4 bands of 2 → bucket join → exact-jaccard verify at "
        "0.800. Candidate generation never does an all-pairs join."
    ),
    tags=("dedup", "lsh"),
)
def dd02(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r12 §14: fan the single-split corpus scan out before the per-doc
    # shingle/MinHash map work (scale-adaptive no-op at >= cores splits)
    docs = fan_out_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    sh = word_shingles(docs)
    pairs = lsh_candidate_pairs(minhash_signatures(sh))
    return jaccard_verify(pairs, sh, threshold_permille=800)


# ---------------------------------------------------------------------------
# SimHash near-dup pairs
# ---------------------------------------------------------------------------

_HIGH_HEX = ("8", "9", "a", "b", "c", "d", "e", "f")
_SH_BITS = 60          # fits a positive BIGINT in both engines
_SH_BAND_BITS = 15     # 4 bands of 15 bits
_SH_MAX_HAMMING = 3    # < n_bands ⇒ pigeonhole guarantees a band match


def _sh_digit(j: int):
    """(salt, hex-digit-index) sourcing bit j: md5 hex has only 32
    digits, so bits ≥ 32 come from a SECOND salted md5 — sampling digit
    j+1 of a single md5 for j in 32..59 silently reads '' (always a -1
    vote), zeroing bits 32-59 and collapsing the top band to one bucket
    (= an all-pairs join)."""
    return j // 32, j % 32


def simhash_fingerprints(features: DataFrame) -> DataFrame:
    """60-bit simhash as a BIGINT: bit j = sign of Σ ±1 votes over the
    doc's features (bit j of a feature = high bit of hex digit j%32 of
    md5((j//32) || '|' || feature) — two salted md5s cover all 60 bits).

    Integer fingerprints (not bit-strings) so candidate banding is an
    int equi-join and verification is ``bit_count(fp1 ^ fp2)`` — a JVM
    popcount intrinsic, ~100× cheaper than per-character comparison.
    """
    votes = []
    for j in range(_SH_BITS):
        salt, digit = _sh_digit(j)
        h = F.md5(F.concat(F.lit(f"{salt}|"), F.col("s")))
        votes.append(
            F.sum(
                F.when(F.substring(h, digit + 1, 1).isin(*_HIGH_HEX), 1).otherwise(-1)
            ).alias(f"v{j}")
        )
    agg = features.groupBy("doc_id").agg(*votes)
    fp = sum(F.when(F.col(f"v{j}") >= 0, F.lit(1 << j)).otherwise(F.lit(0)) for j in range(_SH_BITS))
    return agg.select("doc_id", fp.cast("bigint").alias("fp"))


def simhash_pairs(fps: DataFrame, max_hamming: int = _SH_MAX_HAMMING) -> DataFrame:
    """Near-dup FP-group pairs.

    Scale design: identical fingerprints collapse to one group row
    (rep = min doc_id, n = size) *before* banding — exact dups never
    enter the pair join; banding keys are ``(fp >> 15b) & 0x7FFF`` int
    buckets; verification is popcount on the xor. Skewed band buckets
    (correlated bits on clustered corpora) are the known hazard → AQE
    skew-join handles them at scale.
    """
    groups = fps.groupBy("fp").agg(F.min("doc_id").alias("rep"), F.count("*").alias("n"))
    mask = (1 << _SH_BAND_BITS) - 1
    # One banded frame + one self-join on (band, key) — NOT a join per
    # band: the per-band loop would make the 60-vote fingerprint
    # aggregation a subplan of every band join (recomputed 2 × 4 times);
    # exploded bands shuffle once and self-join against the identical
    # subplan. Same pair set (pair matches iff any band matches).
    bands = F.array(
        *[
            F.expr(f"(fp >> {b * _SH_BAND_BITS}) & {mask}")
            for b in range(_SH_BITS // _SH_BAND_BITS)
        ]
    )
    banded = groups.select("fp", "rep", "n", F.posexplode(bands).alias("band", "bk"))
    left = banded.select(
        F.col("fp").alias("fp1"), F.col("rep").alias("r1"), F.col("n").alias("n1"), "band", "bk"
    )
    right = banded.select(
        F.col("fp").alias("fp2"), F.col("rep").alias("r2"), F.col("n").alias("n2"), "band", "bk"
    )
    pairs = left.join(right, ["band", "bk"]).where(F.col("r1") < F.col("r2")).drop("band", "bk")
    return (
        pairs.distinct()
        .withColumn("hamming_dist", F.expr("bit_count(fp1 ^ fp2)"))
        .where(F.col("hamming_dist") <= max_hamming)
        .select("r1", "r2", "n1", "n2", "hamming_dist")
    )


def _simhash_oracle(max_hamming: int) -> str:
    high = ",".join(f"'{h}'" for h in _HIGH_HEX)
    votes = ",\n             ".join(
        f"SUM(CASE WHEN substr(md5('{_sh_digit(j)[0]}|' || s), {_sh_digit(j)[1] + 1}, 1)"
        f" IN ({high}) THEN 1 ELSE -1 END) AS v{j}"
        for j in range(_SH_BITS)
    )
    fp = " + ".join(f"CASE WHEN v{j} >= 0 THEN {1 << j} ELSE 0 END" for j in range(_SH_BITS))
    mask = (1 << _SH_BAND_BITS) - 1
    bands = "\n  UNION ALL\n".join(
        f"  SELECT l.fp AS fp1, r.fp AS fp2, l.rep AS r1, r.rep AS r2, l.n AS n1, r.n AS n2"
        f" FROM groups l JOIN groups r"
        f" ON ((l.fp >> {b * _SH_BAND_BITS}) & {mask}) = ((r.fp >> {b * _SH_BAND_BITS}) & {mask})"
        f" AND l.rep < r.rep"
        for b in range(_SH_BITS // _SH_BAND_BITS)
    )
    return f"""
    WITH {_SHINGLE_SQL.lstrip()},
    votes AS (
      SELECT doc_id,
             {votes}
      FROM sh GROUP BY doc_id
    ),
    fps AS (
      SELECT doc_id, CAST({fp} AS BIGINT) AS fp FROM votes
    ),
    groups AS (
      SELECT fp, MIN(doc_id) AS rep, COUNT(*) AS n FROM fps GROUP BY fp
    ),
    cand AS (
      SELECT DISTINCT fp1, fp2, r1, r2, n1, n2 FROM (
{bands}
      )
    )
    SELECT r1, r2, n1, n2, bit_count(xor(fp1, fp2)) AS hamming_dist
    FROM cand WHERE bit_count(xor(fp1, fp2)) <= {max_hamming}
    """


@register(
    "dd03_simhash",
    oracle=_simhash_oracle(_SH_MAX_HAMMING),
    doc=(
        "SimHash near-dup groups: 60-bit BIGINT fingerprint voted over "
        "word-3-gram shingles, identical-fp collapse, 4×15-bit int band "
        "join, popcount (bit_count of xor) Hamming ≤ 3 verify. One "
        "fingerprint row per doc — the single-pass sketch; shingle "
        "features (not token sets) keep bits discriminative on small-"
        "vocabulary corpora."
    ),
    tags=("dedup", "sketch"),
)
def dd03(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out_scan(load_table(spark, sf_dir, "documents"), "doc_id")  # r12 §14
    return simhash_pairs(simhash_fingerprints(word_shingles(docs)))


# ---------------------------------------------------------------------------
# exact n-gram Jaccard within blocks
# ---------------------------------------------------------------------------


@register(
    "dd04_ngram_jaccard_block",
    oracle=f"""
    WITH {_SHINGLE_SQL.lstrip()},
    blocked AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2
      FROM documents a JOIN documents b
        ON a.source = b.source AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT p.d1, p.d2, COUNT(*) AS n_inter
      FROM blocked p
      JOIN sh a ON a.doc_id = p.d1
      JOIN sh b ON b.doc_id = p.d2 AND a.s = b.s
      GROUP BY p.d1, p.d2
    )
    SELECT i.d1, i.d2,
           (1000 * i.n_inter) // (sa.n + sb.n - i.n_inter) AS jaccard_permille
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.d1
    JOIN sizes sb ON sb.doc_id = i.d2
    WHERE 1000 * i.n_inter >= 500 * (sa.n + sb.n - i.n_inter)
    """,
    doc=(
        "Exact n-gram Jaccard dedup within a blocking key (source): the "
        "quadratic-per-block baseline. Blocks bound the pair explosion; "
        "at scale the block key must keep groups « executor memory."
    ),
    tags=("dedup",),
)
def dd04(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out_scan(load_table(spark, sf_dir, "documents"), "doc_id")  # r12 §14
    sh = word_shingles(docs)
    a = docs.select(F.col("doc_id").alias("d1"), F.col("source").alias("src1"))
    b = docs.select(F.col("doc_id").alias("d2"), F.col("source").alias("src2"))
    blocked = a.join(b, (F.col("src1") == F.col("src2")) & (F.col("d1") < F.col("d2"))).select("d1", "d2")
    return jaccard_verify(blocked, sh, threshold_permille=500)


# ---------------------------------------------------------------------------
# embedding-cosine near-dup
# ---------------------------------------------------------------------------

_COS_THRESH = 0.30  # synthetic 64-dim cluster embeddings: within-label max ≈ 0.47, p99 ≈ 0.295


@register(
    "dd05_embedding_cosine_neardup",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label, embedding,
             sqrt({oracle_dot_sql('embedding', 'embedding')}) AS nrm
      FROM embeddings
    )
    SELECT a.vec_id AS d1, b.vec_id AS d2,
           ROUND({oracle_dot_sql('a.embedding', 'b.embedding')} / NULLIF(a.nrm * b.nrm, 0), 6)
             AS cosine_r
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {oracle_dot_sql('a.embedding', 'b.embedding')} / NULLIF(a.nrm * b.nrm, 0) >= {_COS_THRESH}
    """,
    doc=(
        "Embedding-cosine near-dup pairs, blocked by label (cluster id): "
        "equi-join on the blocking key bounds the quadratic to per-block; "
        "in-order double-fold dot product matches DuckDB bit-for-bit. For "
        "unblocked corpora the scale path is hyperplane-LSH bucketing "
        "(ss02's signature machinery) instead of a label key."
    ),
    tags=("dedup", "similarity"),
)
def dd05(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = fan_out_scan(load_table(spark, sf_dir, "embeddings"), "vec_id")  # r12 §14
    e = emb.select("vec_id", "label", "embedding", l2norm("embedding").alias("nrm"))
    a = e.select(F.col("vec_id").alias("d1"), F.col("label").alias("lbl"), F.col("embedding").alias("v1"), F.col("nrm").alias("n1"))
    b = e.select(F.col("vec_id").alias("d2"), F.col("label").alias("lbl"), F.col("embedding").alias("v2"), F.col("nrm").alias("n2"))
    return (
        a.join(b, "lbl")
        .where(F.col("d1") < F.col("d2"))
        .withColumn("cosine", cosine("v1", "v2", "n1", "n2"))
        .where(F.col("cosine") >= _COS_THRESH)
        .select("d1", "d2", F.round("cosine", 6).alias("cosine_r"))
    )


# ---------------------------------------------------------------------------
# connected components over near-dup pairs — dedup cluster assignment
# ---------------------------------------------------------------------------


def connected_components(edges: DataFrame, max_iter: int = 20) -> DataFrame:
    """Component id (= min member id) for every node of an undirected
    edge list ``(d1, d2)`` via iterative min-label propagation.

    The iterative-algorithm shape on Spark: a driver loop over pure
    DataFrame steps, ``localCheckpoint`` per round to cut lineage growth
    (without it the plan doubles each iteration), terminating when a
    round changes no label. Simple propagation converges in O(diameter)
    rounds — near-dup clusters are tiny and dense, so 2-4 rounds in
    practice; for adversarial long-chain graphs at 100 TB the same loop
    runs the alternating large-star/small-star variant (each round still
    one join + one aggregate on the same key partitioning).
    """
    sym = edges.select(F.col("d1").alias("a"), F.col("d2").alias("b")).unionByName(
        edges.select(F.col("d2").alias("a"), F.col("d1").alias("b"))
    )
    sym = sym.localCheckpoint(eager=True)  # pair generation runs once, not per round
    labels = sym.select(F.col("a").alias("id")).distinct().withColumn("label", F.col("id"))
    for _ in range(max_iter):
        nbr = (
            sym.join(labels, sym["b"] == labels["id"])
            .groupBy("a")
            .agg(F.min("label").alias("nbr_min"))
        )
        new_labels = (
            labels.join(nbr, labels["id"] == nbr["a"], "left")
            .select(
                labels["id"],
                F.least(labels["label"], F.coalesce(nbr["nbr_min"], labels["label"])).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .where(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        # Never return silently-wrong component ids: a label still moving
        # after max_iter rounds means some component (diameter > max_iter)
        # is split across ids, and downstream keep-one-per-component
        # dedup would keep duplicates. Fail loudly; the fix for genuinely
        # long-chain graphs is the large-star/small-star variant, not a
        # bigger iteration cap.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"({changed} labels still changing); graph diameter exceeds "
            "the iteration cap"
        )
    return labels.select(F.col("id").alias("doc_id"), F.col("label").alias("component"))


@register(
    "vz01_dup_components",
    oracle=f"""
    WITH RECURSIVE {_minhash_ctes(800)},
    edges AS (
      SELECT d1 AS a, d2 AS b FROM verified
      UNION ALL
      SELECT d2, d1 FROM verified
    ),
    reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    )
    SELECT a AS doc_id, LEAST(a, MIN(b)) AS component
    FROM reach GROUP BY a
    """,
    doc=(
        "Near-dup cluster assignment: connected components over the dd02 "
        "MinHash+LSH verified pair graph — iterative min-label propagation "
        "(driver loop, localCheckpoint per round) against a recursive-CTE "
        "transitive-closure oracle. The canonical-doc-per-cluster step of "
        "a dedup pipeline: keep doc_id == component, drop the rest."
    ),
    tags=("dedup", "graph", "iterative"),
)
def vz01(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sh = word_shingles(docs)
    pairs = jaccard_verify(lsh_candidate_pairs(minhash_signatures(sh)), sh, threshold_permille=800)
    return connected_components(pairs.select("d1", "d2"))


@register(
    "xu01_dedup_survivorship",
    oracle=f"""
    WITH RECURSIVE {_minhash_ctes(800)},
    edges AS (
      SELECT d1 AS a, d2 AS b FROM verified
      UNION ALL
      SELECT d2, d1 FROM verified
    ),
    reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    comp AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS component FROM reach GROUP BY a),
    j AS (
      SELECT c.doc_id, c.component, d.n_chars
      FROM comp c JOIN documents d USING (doc_id)
    ),
    surv AS (
      SELECT component, doc_id AS survivor_id FROM (
        SELECT component, doc_id,
               ROW_NUMBER() OVER (PARTITION BY component ORDER BY n_chars DESC, doc_id) AS rn
        FROM j
      ) WHERE rn = 1
    )
    SELECT j.doc_id, j.component, surv.survivor_id,
           CASE WHEN j.doc_id = surv.survivor_id THEN 'keep' ELSE 'drop' END AS action
    FROM j JOIN surv USING (component)
    """,
    doc=(
        "Dedup survivorship: the ACTION step after clustering — per "
        "near-dup component (vz01's connected components over dd02's "
        "verified pairs), elect the canonical survivor (longest doc, "
        "doc_id tiebreak) and map every member to keep/drop. The "
        "downstream filter is then one broadcast semi-join on the drop "
        "list; survivor election is a single window over the clustered "
        "docs (component-cardinality, tiny vs the corpus)."
    ),
    tags=("dedup", "survivorship", "window"),
)
def xu01(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    sh = word_shingles(docs)
    pairs = jaccard_verify(lsh_candidate_pairs(minhash_signatures(sh)), sh, threshold_permille=800)
    comp = connected_components(pairs.select("d1", "d2"))
    j = comp.join(docs.select("doc_id", "n_chars"), "doc_id")
    w = Window.partitionBy("component").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    surv = (
        j.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("component", F.col("doc_id").alias("survivor_id"))
    )
    return (
        j.join(surv, "component")
        .select(
            "doc_id",
            "component",
            "survivor_id",
            F.when(F.col("doc_id") == F.col("survivor_id"), F.lit("keep"))
            .otherwise(F.lit("drop"))
            .alias("action"),
        )
    )


# ---------------------------------------------------------------------------
# exact set-similarity self-join via prefix filtering (PPJoin-style)
# ---------------------------------------------------------------------------

_PF_T_PERMILLE = 800  # jaccard threshold (shared with dd02's verify)


@register(
    "xz01_exact_simjoin_prefix",
    oracle=f"""
    WITH {_SHINGLE_SQL.lstrip()},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_inter
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT i.d1, i.d2,
           (1000 * i.n_inter) // (sa.n + sb.n - i.n_inter) AS jaccard_permille
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.d1
    JOIN sizes sb ON sb.doc_id = i.d2
    WHERE 1000 * i.n_inter >= {_PF_T_PERMILLE} * (sa.n + sb.n - i.n_inter)
    """,
    doc=(
        "EXACT set-similarity self-join (PPJoin-style prefix filtering): "
        "shingle sets ordered by (global frequency asc, shingle) — the "
        "rarest-first total order — and each doc indexes only its "
        "(n - ceil(t*n) + 1)-prefix; any pair with jaccard >= t provably "
        "shares a prefix element, so the prefix join loses NOTHING "
        "(the brute-force oracle is the completeness proof), unlike "
        "dd02's LSH which trades recall for candidates. Prefix lengths "
        "use integer arithmetic ((800n + 999) DIV 1000) — a float ceil "
        "of 0.8n is off-by-one exactly when n is a multiple of 5. At "
        "scale: candidates are per-(rare-shingle) groups; the frequency "
        "table is the broadcast dim; verification reuses the "
        "candidate-pruned intersection join."
    ),
    tags=("dedup", "simjoin", "exact"),
)
def xz01(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    sh = word_shingles(docs)  # distinct (doc_id, s)
    freq = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    sized = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    # rarest-first rank of each shingle within its doc
    w = Window.partitionBy("doc_id").orderBy(F.asc("df"), F.asc("s"))
    ranked = (
        sh.join(F.broadcast(freq), "s")
        .withColumn("pos", F.row_number().over(w))
        .join(sized, "doc_id")
        # alpha = ceil(t*n) with exact integers; prefix = n - alpha + 1
        .withColumn("alpha", F.expr(f"({_PF_T_PERMILLE} * n + 999) DIV 1000"))
        .where(F.col("pos") <= F.col("n") - F.col("alpha") + 1)
        .select("doc_id", "s")
    )
    cand = (
        ranked.select(F.col("doc_id").alias("d1"), "s")
        .join(ranked.select(F.col("doc_id").alias("d2"), "s"), "s")
        .where(F.col("d1") < F.col("d2"))
        .select("d1", "d2")
        .distinct()
    )
    return jaccard_verify(cand, sh, threshold_permille=_PF_T_PERMILLE)


# ---------------------------------------------------------------------------
# xt03 — containment / overlap-coefficient join (quote & subset detection)
# ---------------------------------------------------------------------------

#: Overlap-coefficient threshold (permille): |A ∩ B| / min(|A|, |B|).
OVERLAP_THRESHOLD_PERMILLE = 800


@register(
    "xt03_containment_join",
    oracle=f"""
    WITH {_SHINGLE_SQL.lstrip()},
    blocked AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2
      FROM documents a JOIN documents b
        ON a.source = b.source AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT p.d1, p.d2, COUNT(*) AS n_inter
      FROM blocked p
      JOIN sh a ON a.doc_id = p.d1
      JOIN sh b ON b.doc_id = p.d2 AND a.s = b.s
      GROUP BY p.d1, p.d2
    )
    SELECT i.d1, i.d2, i.n_inter,
           (1000 * i.n_inter) // LEAST(sa.n, sb.n) AS overlap_permille
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.d1
    JOIN sizes sb ON sb.doc_id = i.d2
    WHERE 1000 * i.n_inter >= {OVERLAP_THRESHOLD_PERMILLE} * LEAST(sa.n, sb.n)
    ORDER BY i.d1, i.d2
    """,
    doc=(
        "Containment join (overlap coefficient |A∩B| / min(|A|,|B|), "
        "integer permille): flags pairs where the smaller document's "
        "shingle set is mostly CONTAINED in the larger — quotes, "
        "excerpts, and superset expansions that symmetric Jaccard (dd04) "
        "under-scores precisely because the size imbalance inflates "
        "the union denominator. Same blocked-join shape as dd04 "
        "(quadratic within the source block only, exact integer "
        "cross-multiplication for the threshold); at 100 TB the block "
        "key becomes prefix-filtered candidates (xz01) or MinHash "
        "bands (dd02) — containment scoring of the survivors is "
        "unchanged."
    ),
    tags=("dedup", "text", "llm-pipeline"),
)
def xt03(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Candidate generation is the shingle SELF-JOIN on the gram key (with
    # the source block and d1<d2 riding the condition), NOT block-pairs ×
    # shingles: pairs sharing zero grams can never pass the threshold, so
    # enumerating them is pure waste — the gram join is output-sensitive
    # (O(pairs that share a gram)) where the blocked form is O(block²).
    # Measured at sf0.1: 5.8 s → 1.7 s, identical rows (the oracle keeps
    # the clearer blocked formulation; both compute the same inter set).
    docs = load_table(spark, sf_dir, "documents")
    sh = word_shingles(docs).join(docs.select("doc_id", "source"), "doc_id")
    a = sh.select(F.col("doc_id").alias("d1"), F.col("source").alias("src1"), "s")
    b = sh.select(F.col("doc_id").alias("d2"), F.col("source").alias("src2"), F.col("s").alias("s2"))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        a.join(
            b,
            (F.col("s") == F.col("s2"))
            & (F.col("src1") == F.col("src2"))
            & (F.col("d1") < F.col("d2")),
        )
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(sizes.select(F.col("doc_id").alias("d1"), F.col("n").alias("na")), "d1")
        .join(sizes.select(F.col("doc_id").alias("d2"), F.col("n").alias("nb")), "d2")
        .where(
            F.lit(1000) * F.col("n_inter")
            >= F.lit(OVERLAP_THRESHOLD_PERMILLE) * F.least("na", "nb")
        )
        .select(
            "d1",
            "d2",
            "n_inter",
            F.expr("(1000 * n_inter) DIV least(na, nb)").alias("overlap_permille"),
        )
        .orderBy("d1", "d2")
    )


# ---------------------------------------------------------------------------
# yv20 — LSH (bands, rows) parameter planner: the S-curve, computed exactly
# ---------------------------------------------------------------------------

#: Candidate rows-per-band / band counts (powers of two so the hit
#: probability 1-(1-s^r)^b evaluates by repeated SQUARING — each square
#: truncates to ppm, the documented fixed-point spec both engines share).
_YV20_RS = (1, 2, 4, 8)
_YV20_BS = (2, 4, 8, 16, 32)

#: Similarity grid (permille, open midpoints) and the dd02 target
#: threshold the planner optimizes for.
_YV20_SMIN, _YV20_SMAX, _YV20_STEP = 25, 975, 25
_YV20_TAU = 800  # dd02's verify threshold (dedup.py jaccard_verify call)

#: ppm fixed-point square: the ONE primitive both engines spell the
#: same way (integer multiply, truncating divide).
def _sq(x: str, div: str) -> str:
    return f"(({x}) * ({x})) {div} 1000000"


def _yv20_stages(div: str, src: str = "grid") -> str:
    """Shared SQL fragment: staged repeated squaring for s^r and
    (1-s^r)^b over the power-of-two grids."""
    return f"""
      SELECT r, b, s_pm,
             1000000 - qb AS p_ppm
      FROM (
        SELECT r, b, s_pm,
               CASE b WHEN 2 THEN q1 WHEN 4 THEN q2 WHEN 8 THEN q3
                      WHEN 16 THEN q4 ELSE q5 END AS qb
        FROM (
          SELECT r, b, s_pm, q1,
                 {_sq("q1", div)} AS q2,
                 {_sq(_sq("q1", div), div)} AS q3,
                 {_sq(_sq(_sq("q1", div), div), div)} AS q4,
                 {_sq(_sq(_sq(_sq("q1", div), div), div), div)} AS q5
          FROM (
            SELECT r, b, s_pm, {_sq("1000000 - a", div)} AS q1
            FROM (
              SELECT r, b, s_pm,
                     CASE r WHEN 1 THEN s_ppm WHEN 2 THEN a1
                            WHEN 4 THEN a2 ELSE a3 END AS a
              FROM (
                SELECT r, b, s_pm, s_ppm,
                       a1, {_sq("a1", div)} AS a2,
                       {_sq(_sq("a1", div), div)} AS a3
                FROM (
                  SELECT r, b, s_pm, s_pm * 1000 AS s_ppm,
                         {_sq("s_pm * 1000", div)} AS a1
                  FROM {src}
                ) g0
              ) g1
            ) g2
          ) g3
        ) g4
      ) g5
    """


@register(
    "yv20_lsh_parameter_plan",
    oracle=f"""
    WITH grid AS (
      SELECT r.r, b.b, s.s_pm
      FROM UNNEST({list(_YV20_RS)}) AS r(r),
           UNNEST({list(_YV20_BS)}) AS b(b),
           UNNEST(generate_series({_YV20_SMIN}, {_YV20_SMAX}, {_YV20_STEP})) AS s(s_pm)
    ),
    curve AS ({_yv20_stages("//")}),
    scored AS (
      SELECT r, b,
             SUM(CASE WHEN s_pm < {_YV20_TAU} THEN p_ppm ELSE 0 END) AS fp_area,
             SUM(CASE WHEN s_pm >= {_YV20_TAU} THEN 1000000 - p_ppm ELSE 0 END)
               AS fn_area
      FROM curve GROUP BY 1, 2
    )
    SELECT CAST(r AS BIGINT) AS r, CAST(b AS BIGINT) AS b,
           CAST(r * b AS BIGINT) AS n_hashes,
           CAST(fp_area AS BIGINT) AS fp_area,
           CAST(fn_area AS BIGINT) AS fn_area,
           CAST(fp_area + fn_area AS BIGINT) AS total_err,
           CAST(ROW_NUMBER() OVER (ORDER BY fp_area + fn_area, r * b, r)
                AS BIGINT) AS rank,
           CAST(CASE WHEN r = 2 AND b = 4 THEN 1 ELSE 0 END AS BIGINT)
             AS is_dd02
    FROM scored ORDER BY rank
    """,
    doc=(
        "LSH parameter planner: evaluates the banding S-curve "
        "p(s) = 1-(1-s^r)^b for every (rows, bands) candidate over a "
        f"{_YV20_STEP}-permille similarity grid and scores it against "
        f"dd02's verify threshold ({_YV20_TAU} permille) as "
        "false-positive area below the threshold plus false-negative "
        "area above — choose parameters BEFORE paying for a 100 TB "
        "signature pass ('measure, don't guess' applied to sketch "
        "design; dd02's (r=2, b=4) is flagged for comparison). The "
        "whole computation is EXACT fixed-point: power-of-two "
        "exponents evaluate by repeated ppm-truncating squaring — the "
        "one primitive Spark and DuckDB spell identically — so the "
        "oracle is bit-for-bit, no float pow anywhere. Shape: a "
        f"{len(_YV20_RS) * len(_YV20_BS) * ((_YV20_SMAX - _YV20_SMIN) // _YV20_STEP + 1)}"
        "-row generated grid, one map-combined groupBy onto "
        f"O({len(_YV20_RS) * len(_YV20_BS)}) rows; reads no corpus at "
        "any scale (a planner, not a scan)."
    ),
    tags=("dedup", "lsh", "planner", "llm-pipeline"),
)
def yv20(spark: SparkSession, sf_dir: str) -> DataFrame:
    grid = (
        spark.range(1)
        .select(
            F.explode(F.array(*[F.lit(r) for r in _YV20_RS])).alias("r")
        )
        .select(
            "r", F.explode(F.array(*[F.lit(b) for b in _YV20_BS])).alias("b")
        )
        .select(
            "r",
            "b",
            F.explode(
                F.sequence(
                    F.lit(_YV20_SMIN), F.lit(_YV20_SMAX), F.lit(_YV20_STEP)
                )
            ).alias("s_pm"),
        )
        # BIGINT throughout: the staged squares reach 1e12 (s_ppm^2),
        # past 32-bit — ANSI mode would error on an int grid.
        .select(
            F.col("r").cast("long").alias("r"),
            F.col("b").cast("long").alias("b"),
            F.col("s_pm").cast("long").alias("s_pm"),
        )
    )
    import uuid as _uuid

    view = f"yv20_grid_{_uuid.uuid4().hex[:8]}"
    grid.createOrReplaceTempView(view)
    # spark.sql analyzes eagerly, so the view can be dropped right after
    # the DataFrame is built — no temp-view leak across invocations.
    curve = spark.sql(_yv20_stages("DIV", src=view))
    spark.catalog.dropTempView(view)
    scored = curve.groupBy("r", "b").agg(
        F.sum(
            F.when(F.col("s_pm") < _YV20_TAU, F.col("p_ppm")).otherwise(0)
        ).alias("fp_area"),
        F.sum(
            F.when(F.col("s_pm") >= _YV20_TAU, 1000000 - F.col("p_ppm")).otherwise(0)
        ).alias("fn_area"),
    )
    w = Window.orderBy(
        (F.col("fp_area") + F.col("fn_area")).asc(),
        (F.col("r") * F.col("b")).asc(),
        F.col("r").asc(),
    )
    return (
        scored.select(
            F.col("r").cast("bigint").alias("r"),
            F.col("b").cast("bigint").alias("b"),
            (F.col("r") * F.col("b")).cast("bigint").alias("n_hashes"),
            F.col("fp_area").cast("bigint").alias("fp_area"),
            F.col("fn_area").cast("bigint").alias("fn_area"),
            (F.col("fp_area") + F.col("fn_area")).cast("bigint").alias("total_err"),
            F.row_number().over(w).cast("bigint").alias("rank"),
            F.when((F.col("r") == 2) & (F.col("b") == 4), 1)
            .otherwise(0)
            .cast("bigint")
            .alias("is_dd02"),
        )
        .orderBy("rank")
    )
