"""Round-9 close: the end-to-end curation lineage report (zf band).

zf01 — per-source FIRST-DROP-REASON lineage through the five curation
stages the engine ships: exact dedup (dd01) → near dedup (dd02) →
semantic dedup (zc03) → eval decontamination (tz06) → DSIR
target-likeness selection (zb03's importance sign). zd01 answered
"how much survives dedup"; zf01 answers the question a curation org's
dashboard actually renders: "for each source, WHY did each dropped doc
drop?" — one mutually-exclusive reason per doc, attributed to the
FIRST failing stage, with exact mass conservation
(n_docs = Σ drops + n_kept, per source).

Reference parity note: the reference ETL
(/root/reference/src/spotify_tags_etl/) has no curation stage; this
composes stages added in rounds 2–9 along SURVEY.md's "training-data
pipeline" axis.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spotify_tags_etl_spark.functions.concurrency import (
    bounded_shuffle,
    checkpoint_parallel,
    fan_out_scan,
    input_file_bytes,
    run_parallel,
)
from spotify_tags_etl_spark.functions.hashing import hash_frac_sql
from spotify_tags_etl_spark.operators.dedup import _minhash_ctes, dd01, dd02
from spotify_tags_etl_spark.operators.training import DECON_NGRAM, tz06
from spotify_tags_etl_spark.operators.zaops import (
    ZB03_BUCKETS,
    ZB03_ORACLE_MAX_WORDS_SQL,
    ZB03_TARGET_LANG,
    zb03_grams,
)
from spotify_tags_etl_spark.operators.zcops import _zc03_ctes, zc03
from spotify_tags_etl_spark.plans.planmetrics import record_plan
from spotify_tags_etl_spark.plans.registry import register
from spotify_tags_etl_spark.sources.tpch import load_table

# ---------------------------------------------------------------------------
# zf01 — per-source first-drop-reason curation lineage
# ---------------------------------------------------------------------------

_ZF01_NEAR_PERMILLE = 800  # dd02's verify threshold (zd01's constant)

#: zb03's importance CTEs under i-prefixed names (the zd01 composition
#: rule: reuse each stage's own machinery; prefixes only avoid CTE name
#: collisions with the minhash/zc03 bodies).
_ZF01_IMPORTANCE_CTES = f"""
    ig AS MATERIALIZED (
      SELECT doc_id,
             ('0x' || substr(md5(w[i] || ' ' || w[i + 1]), 1, 8))::BIGINT
               % {ZB03_BUCKETS} AS bucket,
             lang
      FROM (SELECT doc_id, lang,
                   list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                               x -> x <> '') AS w
            FROM documents) t,
           UNNEST(generate_series(1, {ZB03_ORACLE_MAX_WORDS_SQL})) AS s(i)
      WHERE i <= len(w) - 1
    ),
    icensus AS MATERIALIZED (
      SELECT bucket,
             COUNT(*) AS raw_n,
             COUNT(*) FILTER (WHERE lang = '{ZB03_TARGET_LANG}') AS tgt_n
      FROM ig GROUP BY bucket
    ),
    itot AS (SELECT SUM(raw_n) AS raw_t, SUM(tgt_n) AS tgt_t FROM icensus),
    iwts AS (
      SELECT bucket,
             CAST(CAST(tgt_n AS HUGEINT) * 1000000 // itot.tgt_t AS BIGINT)
             - CAST(CAST(raw_n AS HUGEINT) * 1000000 // itot.raw_t AS BIGINT)
               AS w
      FROM icensus, itot
    ),
    iscore AS MATERIALIZED (
      SELECT g.doc_id, SUM(w.w) AS importance
      FROM ig g JOIN iwts w ON w.bucket = g.bucket
      GROUP BY g.doc_id
    )"""

#: tz06's decontamination CTEs, c-prefixed — the stage's own oracle
#: body verbatim (same hash-split edges, same n-gram width, same
#: bit-identical hash_frac spelling).
_ZF01_CONTAM_CTES = f"""
    cg AS MATERIALIZED (
      SELECT doc_id,
             {hash_frac_sql('doc_id')} AS frac,
             unnest([array_to_string(toks[i : i + {DECON_NGRAM} - 1], ' ')
                     for i in generate_series(1, greatest(len(toks) - {DECON_NGRAM - 1}, 0))])
               AS gram
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    ),
    contam AS MATERIALIZED (
      SELECT DISTINCT t.doc_id
      FROM (SELECT DISTINCT doc_id, gram FROM cg WHERE frac < 0.8) t
      JOIN (SELECT DISTINCT gram FROM cg WHERE frac >= 0.9) e USING (gram)
    )"""


def zf01_offtarget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zb03's importance over ALL docs (the registered query truncates
    to its top-k; the gate needs every doc's sign) — same two-pass
    census/weights machinery, zb03's own gram extraction. Returns the
    doc_ids with importance <= 0 (the off-target drop list)."""
    grams = zb03_grams(load_table(spark, sf_dir, "documents"))
    census = grams.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("raw_n"),
        F.count(F.when(F.col("lang") == ZB03_TARGET_LANG, 1)).alias("tgt_n"),
    )
    record_plan(census, "zf01:importance_census")
    census = census.localCheckpoint(eager=True)  # 256 rows, one corpus pass
    tot = census.agg(F.sum("raw_n").alias("raw_t"), F.sum("tgt_n").alias("tgt_t"))
    wts = census.crossJoin(F.broadcast(tot)).select(
        "bucket",
        (
            F.expr("CAST(CAST(tgt_n AS DECIMAL(38,0)) * 1000000 DIV tgt_t AS BIGINT)")
            - F.expr("CAST(CAST(raw_n AS DECIMAL(38,0)) * 1000000 DIV raw_t AS BIGINT)")
        ).alias("w"),
    )
    wts = wts.localCheckpoint(eager=True)  # 256 rows; pass 2 must not re-census
    return (
        grams.join(F.broadcast(wts), "bucket")
        .groupBy("doc_id")
        .agg(F.sum("w").alias("importance"))
        .where(F.col("importance") <= 0)
        .select("doc_id")
    )



def _zf01_flags_ctes(extra_cols: str = "") -> str:
    """The shared five-stage lineage WITH-body, through the ``flags``
    CTE: one row per document carrying (doc_id, source[, extras],
    s_e, f_near, f_sem, f_con, f_off). zf01 aggregates it into the
    per-source report; the zg band composes the SURVIVOR set
    (s_e = 1, every f_* = 0) with packing/curriculum/threshold
    machinery. ``extra_cols`` is a SQL fragment appended to the flags
    projection (e.g. ``", d.n_chars"``)."""
    return f"""{_minhash_ctes(_ZF01_NEAR_PERMILLE)},
    ek AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
    {_zc03_ctes()},
    {_ZF01_IMPORTANCE_CTES},
    {_ZF01_CONTAM_CTES},
    flags AS (
      SELECT d.doc_id, d.source{extra_cols},
             CASE WHEN ek.doc_id IS NOT NULL THEN 1 ELSE 0 END AS s_e,
             CASE WHEN nd.d2 IS NOT NULL THEN 1 ELSE 0 END AS f_near,
             CASE WHEN sd.d2 IS NOT NULL THEN 1 ELSE 0 END AS f_sem,
             CASE WHEN ct.doc_id IS NOT NULL THEN 1 ELSE 0 END AS f_con,
             CASE WHEN sc.doc_id IS NOT NULL AND sc.importance <= 0
                  THEN 1 ELSE 0 END AS f_off
      FROM documents d
      LEFT JOIN ek ON ek.doc_id = d.doc_id
      LEFT JOIN (SELECT DISTINCT d2 FROM verified) nd ON nd.d2 = d.doc_id
      LEFT JOIN (SELECT DISTINCT d2 FROM dups) sd ON sd.d2 = d.doc_id
      LEFT JOIN contam ct ON ct.doc_id = d.doc_id
      LEFT JOIN iscore sc ON sc.doc_id = d.doc_id
    )"""


#: zf01's oracle — module-level so zf02 (the streaming twin, same
#: logical result) reuses it WITHOUT a registry lookup at import time:
#: ``get()`` inside a module body re-enters the registry's import loop
#: and crashes on partially-initialized downstream modules when an
#: operator module is imported directly (the r12 ziops lesson).
_ZF01_ORACLE = f"""
    WITH {_zf01_flags_ctes()}
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(1 - s_e) AS BIGINT) AS drop_exact,
           CAST(SUM(s_e * f_near) AS BIGINT) AS drop_near,
           CAST(SUM(s_e * (1 - f_near) * f_sem) AS BIGINT) AS drop_sem,
           CAST(SUM(s_e * (1 - f_near) * (1 - f_sem) * f_con) AS BIGINT)
             AS drop_contam,
           CAST(SUM(s_e * (1 - f_near) * (1 - f_sem) * (1 - f_con) * f_off)
                AS BIGINT) AS drop_offtarget,
           CAST(SUM(s_e * (1 - f_near) * (1 - f_sem) * (1 - f_con)
                    * (1 - f_off)) AS BIGINT) AS n_kept,
           CAST(SUM(s_e * (1 - f_near) * (1 - f_sem) * (1 - f_con)
                    * (1 - f_off)) * 1000000 // COUNT(*) AS BIGINT)
             AS kept_ppm
    FROM flags GROUP BY source ORDER BY source
    """


@register(
    "zf01_curation_lineage",
    oracle=_ZF01_ORACLE,
    doc=(
        "CURATION LINEAGE REPORT, per source: one mutually-exclusive "
        "FIRST-failing-stage drop reason per document through the five "
        "curation stages the engine ships — exact dedup (dd01 "
        "hash-groupBy keep-first) -> near dedup (dd02 MinHash+LSH at "
        "800 permille) -> semantic dedup (zc03 sign-LSH + exact "
        f"integer cosine) -> eval decontamination (tz06's {DECON_NGRAM}-gram "
        "train/test overlap) -> DSIR target-likeness (zb03's "
        "ppm-difference importance; importance <= 0 drops as "
        "off-target). Mass conserves exactly: n_docs = drop_exact + "
        "drop_near + drop_sem + drop_contam + drop_offtarget + n_kept "
        "per source (pinned by test against each stage's own query). "
        "Absence-of-evidence rules follow the stages: docs without an "
        "embedding row pass the semantic stage, docs with no bigram "
        "pass the importance stage (no signal either way — zd01's "
        "LEFT-join discipline). Shape: the five stage lists are "
        "computed by the stages' OWN builders/machinery, each "
        "localCheckpointed so the report joins materialized drop-lists "
        "against ONE (doc_id, source) corpus scan (the r7 scan-audit "
        "rule — composed naively the lineage would re-scan documents "
        "12x); drop-lists are duplicate/contamination-fraction-sized, "
        "so AQE broadcasts them at any skew; final rollup is one "
        "map-combined per-source aggregate. Oracle composes the five "
        "stages' CTE bodies verbatim (i/c prefixes only avoid CTE "
        "name collisions)."
    ),
    tags=("curation", "dedup", "report", "llm-pipeline"),
)
def zf01(spark: SparkSession, sf_dir: str) -> DataFrame:
    flags = zf01_flags(spark, sf_dir)
    kept = "s_e * (1 - f_near) * (1 - f_sem) * (1 - f_con) * (1 - f_off)"
    return (
        flags.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.expr("CAST(SUM(1 - s_e) AS BIGINT)").alias("drop_exact"),
            F.expr("CAST(SUM(s_e * f_near) AS BIGINT)").alias("drop_near"),
            F.expr("CAST(SUM(s_e * (1 - f_near) * f_sem) AS BIGINT)").alias(
                "drop_sem"
            ),
            F.expr(
                "CAST(SUM(s_e * (1 - f_near) * (1 - f_sem) * f_con) AS BIGINT)"
            ).alias("drop_contam"),
            F.expr(
                "CAST(SUM(s_e * (1 - f_near) * (1 - f_sem) * (1 - f_con)"
                " * f_off) AS BIGINT)"
            ).alias("drop_offtarget"),
            F.expr(f"CAST(SUM({kept}) AS BIGINT)").alias("n_kept"),
            F.expr(f"CAST(SUM({kept}) * 1000000 DIV COUNT(*) AS BIGINT)").alias(
                "kept_ppm"
            ),
        )
        .orderBy("source")
    )


def zf01_flags(
    spark: SparkSession,
    sf_dir: str,
    extra_cols: tuple[str, ...] = (),
    with_rules: bool = False,
) -> DataFrame:
    """Builder twin of :func:`_zf01_flags_ctes`: one row per document
    with (doc_id, source, *extra_cols, s_e, f_near, f_sem, f_con,
    f_off[, r_short, r_long, r_rep, r_stop]). Each stage list is
    computed by the stage's OWN builder and localCheckpointed (the
    zd01 rule), so every consumer — zf01's per-source rollup, zg01's
    banded packing manifest, zg02's curated curriculum — joins
    materialized drop-lists against ONE corpus projection scan.

    ``with_rules=True`` (the artifact-publish path, v2) additionally
    carries zg06's four per-doc-local hard-rule verdicts, computed in
    the same corpus projection (rules read only the doc itself, so
    they ride the scan the lineage already pays — no extra pass);
    spelling is zg06_census_partial's verbatim, so the artifact's rule
    columns are bit-identical to the live census."""
    if with_rules:
        # lazy: zgops imports this module at top level (consumer side)
        from spotify_tags_etl_spark.operators import zgops as _zg

        stoplist = ", ".join(f"'{w}'" for w in _zg.ZG06_STOPWORDS)
        docs = (
            load_table(spark, sf_dir, "documents")
            .select(
                "doc_id",
                "source",
                *extra_cols,
                F.expr("CAST(size(split(text, ' ')) AS BIGINT)").alias("_nw"),
                F.expr(
                    "CAST(size(array_distinct(split(text, ' '))) AS BIGINT)"
                ).alias("_ndw"),
                F.expr(
                    f"arrays_overlap(split(lower(text), ' '), array({stoplist}))"
                ).alias("_has_stop"),
            )
            .select(
                "doc_id",
                "source",
                *extra_cols,
                F.expr(
                    f"CASE WHEN _nw < {_zg.ZG06_MIN_WORDS} THEN 1 ELSE 0 END"
                ).alias("r_short"),
                F.expr(
                    f"CASE WHEN _nw > {_zg.ZG06_MAX_WORDS} THEN 1 ELSE 0 END"
                ).alias("r_long"),
                F.expr(
                    f"CASE WHEN (_nw - _ndw) * 1000000 > {_zg.ZG06_REP_PPM} * _nw"
                    " THEN 1 ELSE 0 END"
                ).alias("r_rep"),
                F.expr("CASE WHEN _has_stop THEN 0 ELSE 1 END").alias("r_stop"),
            )
        )
    else:
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "source", *extra_cols
        )
    rule_cols = ("r_short", "r_long", "r_rep", "r_stop") if with_rules else ()

    # r12 §2.6: the five stage builders are INDEPENDENT (each computes
    # its own drop-list from its own inputs) but ran strictly one after
    # another — including their internal eager actions (zc03's corpus
    # checkpoint, the off-target census/weights folds). Building AND
    # checkpointing each stage in its own thread overlaps all of it;
    # frames, plans, labels, and values are unchanged.
    def _stage(label, build):
        frame = build()
        record_plan(frame, label)
        return frame.localCheckpoint(eager=True)

    # r13: freeze the initial shuffle width to the publisher's input
    # volume for the duration of the five concurrent stage builds
    # (guide §2.2 — at KB-MB volume, 32 initial partitions x every
    # exchange x 5 concurrent jobs is pure scheduling/commit overhead;
    # at production volume the bound computes >= the session value and
    # is a no-op). AQE still coalesces below the bound at runtime.
    import os as _os

    _in_bytes = input_file_bytes(
        _os.path.join(sf_dir, "documents.parquet"),
        _os.path.join(sf_dir, "embeddings.parquet"),
    )
    with bounded_shuffle(spark, _in_bytes):
        exact_keeps, near_drops, sem_drops, contam, offtgt = run_parallel(
            lambda: _stage(
                "zf01:exact_keeps",
                lambda: dd01(spark, sf_dir).select(
                    F.col("keep_doc_id").alias("doc_id"), F.lit(1).alias("s_e")
                ),
            ),
            lambda: _stage(
                "zf01:near_drops",
                lambda: dd02(spark, sf_dir)
                .select(F.col("d2").alias("doc_id"))
                .distinct()
                .withColumn("f_near", F.lit(1)),
            ),
            lambda: _stage(
                "zf01:sem_drops",
                lambda: zc03(spark, sf_dir)
                .where(F.col("keep") == 0)
                .select(F.col("vec_id").alias("doc_id"))
                .withColumn("f_sem", F.lit(1)),
            ),
            lambda: _stage(
                "zf01:contam",
                lambda: tz06(spark, sf_dir).select("doc_id").withColumn(
                    "f_con", F.lit(1)
                ),
            ),
            lambda: _stage(
                "zf01:offtarget",
                lambda: zf01_offtarget(spark, sf_dir).withColumn(
                    "f_off", F.lit(1)
                ),
            ),
        )
    flags = (
        docs.join(exact_keeps, "doc_id", "left")
        .join(near_drops, "doc_id", "left")
        .join(sem_drops, "doc_id", "left")
        .join(contam, "doc_id", "left")
        .join(offtgt, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            *extra_cols,
            F.coalesce("s_e", F.lit(0)).alias("s_e"),
            F.coalesce("f_near", F.lit(0)).alias("f_near"),
            F.coalesce("f_sem", F.lit(0)).alias("f_sem"),
            F.coalesce("f_con", F.lit(0)).alias("f_con"),
            F.coalesce("f_off", F.lit(0)).alias("f_off"),
            *rule_cols,
        )
    )
    record_plan(flags, "zf01:lineage_flags")
    return flags


# ---------------------------------------------------------------------------
# zf01 flags artifact — the lineage published once, read by the zg band
# ---------------------------------------------------------------------------

#: Bump when the LINEAGE SEMANTICS change: an artifact written by an
#: older stage definition must read as stale, never as the lineage.
#: v2 (r11): the artifact additionally carries zg06's four hard-rule
#: verdicts (r_short, r_long, r_rep, r_stop) so rule consumers (zg06,
#: the zh unified keep-set) read ONE pruned artifact scan instead of
#: re-parsing the corpus text.
#: v3 (r12): staleness keys on PER-INPUT-FILE identity and the miss
#: path recomputes from partition-granular stage partials
#: (functions/partials.py) — one changed corpus file re-extracts only
#: that file; the cross-partition merge (hash groups, LSH buckets,
#: gram joins — the documented bucket-granularity merge rule) re-runs
#: over the compact cached partials, never the unchanged text.
ZF01_FLAGS_VERSION = 3

#: In-process memo: key -> artifact dir (bench/sweep runs hit this
#: after the first read; keyed identically to the on-disk artifact so
#: a fixture regen mid-process cannot serve stale flags).
_FLAGS_MEMO: dict[str, str] = {}


def _flags_key(sf_dir: str) -> dict:
    """Staleness key: PER-FILE identity (mtime_ns + size of every part
    file — functions/partials.py's enumeration; v2 keyed one identity
    per whole table) of EVERY input the stages read — documents
    (dd01/dd02/tz06/zb03/rules) AND embeddings (zc03) — plus every
    constant the lineage depends on: dd02's shingle/MinHash/LSH shape,
    zc03's sign-LSH sizing and cosine threshold, tz06's hash-split
    edges and n-gram width, zb03's importance census shape, and zg06's
    rule thresholds (r11: the ADVICE gap — previously only
    near_permille/DECON_NGRAM/ZB03_* were keyed, so changing e.g.
    ZC03_T_PPM served a stale artifact until a manual version bump)."""
    import os

    # lazy: zgops/zcops import this module at top level (consumer side)
    from spotify_tags_etl_spark.functions import partials as _pt
    from spotify_tags_etl_spark.operators import dedup as _dd
    from spotify_tags_etl_spark.operators import zcops as _zc
    from spotify_tags_etl_spark.operators import zgops as _zg
    from spotify_tags_etl_spark.operators.training import SPLIT_EDGES

    inputs = {}
    for t in ("documents", "embeddings"):
        p = os.path.abspath(os.path.join(sf_dir, f"{t}.parquet"))
        inputs[t] = {"path": p, "files": _pt.input_files(p)}
    return {
        "partials_version": _pt.PARTIALS_VERSION,
        "inputs": inputs,
        "near_permille": _ZF01_NEAR_PERMILLE,
        "minhash": {"n_hashes": _dd.N_HASHES, "band_rows": _dd.BAND_ROWS,
                    "shingle_n": 3},
        "semantic": {"bits": _zc.ZC03_BITS, "tables": _zc.ZC03_TABLES,
                     "t_ppm": _zc.ZC03_T_PPM},
        "decon_ngram": DECON_NGRAM,
        "split_edges": [list(e) for e in SPLIT_EDGES],
        "imp_buckets": ZB03_BUCKETS,
        "target_lang": ZB03_TARGET_LANG,
        "rules": {"min_words": _zg.ZG06_MIN_WORDS,
                  "max_words": _zg.ZG06_MAX_WORDS,
                  "rep_ppm": _zg.ZG06_REP_PPM,
                  "stopwords": list(_zg.ZG06_STOPWORDS)},
        "flags_version": ZF01_FLAGS_VERSION,
    }


def _flags_artifact_dir(key: dict) -> str:
    import hashlib
    import json
    import os

    from spotify_tags_etl_spark.functions.artifactio import warehouse_root

    digest = hashlib.md5(
        json.dumps(key, sort_keys=True).encode()
    ).hexdigest()[:16]
    return os.path.join(warehouse_root(), "zf01_flags", digest)


def zf01_flags_from_partials(
    spark: SparkSession, doc_dirs: dict[str, str], emb_dirs: dict[str, str]
) -> DataFrame:
    """The five-stage lineage assembled from partition-granular stage
    partials (functions/partials.py) instead of the corpus text — the
    v3 artifact's miss path. Bit-identical to
    ``zf01_flags(spark, sf_dir, extra_cols=("n_chars",),
    with_rules=True)`` (pinned by tests/test_round12_additions.py):
    every per-doc row (rule verdicts, content hash, MinHash signature,
    shingles, decon grams, importance bucket counts, sign-LSH keys)
    was extracted by the stage's own builder at partial-publish time,
    and this merge re-runs only the CROSS-PARTITION group structure —
    the documented bucket-granularity merge rule:

    * exact:    hash groups are unions of per-file partials — one
                groupBy(text_hash) over the compact hash column;
    * near:     LSH buckets union across files — banded self-join on
                cached signatures, exact-jaccard verify on cached
                shingles (dd02's own functions);
    * semantic: sign-LSH buckets union across files — zc03's bucket
                join + integer-cosine verify on cached projections;
    * decon:    the train x eval gram join over cached distinct grams
                (split side re-derived from doc_id hash — key-local);
    * off-tgt:  the 256-bucket census SUM-merges per-doc bucket
                counts; weights and per-doc importance re-derive from
                the same compact frame.

    No stage re-reads document text: the merge inputs are O(tokens)
    derived columns at worst (shingles/grams), O(docs) elsewhere."""
    from spotify_tags_etl_spark.functions import partials as _pt
    from spotify_tags_etl_spark.functions.hashing import hash_frac as _hash_frac
    from spotify_tags_etl_spark.operators.dedup import (
        N_HASHES,
        jaccard_verify,
        lsh_candidate_pairs,
    )
    from spotify_tags_etl_spark.operators.training import SPLIT_EDGES
    from spotify_tags_etl_spark.operators.zcops import zc03_edges_from_b

    base = _pt.read_partial(spark, doc_dirs, "docs")
    record_plan(base, "zf01p:doc_partials")
    b = _pt.read_partial(spark, emb_dirs, "vecs")
    record_plan(b, "zf01p:projected_corpus")
    imp = _pt.read_partial(spark, doc_dirs, "imp")
    record_plan(imp, "zf01p:imp_partials")
    # r12 §2.6: the three partial reads are independent — materialize
    # them concurrently (base feeds docs+exact+near, b the candidate
    # explode + both pair sides, imp the census + scoring passes)
    pre = checkpoint_parallel({"base": base, "b": b, "imp": imp})
    base, b, imp = pre["base"], pre["b"], pre["imp"]

    # exact dedup: dd01's hash-group keep-first over the cached hashes
    exact_lazy = (
        base.groupBy("text_hash")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", F.lit(1).alias("s_e"))
    )

    # near dedup: dd02's banded LSH join + exact-jaccard verify, fed the
    # cached signatures and shingles (per-doc-local, so per-file partials
    # equal the global frames row-for-row)
    sig = base.where(F.col("m0").isNotNull()).select(
        "doc_id", *[f"m{i}" for i in range(N_HASHES)]
    )
    sh = _pt.read_partial(spark, doc_dirs, "shingles")
    near_lazy = (
        jaccard_verify(
            lsh_candidate_pairs(sig), sh, threshold_permille=_ZF01_NEAR_PERMILLE
        )
        .select(F.col("d2").alias("doc_id"))
        .distinct()
        .withColumn("f_near", F.lit(1))
    )

    # semantic dedup: zc03's bucket join + integer-cosine verify over the
    # cached quantized/projected/bucketed corpus
    sem_lazy = (
        zc03_edges_from_b(b)
        .select(F.col("d2").alias("doc_id"))
        .distinct()
        .withColumn("f_sem", F.lit(1))
    )

    # decontamination: tz06's train x eval gram join over cached grams;
    # the split side is a pure doc_id-hash function, so it re-derives
    # from the key without touching text
    g5 = _pt.read_partial(spark, doc_dirs, "grams5")
    frac = _hash_frac(F.col("doc_id"))
    train_edge, test_edge = SPLIT_EDGES[0][1], SPLIT_EDGES[1][1]
    train = g5.where(frac < train_edge).select("doc_id", "g")
    test = g5.where(frac >= test_edge).select(F.col("g").alias("tg")).distinct()
    contam_lazy = (
        train.join(test, F.col("g") == F.col("tg"))
        .select("doc_id")
        .distinct()
        .withColumn("f_con", F.lit(1))
    )

    # off-target: zb03's two-pass census/weights over the cached per-doc
    # bucket counts (census partials SUM-merge; count-of-rows becomes
    # sum-of-cnt, count-when becomes coalesced conditional sum). Built
    # inside its own thread below — its internal census/weights folds
    # are sequential WITHIN the stage but independent of the others.
    def _build_offtgt() -> DataFrame:
        census = imp.groupBy("bucket").agg(
            F.sum("cnt").alias("raw_n"),
            F.coalesce(
                F.sum(F.when(F.col("lang") == ZB03_TARGET_LANG, F.col("cnt"))),
                F.lit(0),
            ).alias("tgt_n"),
        )
        record_plan(census, "zf01p:importance_census")
        census = census.localCheckpoint(eager=True)  # 256 rows, one partial pass
        tot = census.agg(F.sum("raw_n").alias("raw_t"), F.sum("tgt_n").alias("tgt_t"))
        wts = census.crossJoin(F.broadcast(tot)).select(
            "bucket",
            (
                F.expr("CAST(CAST(tgt_n AS DECIMAL(38,0)) * 1000000 DIV tgt_t AS BIGINT)")
                - F.expr("CAST(CAST(raw_n AS DECIMAL(38,0)) * 1000000 DIV raw_t AS BIGINT)")
            ).alias("w"),
        )
        wts = wts.localCheckpoint(eager=True)  # 256 rows; pass 2 must not re-census
        return (
            imp.join(F.broadcast(wts), "bucket")
            .groupBy("doc_id")
            .agg(F.expr("SUM(CAST(cnt AS DECIMAL(38,0)) * w)").alias("importance"))
            .where(F.col("importance") <= 0)
            .select("doc_id")
            .withColumn("f_off", F.lit(1))
        )

    # r12 §2.6: the five cross-partition stage merges are independent —
    # build and checkpoint each in its own thread (same frames, plans,
    # labels; only the driver-side submission overlaps)
    def _stage(label, build):
        frame = build()
        record_plan(frame, label)
        return frame.localCheckpoint(eager=True)

    exact_keeps, near_drops, sem_drops, contam, offtgt = run_parallel(
        lambda: _stage("zf01p:exact_keeps", lambda: exact_lazy),
        lambda: _stage("zf01p:near_drops", lambda: near_lazy),
        lambda: _stage("zf01p:sem_drops", lambda: sem_lazy),
        lambda: _stage("zf01p:contam", lambda: contam_lazy),
        lambda: _stage("zf01p:offtarget", _build_offtgt),
    )
    flags = (
        base.select(
            "doc_id", "source", "n_chars", "r_short", "r_long", "r_rep", "r_stop"
        )
        .join(exact_keeps, "doc_id", "left")
        .join(near_drops, "doc_id", "left")
        .join(sem_drops, "doc_id", "left")
        .join(contam, "doc_id", "left")
        .join(offtgt, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            "n_chars",
            F.coalesce("s_e", F.lit(0)).alias("s_e"),
            F.coalesce("f_near", F.lit(0)).alias("f_near"),
            F.coalesce("f_sem", F.lit(0)).alias("f_sem"),
            F.coalesce("f_con", F.lit(0)).alias("f_con"),
            F.coalesce("f_off", F.lit(0)).alias("f_off"),
            "r_short",
            "r_long",
            "r_rep",
            "r_stop",
        )
    )
    record_plan(flags, "zf01p:lineage_flags")
    return flags


def zf01_flags_artifact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared-lineage-artifact primitive (ze01_fit_artifact's
    pattern applied to the data plane): the nightly curation run
    publishes the per-doc flag table ONCE — (doc_id, source, n_chars,
    s_e, f_near, f_sem, f_con, f_off, r_short, r_long, r_rep, r_stop)
    parquet in the gitignored spark-warehouse, staleness-keyed on
    input mtimes+sizes and every stage constant — and every consumer
    (zg packing manifest, curriculum, datasheet, shard plan; zg06's
    rule census; zd01's dedup funnel; the zh unified keep-set) READS
    it instead of re-running the five-stage funnel or re-parsing the
    corpus text. The lineage is integer-deterministic, so
    hit and miss paths are bit-identical in output — only in cost
    (the funnel is the most expensive composition in the repo; four
    consumers re-deriving it per run was the r10 analog of the ze
    band's 5x re-fit). Unlike the ze01 weights (O(65) rows, a
    plan-feeding literal) this artifact is CORPUS-SIZED, so it stays a
    Spark-side parquet table end to end: consumers' column pruning
    reaches the artifact scan (pinned), never the driver.

    Miss/stale path (absent, an input FILE changed, or
    ZF01_FLAGS_VERSION bumped): v3 is PARTITION-GRANULAR — it ensures
    the per-input-file stage partials (functions/partials.py; only
    files whose identity changed re-extract, the rest carry forward),
    assembles the lineage with :func:`zf01_flags_from_partials` (the
    cross-partition merge over compact cached partials — text is never
    re-read for an unchanged file), and publishes atomically (tmp dir
    + whole rename, the winner VERIFIED on a lost race — artifactio's
    discipline), then GCs sibling digests superseded by this publish —
    same input paths AND strictly older identity or lower version
    (r11 ADVICE: a stale-view publisher must never delete a newer
    sibling). zf01 itself keeps exercising the live text-path funnel —
    the publisher's own correctness gate — and the live/partials
    equality is pinned."""
    import json
    import os

    from spotify_tags_etl_spark.functions import artifactio
    from spotify_tags_etl_spark.functions import partials as _pt

    key = _flags_key(sf_dir)
    memo_k = json.dumps(key, sort_keys=True)
    # memo hit must re-verify the dir still exists: a same-process
    # republish for a reverted input identity may have GC'd it (ADVICE)
    if memo_k not in _FLAGS_MEMO or not os.path.isdir(_FLAGS_MEMO[memo_k]):
        target = _flags_artifact_dir(key)
        fresh = artifactio.read_meta_key(target) == key
        if not fresh:
            # a mismatched/corrupt dir AT the target path would make
            # every rename fail (the silently-stops-caching bug)
            artifactio.remove_unservable_target(target, key)
            doc_dirs, _ = _pt.ensure_partials(
                spark, key["inputs"]["documents"]["path"], "doc"
            )
            emb_dirs, _ = _pt.ensure_partials(
                spark, key["inputs"]["embeddings"]["path"], "emb"
            )
            flags = zf01_flags_from_partials(spark, doc_dirs, emb_dirs)
            os.makedirs(os.path.dirname(target), exist_ok=True)
            tmp = f"{target}.tmp.{os.getpid()}"
            flags.write.mode("overwrite").parquet(
                os.path.join(tmp, "flags.parquet")
            )
            with open(os.path.join(tmp, "meta.json"), "w") as fh:
                json.dump({"key": key}, fh, indent=1)
            artifactio.publish_atomic(tmp, target, key)
            artifactio.gc_superseded(target, _flags_supersedes(key))
        _FLAGS_MEMO[memo_k] = target
    return spark.read.parquet(
        os.path.join(_FLAGS_MEMO[memo_k], "flags.parquet")
    )


def _flags_supersedes(key: dict):
    """Supersedes predicate for flags-artifact GC: a sibling is removed
    only when it covers the SAME input paths and is provably stale —
    its flags_version is lower, or (same version) every input file's
    identity is <= the fresh key's with at least one strictly older
    (functions/partials.py's ordering). Incomparable siblings — a newer
    mtime anywhere, different file sets, unknown key shapes — are left
    alone: the r11 ADVICE rule that stops a publisher holding a stale
    view of the inputs from deleting a strictly newer sibling."""
    from spotify_tags_etl_spark.functions import partials as _pt

    my_paths = {t: v["path"] for t, v in key["inputs"].items()}
    my_files = {
        f"{t}/{name}": ident
        for t, v in key["inputs"].items()
        for name, ident in v["files"].items()
    }
    my_version = key["flags_version"]

    def _sup(k: object) -> bool:
        if not isinstance(k, dict):
            return False
        kin = k.get("inputs") or {}
        if {
            t: (v or {}).get("path") for t, v in kin.items()
        } != my_paths:
            return False
        k_version = k.get("flags_version")
        if not isinstance(k_version, int) or k_version < my_version:
            # pre-v3 key shapes carry no per-file identity — same-path
            # siblings of an older version are superseded by definition
            return True
        if k_version > my_version:
            return False
        k_files = {
            f"{t}/{name}": ident
            for t, v in kin.items()
            for name, ident in ((v or {}).get("files") or {}).items()
        }
        return _pt.identity_strictly_older(k_files, my_files)

    return _sup


# ---------------------------------------------------------------------------
# zf02 — streaming twin of zf01: incremental curation lineage
# ---------------------------------------------------------------------------


def streaming_curation_lineage(
    spark: SparkSession, sf_dir: str, stream_docs: DataFrame
) -> DataFrame:
    """Incremental lineage accounting. Per micro-batch the documents
    reduce to the mergeable state each stage genuinely needs:

    * EXACT: the (text_hash, source, n, min_doc) SUM/MIN census
      (zd05's stage, verbatim);
    * NEAR: idempotent per-batch MinHash-signature + shingle stores
      (zd05's — signatures are per-doc aggregates, complete in-batch);
    * OFF-TARGET: the (bucket, raw_n, tgt_n) importance census
      SUM-merged + idempotent per-batch (doc_id, bucket, n) gram
      histograms (zc04's stage, verbatim);
    * CONTAMINATION: the train-side (doc_id, gram) store (hash-split
      membership is a pure function of doc_id, so split assignment is
      per-doc-complete in-batch) + the test-side DISTINCT-gram census
      union-merged into versioned parquet;
    * SEMANTIC: resolved post-ingest (zd05's documented stance —
      zc03's candidate pairs need the full projected corpus, which is
      not a census merge; production runs the semantic pass over the
      accumulated corpus after ingest, which is exactly stream close).

    At close each stage resolves from its own state and the flags fold
    into zf01's first-drop attribution — counts and stores merge
    associatively + commutatively, so the report is micro-batch-layout
    invariant and equals batch zf01 exactly.

    Store layout (r9 verdict #4 — consolidation): the seven logical
    stores collapse into TWO physical writes per trigger, one schema
    each, discriminated by a ``kind`` column:

    * ``doc store`` (idempotent, per-batch overwrite): banded MinHash
      rows + shingles + per-doc gram histograms + train-side grams as
      (kind, doc_id, band, s, n) — per-doc facts complete in-batch;
    * ``census state`` (versioned merge): exact census + importance
      census + test-gram set as (kind, k1, k2, n1, n2, m), merged by
      ONE groupBy(kind, k1, k2) with SUM/SUM/MIN aggregates — raw
      batch rows union the previous version and the map-side partial
      aggregation does the in-batch compression, so the three old
      pre-aggregations + three merge writes become one exchange and
      one write.

    r11 factoring: the per-batch reduction (lineage_batch_parts), the
    ingest loop (run_lineage_ingest) and the close-time stage
    resolution (lineage_close_frames) are shared with zh04's unified
    keep-set stream, which unions its own per-doc verdict rows into
    the same doc store — identical frames, identical labels-modulo-
    prefix, so this factoring changes no zf02 plan or value."""
    return _run_lineage_stream(spark, sf_dir, stream_docs, label="zf02")


def lineage_batch_parts(batch: DataFrame) -> tuple[DataFrame, DataFrame]:
    """One micro-batch reduced to zf02's two kind-keyed frames: the
    idempotent per-doc STORE rows (banded MinHash signatures, shingles,
    per-doc gram histograms, train-side grams — schema (kind, doc_id,
    band, s, n)) and the mergeable CENSUS rows (exact/importance/
    test-gram — schema (kind, k1, k2, n1, n2, m)). Shared by zf02 and
    zh04 (which unions its own per-doc verdict rows into the store)."""
    from spotify_tags_etl_spark.operators.dedup import (
        banded_frame,
        minhash_signatures,
        word_shingles,
    )
    from spotify_tags_etl_spark.operators.training import SPLIT_EDGES
    from spotify_tags_etl_spark.functions.hashing import hash_frac

    train_edge, test_edge = SPLIT_EDGES[0][1], SPLIT_EDGES[1][1]
    _null_s = F.lit(None).cast("string")
    _null_n = F.lit(None).cast("bigint")

    # ---- per-batch doc store: per-doc facts, complete in-batch ----
    sh = word_shingles(batch)
    sig_rows = banded_frame(minhash_signatures(sh)).select(
        F.lit("sig").alias("kind"),
        "doc_id",
        F.col("band").cast("bigint").alias("band"),
        F.col("bk").alias("s"),
        _null_n.alias("n"),
    )
    shingle_rows = sh.select(
        F.lit("shingle").alias("kind"),
        "doc_id",
        _null_n.alias("band"),
        "s",
        _null_n.alias("n"),
    )
    grams = zb03_grams(batch)
    docgram_rows = (
        grams.groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.lit("docgram").alias("kind"),
            "doc_id",
            F.col("bucket").cast("bigint").alias("band"),
            _null_s.alias("s"),
            "n",
        )
    )
    # contamination grams: the short-doc pre-filter is load-bearing
    # (decontaminate()'s rule, training.py): sequence(1, 0) in
    # Spark is the DESCENDING [1, 0] (step defaults to -1), so a
    # batch containing any doc with < DECON_NGRAM space-split
    # tokens would feed slice(..., 0, n) and kill the streaming
    # query with INVALID_PARAMETER_VALUE — the greatest(..., 0)
    # clamp does NOT prevent the [1, 0] sequence. The oracle's
    # generate_series(1, greatest(len-4, 0)) is empty for the same
    # doc, so filtering is semantically identical and total.
    cg = batch.where(
        F.size(F.split("text", " ")) >= DECON_NGRAM
    ).select(
        "doc_id",
        hash_frac(F.col("doc_id")).alias("frac"),
        F.explode(
            F.expr(
                f"transform(sequence(1, size(split(text, ' ')) - {DECON_NGRAM - 1}),"
                f" i -> concat_ws(' ', slice(split(text, ' '), i, {DECON_NGRAM})))"
            )
        ).alias("gram"),
    )
    traingram_rows = (
        cg.where(F.col("frac") < train_edge)
        .select("doc_id", "gram")
        .distinct()
        .select(
            F.lit("traingram").alias("kind"),
            "doc_id",
            _null_n.alias("band"),
            F.col("gram").alias("s"),
            _null_n.alias("n"),
        )
    )
    store = (
        sig_rows.unionByName(shingle_rows)
        .unionByName(docgram_rows)
        .unionByName(traingram_rows)
    )

    # ---- census rows: SUM/MIN-mergeable state ----
    exact_rows = batch.select(
        F.lit("exact").alias("kind"),
        F.md5("text").alias("k1"),
        F.col("source").alias("k2"),
        F.lit(1).cast("bigint").alias("n1"),
        _null_n.alias("n2"),
        F.col("doc_id").cast("bigint").alias("m"),
    )
    imp_rows = grams.select(
        F.lit("imp").alias("kind"),
        F.col("bucket").cast("string").alias("k1"),
        _null_s.alias("k2"),
        F.lit(1).cast("bigint").alias("n1"),
        F.when(F.col("lang") == ZB03_TARGET_LANG, 1)
        .otherwise(0)
        .cast("bigint")
        .alias("n2"),
        _null_n.alias("m"),
    )
    test_rows = cg.where(F.col("frac") >= test_edge).select(
        F.lit("testgram").alias("kind"),
        F.col("gram").alias("k1"),
        _null_s.alias("k2"),
        _null_n.alias("n1"),
        _null_n.alias("n2"),
        _null_n.alias("m"),
    )
    part = exact_rows.unionByName(imp_rows).unionByName(test_rows)
    return store, part


#: Census-log compaction cadence: fold the appended increments into
#: the compacted view once this many accumulate past it. Per-trigger
#: census bytes are O(batch) on every trigger except the compacting
#: one (amortized O(batch + state/K) — the LSM shape); the r11
#: verdict's O(state)-per-trigger full rewrite is gone.
ZF02_COMPACT_EVERY = 4


def _compacted_upto(state_cur: list[str]) -> int:
    """The batch id the current compacted view covers (inclusive), or
    -1 before any compaction. Encoded in the version dir name so a
    replayed trigger can tell which appended increments the committed
    view already folded in (they are simply left for the next
    compaction horizon check — never double-merged)."""
    import re

    if not state_cur:
        return -1
    m = re.search(r"compact_v(\d+)$", state_cur[0])
    return int(m.group(1)) if m else -1


def census_log_step(
    spark: SparkSession,
    root: str,
    incr: list[tuple[int, str]],
    state_cur: list[str],
    part: DataFrame,
    batch_id: int,
    label: str,
    plan_seen: set | None = None,
) -> None:
    """One trigger's census-log work (extracted from the foreachBatch
    closure so replay scenarios are directly testable): append the
    batch-LOCAL increment (O(batch) bytes; replay-idempotent per-batch
    overwrite), then fold increments past the compacted view's horizon
    once ZF02_COMPACT_EVERY have accumulated.

    Replay after a COMMITTED compaction: the replayed batch's id is <=
    the view's horizon, so the horizon filter excludes it and the
    (K-sized) fold condition cannot re-fire — increments are never
    double-merged. Replay after a FAILED compaction: the pointer never
    advanced, so the identical fold recomputes and commits through
    commit_versioned_state's tmp+rename."""
    import os

    from spotify_tags_etl_spark.streaming.ops import (
        commit_versioned_state,
        record_batch_plan,
        versioned_state_source,
    )

    inc = part.groupBy("kind", "k1", "k2").agg(
        F.sum("n1").alias("n1"),
        F.sum("n2").alias("n2"),
        F.min("m").alias("m"),
    )
    record_batch_plan(inc, f"{label}:census_increment", seen=plan_seen)
    cd = os.path.join(root, "census", f"b{batch_id}")
    inc.write.mode("overwrite").parquet(cd)  # replay-idempotent
    if (batch_id, cd) not in incr:
        incr.append((batch_id, cd))

    # periodic compaction: fold increments past the view's horizon
    fresh = [p for i, p in incr if i > _compacted_upto(state_cur)]
    if len(fresh) >= ZF02_COMPACT_EVERY:
        target = os.path.join(root, f"compact_v{batch_id}")
        src = versioned_state_source(state_cur, target)  # replay-safe
        merged = spark.read.parquet(*fresh)
        if src:
            merged = spark.read.parquet(src).unionByName(merged)
        merged = merged.groupBy("kind", "k1", "k2").agg(
            F.sum("n1").alias("n1"),
            F.sum("n2").alias("n2"),
            F.min("m").alias("m"),
        )
        record_batch_plan(merged, f"{label}:census_compaction")
        commit_versioned_state(merged, state_cur, target, src)


def resolve_census_state(spark: SparkSession, state_parts: list[str]) -> DataFrame:
    """The close-time census: ONE SUM/SUM/MIN merge over the compacted
    view (if any) plus the residual appended increments — the
    merge-on-read resolve of the append-only census log."""
    return (
        spark.read.parquet(*state_parts)
        .groupBy("kind", "k1", "k2")
        .agg(
            F.sum("n1").alias("n1"),
            F.sum("n2").alias("n2"),
            F.min("m").alias("m"),
        )
    )


def run_lineage_ingest(
    spark: SparkSession,
    stream_docs: DataFrame,
    root: str,
    label: str,
    extra_doc_rows=None,
) -> tuple[list[str], list[str]]:
    """Drive the availableNow ingest: per trigger, write the per-batch
    doc store (plus ``extra_doc_rows(batch)`` unioned in, when given —
    zh04's per-doc verdict rows) and APPEND the batch-local census
    increment; increments compact into a versioned view every
    ZF02_COMPACT_EVERY triggers (xw04's merge-on-read discipline
    applied to the census log — r11 verdict #3: the old path re-read
    and re-wrote the FULL accumulated census every trigger, honest but
    O(state); now per-trigger census bytes are O(batch) and the
    O(state) fold is paid 1/K of the time).

    Replay safety: increments are per-batch-id overwrites (idempotent);
    the compaction commits through the versioned pointer
    (commit_versioned_state), and a replay AFTER a committed compaction
    sees its own batch id <= the view's horizon, so the horizon check
    re-folds nothing — increments are never double-merged.

    Writes under ``root`` (the caller's :func:`stream_scratch`).
    Returns (store_dirs, state_parts): state_parts is the compacted
    view (if any) + the residual increments past its horizon; resolve
    with :func:`resolve_census_state`."""
    import os

    from spotify_tags_etl_spark.streaming.ops import record_batch_plan, run_foreach_batch

    store_dirs: list[str] = []  # per-batch idempotent doc stores
    state_cur: list[str] = []   # compacted-census version pointer
    incr: list[tuple[int, str]] = []  # append-only census increments
    plan_seen: set = set()  # r13: fingerprint each label once per run

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        # r12 §14: the fixture micro-batch arrives as ONE scan split, so
        # the per-doc map work (shingles, MinHash, gram explodes) in
        # BOTH per-trigger jobs would run single-task; fan the batch out
        # to the core count first (scale-adaptive — a no-op whenever the
        # batch already has >= cores partitions, i.e. at any real scale).
        batch = fan_out_scan(batch, "doc_id")
        store, part = lineage_batch_parts(batch)
        if extra_doc_rows is not None:
            store = store.unionByName(extra_doc_rows(batch))
        record_batch_plan(store, f"{label}:doc_store", seen=plan_seen)
        d = os.path.join(root, "docstore", f"b{batch_id}")
        # r12 §2.6: the two per-trigger writes are independent sinks
        # (both replay-idempotent on their own) — overlap them so the
        # census job back-fills the doc-store job's tail. Frames,
        # plans, and replay semantics are unchanged; a crash between
        # the writes was already recoverable in either order.
        run_parallel(
            lambda: store.write.mode("overwrite").parquet(d),
            lambda: census_log_step(
                spark, root, incr, state_cur, part, batch_id, label,
                plan_seen=plan_seen,
            ),
        )
        if d not in store_dirs:
            store_dirs.append(d)

    run_foreach_batch(stream_docs.select("doc_id", "lang", "text", "source"), apply_batch)
    state_parts = (list(state_cur[:1]) if state_cur else []) + [
        p for i, p in incr if i > _compacted_upto(state_cur)
    ]
    return store_dirs, state_parts


def lineage_close_frames(
    spark: SparkSession,
    sf_dir: str,
    state: DataFrame,
    store: DataFrame,
    extra: dict[str, DataFrame] | None = None,
) -> dict[str, DataFrame]:
    """Resolve each funnel stage from its accumulated state at close:
    returns {census, keeps, near_drops, sem_drops, contam, offtgt}
    with the four drop frames localCheckpointed (keeps stays lazy —
    callers join it). Shared by zf02's lineage report and zh04's
    unified keep-set. ``extra`` frames (zh04's vmargin/rule-census)
    are checkpointed IN THE SAME concurrent batch as the four drop
    frames and returned under their keys — they only depend on the
    already-checkpointed state/store, like the drop frames."""
    import os

    from spotify_tags_etl_spark.functions import partials as _pt
    from spotify_tags_etl_spark.operators.dedup import (
        jaccard_verify,
        lsh_candidate_pairs_banded,
    )
    from spotify_tags_etl_spark.operators.zcops import zc03_edges_from_b

    census = state.where(F.col("kind") == "exact").select(
        F.col("k1").alias("text_hash"),
        F.col("k2").alias("source"),
        F.col("n1").alias("n"),
        F.col("m").alias("min_doc"),
    )
    imp_census = state.where(F.col("kind") == "imp").select(
        F.col("k1").cast("bigint").alias("bucket"),
        F.col("n1").alias("raw_n"),
        F.col("n2").alias("tgt_n"),
    )
    test_grams = state.where(F.col("kind") == "testgram").select(
        F.col("k1").alias("gram")
    )
    sig_banded = store.where(F.col("kind") == "sig").select(
        "doc_id", "band", F.col("s").alias("bk")
    )
    sh_store = store.where(F.col("kind") == "shingle").select("doc_id", "s")
    doc_store = store.where(F.col("kind") == "docgram").select(
        "doc_id", F.col("band").alias("bucket"), "n"
    )
    train_grams = store.where(F.col("kind") == "traingram").select(
        "doc_id", F.col("s").alias("gram")
    )

    # exact keeps, attributed to their own source (zd05)
    keeps = (
        census.groupBy("text_hash")
        .agg(F.min(F.struct("min_doc", "source")).alias("m"))
        .select(F.col("m.min_doc").alias("doc_id"), F.col("m.source").alias("source"))
    )
    near_drops = (
        jaccard_verify(
            lsh_candidate_pairs_banded(sig_banded), sh_store,
            threshold_permille=_ZF01_NEAR_PERMILLE,
        )
        .select(F.col("d2").alias("doc_id"))
        .distinct()
        .withColumn("f_near", F.lit(1))
    )
    # semantic: post-ingest pass (zd05's documented stance), r12: over
    # the CACHED per-file embedding projections (functions/partials.py)
    # — quantize/project/bucket is paid once per embeddings state at
    # partial publish; close pays only the bucket join + exact verify
    emb_dirs, _ = _pt.ensure_partials(
        spark, os.path.join(sf_dir, "embeddings.parquet"), "emb"
    )
    b = _pt.read_partial(spark, emb_dirs, "vecs")
    record_plan(b, "lineage_close:projected_corpus")
    # r12 §2.6: the projected-corpus read and the importance-weight
    # fold are independent — materialize them concurrently (wts built
    # below, checkpointed here with b in one two-job batch)
    tot = imp_census.agg(
        F.sum("raw_n").alias("raw_t"), F.sum("tgt_n").alias("tgt_t")
    )
    wts = imp_census.crossJoin(F.broadcast(tot)).select(
        "bucket",
        (
            F.expr("CAST(CAST(tgt_n AS DECIMAL(38,0)) * 1000000 DIV tgt_t AS BIGINT)")
            - F.expr("CAST(CAST(raw_n AS DECIMAL(38,0)) * 1000000 DIV raw_t AS BIGINT)")
        ).alias("w"),
    )
    pre = checkpoint_parallel({"b": b, "wts": wts})
    b, wts = pre["b"], pre["wts"]  # candidate explode + both pair sides
    sem_drops = (
        zc03_edges_from_b(b)
        .select(F.col("d2").alias("doc_id"))
        .distinct()
        .withColumn("f_sem", F.lit(1))
    )
    contam = (
        train_grams.join(test_grams, "gram")
        .select("doc_id")
        .distinct()
        .withColumn("f_con", F.lit(1))
    )
    offtgt = (
        doc_store.join(F.broadcast(wts), "bucket")
        .groupBy("doc_id")
        .agg(
            # addend n * w <= grams/doc x 1e6 — int64-safe (zc04's bound)
            F.expr("CAST(SUM(n * w) AS BIGINT)").alias("importance")
        )
        .where(F.col("importance") <= 0)
        .select("doc_id")
        .withColumn("f_off", F.lit(1))
    )
    # r12 §2.6: the four drop resolutions (and any caller extras) are
    # independent jobs over the checkpointed state/store — overlap them
    done = checkpoint_parallel(
        {
            "near_drops": near_drops,
            "sem_drops": sem_drops,
            "contam": contam,
            "offtgt": offtgt,
            **(extra or {}),
        }
    )
    return {"census": census, "keeps": keeps, **done}


def _run_lineage_stream(
    spark: SparkSession, sf_dir: str, stream_docs: DataFrame, label: str
) -> DataFrame:
    from spotify_tags_etl_spark.streaming.ops import stream_scratch

    # r13: the scratch delete runs off the critical path (its backing
    # files are no longer needed once both checkpoints return, and
    # nothing after the block reads the root)
    with stream_scratch(f"{label}_lineage", background=True) as root:
        store_dirs, state_parts = run_lineage_ingest(
            spark, stream_docs, root, label=label
        )
        if not state_parts:
            return spark.createDataFrame(
                [],
                "source string, n_docs bigint, drop_exact bigint, drop_near bigint,"
                " drop_sem bigint, drop_contam bigint, drop_offtarget bigint,"
                " n_kept bigint, kept_ppm bigint",
            )
        # checkpoints only because the scratch root's removal deletes
        # the backing files; a production run leaves censuses + stores
        # as the parquet they are. r13: the two resolves are
        # independent jobs — overlap them (guide §2.6)
        pre = checkpoint_parallel(
            {
                "state": resolve_census_state(spark, state_parts),
                "store": spark.read.parquet(*store_dirs),
            }
        )
    state, store = pre["state"], pre["store"]
    fr = lineage_close_frames(spark, sf_dir, state, store)
    census, keeps = fr["census"], fr["keeps"]
    near_drops, sem_drops = fr["near_drops"], fr["sem_drops"]
    contam, offtgt = fr["contam"], fr["offtgt"]
    flags = (
        keeps.join(near_drops, "doc_id", "left")
        .join(sem_drops, "doc_id", "left")
        .join(contam, "doc_id", "left")
        .join(offtgt, "doc_id", "left")
        .select(
            "source",
            F.coalesce("f_near", F.lit(0)).alias("f_near"),
            F.coalesce("f_sem", F.lit(0)).alias("f_sem"),
            F.coalesce("f_con", F.lit(0)).alias("f_con"),
            F.coalesce("f_off", F.lit(0)).alias("f_off"),
        )
    )
    per_source_docs = census.groupBy("source").agg(
        F.sum("n").cast("bigint").alias("n_docs")
    )
    kept = "(1 - f_near) * (1 - f_sem) * (1 - f_con) * (1 - f_off)"
    per_source_keeps = flags.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_exact_kept"),
        F.expr("CAST(SUM(f_near) AS BIGINT)").alias("drop_near"),
        F.expr("CAST(SUM((1 - f_near) * f_sem) AS BIGINT)").alias("drop_sem"),
        F.expr(
            "CAST(SUM((1 - f_near) * (1 - f_sem) * f_con) AS BIGINT)"
        ).alias("drop_contam"),
        F.expr(
            "CAST(SUM((1 - f_near) * (1 - f_sem) * (1 - f_con) * f_off) AS BIGINT)"
        ).alias("drop_offtarget"),
        F.expr(f"CAST(SUM({kept}) AS BIGINT)").alias("n_kept"),
    )
    report = (
        per_source_docs.join(per_source_keeps, "source", "left")
        .select(
            "source",
            "n_docs",
            F.expr(
                "n_docs - COALESCE(n_exact_kept, 0)"
            ).alias("drop_exact"),
            F.coalesce("drop_near", F.lit(0)).alias("drop_near"),
            F.coalesce("drop_sem", F.lit(0)).alias("drop_sem"),
            F.coalesce("drop_contam", F.lit(0)).alias("drop_contam"),
            F.coalesce("drop_offtarget", F.lit(0)).alias("drop_offtarget"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.expr(
                "CAST(COALESCE(n_kept, 0) * 1000000 DIV n_docs AS BIGINT)"
            ).alias("kept_ppm"),
        )
        .orderBy("source")
    )
    record_plan(report, f"{label}:lineage_report")
    return report


def _zf02_register() -> None:
    @register(
        "zf02_stream_curation_lineage",
        oracle=_ZF01_ORACLE,
        doc=(
            "Streaming twin of zf01: per micro-batch the documents "
            "reduce to exactly the mergeable state each stage needs — "
            "the SUM/MIN exact census and MinHash signature/shingle "
            "stores (zd05's stages), the SUM-merged importance census "
            "+ idempotent per-doc gram histograms (zc04's), and the "
            "train-gram store + DISTINCT-merged test-gram census "
            "(hash-split membership is a pure function of doc_id, so "
            "split assignment is per-doc-complete in-batch). The "
            "SEMANTIC stage resolves post-ingest (zd05's documented "
            "stance: zc03's candidate pairs need the full projected "
            "corpus, not a census merge). At close each stage resolves "
            "from its own state and the flags fold into zf01's "
            "first-drop attribution — every merge is associative + "
            "commutative, so the report is micro-batch-layout "
            "invariant (pinned under a 3-file split) and equals batch "
            "zf01 exactly. Store consolidation (r9 verdict): the seven "
            "logical stores are TWO physical writes per trigger — one "
            "kind-discriminated per-batch doc store (banded signatures "
            "+ shingles + gram histograms + train grams, one schema) "
            "and one kind-keyed census state merged by a single "
            "groupBy(kind, k1, k2) — vs the seven writes of the r9 "
            "shape (measured ~1.9x isolated speedup at sf0.1). Oracle: "
            "zf01's SQL verbatim. Per-trigger cost is O(state + "
            "batch): the NEW work is O(batch grams), but each trigger "
            "REWRITES the accumulated census state to a fresh parquet "
            "version (O(distinct accumulated grams+hashes)), and the "
            "doc store accumulates O(corpus grams) across the run. The "
            "raw stream is never re-scanned; no engine state store."
        ),
        tags=("streaming", "curation", "dedup", "report", "llm-pipeline"),
    )
    def zf02(spark: SparkSession, sf_dir: str) -> DataFrame:
        from spotify_tags_etl_spark.streaming.ops import read_table_stream

        return streaming_curation_lineage(
            spark, sf_dir, read_table_stream(spark, sf_dir, "documents")
        )


_zf02_register()
