"""Round-9 late additions (ze band): in-engine model fitting and
LM-filter stages for the curation pipeline.

ze01 — batch perceptron quality classifier: a linear filter model
(the fastText-style "quality classifier" slot of a pretraining data
pipeline) TRAINED inside the engine — hashed-bigram design matrix,
integer weights, fixed full-batch perceptron rounds. Completes the
model-fitting arc za02 (Bradley–Terry) and xr02 (linear regression)
started: a trained *classifier* used for data selection.

Reference parity note: the reference ETL
(/root/reference/src/spotify_tags_etl/) has no training-data stage;
these operators extend the engine along SURVEY.md's "training-data
pipeline" axis (judge-graded first-class components).

Cross-engine determinism: every iterate is integer (weights, margins,
updates), so the unrolled MATERIALIZED-CTE DuckDB oracle reproduces
the fit bit-for-bit — the za02 discipline. No float anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spotify_tags_etl_spark.plans.planmetrics import record_plan
from spotify_tags_etl_spark.plans.registry import register
from spotify_tags_etl_spark.functions.concurrency import fan_out_scan
from spotify_tags_etl_spark.sources.tpch import load_table

# ---------------------------------------------------------------------------
# ze01 — batch perceptron quality classifier (trained in-engine)
# ---------------------------------------------------------------------------

#: Hashed feature buckets (bigram -> bucket). 64 keeps the unrolled
#: oracle's weight CTEs small while leaving ~13 buckets per language
#: fixture; the Spark side is bucket-count-agnostic.
ZE01_BUCKETS = 64

#: Bias feature key (one implicit always-on feature per document).
ZE01_BIAS = -1

#: Fixed full-batch perceptron rounds. Batch perceptron (sum the
#: updates of ALL misclassified docs per round) is order-free, so the
#: fit is deterministic under any partitioning — the property that
#: makes it expressible as relational algebra at all.
ZE01_ROUNDS = 6

#: Target class (+1) — same target as zb03's importance weights, so
#: the two selection signals are directly comparable.
ZE01_TARGET_LANG = "en"

#: Shared gram → bucket spelling (zb03's, at 64 buckets).
_ZE01_BUCKET_SQL = (
    "CAST(conv(substring(md5(g), 1, 8), 16, 10) AS BIGINT)"
    f" % {ZE01_BUCKETS}"
)

#: Oracle word-position bound: data-derived, the zb03 r7-ADVICE rule.
_ZE01_MAX_WORDS_SQL = (
    "(SELECT MAX(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),"
    " x -> x <> ''))) FROM documents)"
)


def _ze01_ctes(rounds: int = ZE01_ROUNDS) -> list[str]:
    """Unrolled batch-perceptron rounds as chained MATERIALIZED CTEs:
    m_d = sum_b x_db * w_b; misclassified iff y_d * m_d <= 0 (ties
    count as errors — the textbook convention); w += sum_mis y_d x_d.
    HUGEINT margins: at 100 TB |w| can reach the corpus gram count
    (~1e13), so cnt * w crosses int64 after ~1e5-gram documents.
    Shared CTE body: ze01 selects the learning curve off it, ze02 the
    averaged-weight gate report."""
    ctes = [
        f"""grams AS MATERIALIZED (
      SELECT doc_id,
             CASE WHEN lang = '{ZE01_TARGET_LANG}' THEN 1 ELSE -1 END AS y,
             ('0x' || substr(md5(w[i] || ' ' || w[i + 1]), 1, 8))::BIGINT
               % {ZE01_BUCKETS} AS bucket
      FROM (SELECT doc_id, lang,
                   list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                               x -> x <> '') AS w
            FROM documents) t,
           UNNEST(generate_series(1, {_ZE01_MAX_WORDS_SQL})) AS s(i)
      WHERE i <= len(w) - 1
    )""",
        """gf AS MATERIALIZED (
      SELECT doc_id, y, bucket, COUNT(*) AS cnt
      FROM grams GROUP BY doc_id, y, bucket
    )""",
        f"""feats AS MATERIALIZED (
      SELECT * FROM gf
      UNION ALL
      SELECT doc_id, y, {ZE01_BIAS} AS bucket, 1 AS cnt
      FROM (SELECT DISTINCT doc_id, y FROM gf)
    )""",
        "nd AS MATERIALIZED (SELECT COUNT(DISTINCT doc_id) AS n FROM feats)",
        f"""w0 AS MATERIALIZED (
      SELECT unnest(generate_series({ZE01_BIAS}, {ZE01_BUCKETS - 1})) AS bucket,
             CAST(0 AS HUGEINT) AS w
    )""",
    ]
    for r in range(rounds):
        ctes.append(
            f"""m{r} AS MATERIALIZED (
      SELECT f.doc_id, f.y, SUM(CAST(f.cnt AS HUGEINT) * w.w) AS m
      FROM feats f JOIN w{r} w ON w.bucket = f.bucket
      GROUP BY f.doc_id, f.y
    )"""
        )
        ctes.append(
            f"mis{r} AS MATERIALIZED (SELECT doc_id FROM m{r} WHERE y * m <= 0)"
        )
        ctes.append(
            f"""dw{r} AS MATERIALIZED (
      SELECT f.bucket, SUM(CAST(f.y AS HUGEINT) * f.cnt) AS dw
      FROM feats f JOIN mis{r} x ON x.doc_id = f.doc_id
      GROUP BY f.bucket
    )"""
        )
        ctes.append(
            f"""w{r + 1} AS MATERIALIZED (
      SELECT w.bucket, w.w + COALESCE(d.dw, 0) AS w
      FROM w{r} w LEFT JOIN dw{r} d ON d.bucket = w.bucket
    )"""
        )
        ctes.append(
            f"""st{r} AS MATERIALIZED (
      SELECT {r + 1} AS round,
             (SELECT COUNT(*) FROM mis{r}) AS n_mis,
             (SELECT SUM(ABS(w)) FROM w{r + 1}) AS w_l1,
             (SELECT SUM(w * (bucket + 2)) FROM w{r + 1}) AS w_dot
    )"""
        )
    return ctes


def _ze01_oracle_sql(rounds: int = ZE01_ROUNDS) -> str:
    union = " UNION ALL ".join(f"SELECT * FROM st{r}" for r in range(rounds))
    return (
        "WITH "
        + ",\n    ".join(_ze01_ctes(rounds))
        + f"""
    SELECT CAST(u.round AS BIGINT) AS round,
           CAST(u.n_mis AS BIGINT) AS n_mis,
           CAST((nd.n - u.n_mis) * 1000000 // nd.n AS BIGINT) AS acc_ppm,
           CAST(u.w_l1 AS BIGINT) AS w_l1,
           CAST(u.w_dot AS BIGINT) AS w_dot
    FROM ({union}) u, nd
    ORDER BY round
    """
    )


def _ze02_oracle_sql(rounds: int = ZE01_ROUNDS) -> str:
    """ze01's CTE chain + averaged weights (sum of the post-update
    iterates w1..wR — the integer numerator of the averaged
    perceptron; sign(<x, sum_r w_r>) = sign(<x, avg_r w_r>), so the
    1/R divisor is dropped and the gate stays integer-exact) + the
    per-source keep/accuracy census."""
    avg_union = " UNION ALL ".join(
        f"SELECT * FROM w{r}" for r in range(1, rounds + 1)
    )
    return (
        "WITH "
        + ",\n    ".join(_ze01_ctes(rounds))
        + f""",
    wavg AS MATERIALIZED (
      SELECT bucket, SUM(w) AS w FROM ({avg_union}) GROUP BY bucket
    ),
    sm AS MATERIALIZED (
      SELECT f.doc_id, f.y, SUM(CAST(f.cnt AS HUGEINT) * w.w) AS m
      FROM feats f JOIN wavg w ON w.bucket = f.bucket
      GROUP BY f.doc_id, f.y
    )
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN s.m > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN s.m > 0 THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS kept_ppm,
           CAST(SUM(CASE WHEN (s.m > 0) = (s.y = 1) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           CAST(SUM(CASE WHEN (s.m > 0) = (s.y = 1) THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT) AS acc_ppm
    FROM sm s JOIN documents d ON d.doc_id = s.doc_id
    GROUP BY d.source
    ORDER BY d.source
    """
    )


def ze01_design_matrix(docs: DataFrame) -> DataFrame:
    """Hashed-bigram design matrix shared by ze01 and its consumers:
    one (doc_id, y, bucket, cnt) row per document-feature, bias
    feature (bucket = -1, cnt = 1) included for every doc that has at
    least one bigram. Caller checkpoints."""
    grams = (
        docs.select(
            "doc_id",
            F.when(F.col("lang") == ZE01_TARGET_LANG, F.lit(1))
            .otherwise(F.lit(-1))
            .alias("y"),
            F.expr(
                "filter(split(lower(text), '[^a-z0-9]+'), x -> x <> '')"
            ).alias("ws"),
        )
        .where(F.size("ws") >= 2)
        .select(
            "doc_id",
            "y",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ws) - 1),"
                    " i -> concat(ws[i - 1], ' ', ws[i]))"
                )
            ).alias("g"),
        )
        .withColumn("bucket", F.expr(_ZE01_BUCKET_SQL))
    )
    return grams.groupBy("doc_id", "y", "bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )


@register(
    "ze01_perceptron_filter",
    oracle=_ze01_oracle_sql(),
    doc=(
        "Quality-classifier TRAINING inside the engine — the "
        "fastText-style linear filter slot of a curation pipeline "
        "(GPT-3/CCNet lineage), as a batch perceptron over "
        f"{ZE01_BUCKETS} hashed-bigram buckets + bias: "
        f"{ZE01_ROUNDS} full-batch rounds of m_d = <x_d, w>; docs with "
        "y_d*m_d <= 0 are misclassified (ties are errors); "
        "w += sum over misclassified of y_d*x_d. Batch (not online) "
        "updates make the fit ORDER-FREE — the property that turns "
        "perceptron training into relational algebra: each round is "
        "one aggregate + one semi-joined aggregate over the design "
        "matrix, deterministic under any partitioning. Emits the "
        "per-round learning curve (n_mis, acc_ppm) plus integer weight "
        "checksums (L1 mass, position-weighted dot) that pin the "
        "entire weight trajectory. Shape: the corpus is touched ONCE "
        "(map-combined groupBy building the design matrix, "
        "localCheckpointed); every round runs on that matrix with the "
        f"{ZE01_BUCKETS + 1} current weights embedded as a literal "
        "CASE (za02's plan-feeding pattern — the driver ferries 65 "
        "integers per round, the engine does all data-sized work; no "
        "createDataFrame in the loop, so the round plan is "
        "fingerprint-stable). Margins accumulate in DECIMAL(38,0)/"
        "HUGEINT: |w| grows with corpus gram count, so cnt*w crosses "
        "int64 at 100 TB. Integer-exact throughout; oracle = the same "
        "rounds unrolled as MATERIALIZED CTEs. Composes with zb03 "
        "(same target definition, independent signal) and yv15's "
        "domain gates."
    ),
    tags=("curation", "quality", "training", "model-fit", "llm-pipeline"),
)
def ze01(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json

    feats, nd, rows, w_hist = ze01_fit(spark, sf_dir)
    feats.unpersist()
    # The nightly-fit PUBLISH step: ze01 is the one query that always
    # exercises the live fit, and its run refreshes the artifact every
    # consumer (ze02-ze05, zg band) reads via ze01_fit_artifact.
    key = _fit_key(sf_dir)
    _publish_fit(key, nd, rows, w_hist)
    _FIT_MEMO[json.dumps(key, sort_keys=True)] = (nd, rows, w_hist)
    return spark.createDataFrame(
        rows, "round bigint, n_mis bigint, acc_ppm bigint, w_l1 bigint, w_dot bigint"
    )


def _w_arr(w: dict[int, int]) -> str:
    """The weight vector as a literal array (buckets are dense in
    [BIAS, BUCKETS) by construction, so position b + 2 holds w[b])."""
    return "array(" + ", ".join(str(w[b]) for b in sorted(w)) + ")"


def _w_lookup(w: dict[int, int], bucket: str = "bucket") -> str:
    """Weights as a literal array indexed by bucket: O(buckets)
    integers embedded per round — plan-feeding (xz10/za02), never a
    per-round shuffle. element_at(array, bucket + 2) is an O(1) lookup
    per row where the previous 65-arm CASE chain evaluated up to 65
    branch tests per row (r12: 0.75x on the margins stage, bit-equal)."""
    return f"element_at({_w_arr(w)}, CAST({bucket} + {2 - ZE01_BIAS - 1} AS INT))"


def _margins(feats: DataFrame, w: dict[int, int]) -> DataFrame:
    """Per-doc margin <x_d, w> on the checkpointed design matrix."""
    return feats.groupBy("doc_id", "y").agg(
        F.expr(f"SUM(CAST(cnt AS DECIMAL(38,0)) * ({_w_lookup(w)}))").alias("m")
    )


def ze01_feats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpointed (design matrix + bias) feature frame — the ONE
    corpus-sized pass every ze consumer pays (scoring is inherently a
    corpus read; only the FIT is amortizable via the artifact).
    Caller unpersists when done."""
    # r12 §14: fan the single-split corpus out before the bigram explode
    docs = fan_out_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    gf = ze01_design_matrix(docs)
    record_plan(gf, "ze01:design_matrix")
    gf = gf.localCheckpoint(eager=True)  # the ONLY corpus-sized pass
    bias = (
        gf.select("doc_id", "y")
        .distinct()
        .select(
            "doc_id", "y", F.lit(ZE01_BIAS).alias("bucket"), F.lit(1).alias("cnt")
        )
    )
    feats = gf.unionByName(bias)
    record_plan(feats, "ze01:feats")
    feats = feats.localCheckpoint(eager=True)
    gf.unpersist()
    return feats


def ze01_fit(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, int, list[tuple[int, int, int, int, int]], list[dict[int, int]]]:
    """The full batch-perceptron fit shared by ze01 (learning curve)
    and the artifact publish path: returns (checkpointed feats, doc
    count, per-round curve rows, per-round post-update weight dicts).
    Caller unpersists feats when done with it."""
    feats = ze01_feats(spark, sf_dir)
    nd = feats.select("doc_id").distinct().count()
    rows, w_hist = _fit_from_feats(feats, nd, label="ze01")
    return feats, nd, rows, w_hist


def _fit_from_feats(
    feats: DataFrame, nd: int, label: str
) -> tuple[list[tuple[int, int, int, int, int]], list[dict[int, int]]]:
    """The round loop of the batch-perceptron fit over an
    already-checkpointed feats frame — shared by the live fit (ze01's
    corpus-parse path) and the artifact publish's partials-fed path
    (the r12 incremental layer: same rows, so bit-identical weights)."""
    # r12 (second pass): the per-round margins SHUFFLE is gone. feats is
    # pre-grouped ONCE into per-doc feature vectors (doc_id, y,
    # fx: array<struct<bucket, cnt>>); each round's margin is then a
    # MAP-ONLY exact-integer fold over fx with the weights embedded as
    # an array literal, and the delta aggregate explodes only the
    # MISCLASSIFIED docs' vectors — one keyed exchange per round
    # instead of two (and the exploded side shrinks as the fit
    # converges). Identical integers: DECIMAL(38,0) sums are exact in
    # any order, so grouping the fold per doc cannot move a bit.
    # n_mis still rides along as the BIAS bucket's row count (every
    # doc's fx carries exactly one bias entry).
    docvec = feats.groupBy("doc_id", "y").agg(
        F.collect_list(F.struct("bucket", "cnt")).alias("fx")
    )
    record_plan(docvec, f"{label}:doc_vectors")
    docvec = docvec.localCheckpoint(eager=True)
    w = {b: 0 for b in range(ZE01_BIAS, ZE01_BUCKETS)}
    rows: list[tuple[int, int, int, int, int]] = []
    plan_seen: set = set()  # r13: fingerprint each loop label once per fit
    w_hist: list[dict[int, int]] = []
    for r in range(1, ZE01_ROUNDS + 1):
        m = F.expr(
            "aggregate(fx, CAST(0 AS DECIMAL(38,0)), (acc, e) -> acc"
            f" + CAST(e.cnt AS DECIMAL(38,0)) * {_w_lookup(w, 'e.bucket')})"
        )
        mis = docvec.select("y", "fx", m.alias("m")).where(F.expr("y * m <= 0"))
        deltas = (
            mis.select("y", F.explode("fx").alias("e"))
            .groupBy("e.bucket")
            .agg(
                F.expr("CAST(SUM(CAST(y AS DECIMAL(38,0)) * e.cnt) AS DECIMAL(38,0))").alias(
                    "dw"
                ),
                F.count(F.lit(1)).alias("n_rows"),
            )
        )
        record_plan(deltas, f"{label}:weight_delta", seen=plan_seen)
        n_mis = 0
        for row in deltas.collect():
            w[row["bucket"]] += int(row["dw"])
            if row["bucket"] == ZE01_BIAS:
                n_mis = int(row["n_rows"])
        # O(buckets) exact-integer driver folds mirror st{r} bit-for-bit
        w_l1 = sum(abs(v) for v in w.values())
        w_dot = sum(v * (b + 2) for b, v in w.items())
        rows.append((r, n_mis, ((nd - n_mis) * 10**6) // nd, w_l1, w_dot))
        w_hist.append(dict(w))
    docvec.unpersist()
    return rows, w_hist


def ze01_feats_from_partials(spark: SparkSession, doc_dirs: dict[str, str]) -> DataFrame:
    """ze01_feats assembled from the cached per-file design-matrix
    partials (functions/partials.py) instead of a corpus text parse —
    the fit-artifact miss path's input. Row-identical to
    :func:`ze01_feats` by construction (each partial IS
    ze01_design_matrix over its file; doc_ids never span files).
    Caller unpersists."""
    from spotify_tags_etl_spark.functions import partials as _pt

    gf = _pt.read_partial(spark, doc_dirs, "design")
    record_plan(gf, "ze01p:design_matrix")
    gf = gf.localCheckpoint(eager=True)
    bias = (
        gf.select("doc_id", "y")
        .distinct()
        .select(
            "doc_id", "y", F.lit(ZE01_BIAS).alias("bucket"), F.lit(1).alias("cnt")
        )
    )
    feats = gf.unionByName(bias)
    record_plan(feats, "ze01p:feats")
    feats = feats.localCheckpoint(eager=True)
    gf.unpersist()
    return feats


# ---------------------------------------------------------------------------
# ze01 fit artifact — publish-once weights read by every consumer
# ---------------------------------------------------------------------------

#: Bump when the FIT SEMANTICS change: a persisted artifact written by
#: an older fit definition must read as stale, never as the model.
ZE01_FIT_VERSION = 1

#: In-process memo (bench/sweep runs hit this after the first read).
#: Keyed by the same staleness key as the on-disk artifact, so a
#: fixture regen mid-process cannot serve stale weights either.
_FIT_MEMO: dict[str, tuple[int, list, list]] = {}


def _fit_key(sf_dir: str) -> dict:
    """Staleness key: corpus file identity (mtime_ns + size — the
    sweep-record discipline; r12 adds PER-FILE identity so an in-place
    part rewrite inside a directory-shaped corpus — which does not move
    the directory's own mtime — still reads as stale) + every constant
    the fit depends on."""
    import os

    from spotify_tags_etl_spark.functions import partials as _pt

    p = os.path.abspath(os.path.join(sf_dir, "documents.parquet"))
    st = os.stat(p)
    return {
        "corpus": p,
        "mtime_ns": st.st_mtime_ns,
        "size": st.st_size,
        "files": _pt.input_files(p),
        "buckets": ZE01_BUCKETS,
        "rounds": ZE01_ROUNDS,
        "target": ZE01_TARGET_LANG,
        "fit_version": ZE01_FIT_VERSION,
    }


def _artifact_dir(key: dict) -> str:
    import hashlib
    import json
    import os

    from spotify_tags_etl_spark.functions.artifactio import warehouse_root

    digest = hashlib.md5(
        json.dumps(key, sort_keys=True).encode()
    ).hexdigest()[:16]
    return os.path.join(warehouse_root(), "ze01_fit", digest)


def _publish_fit(
    key: dict, nd: int, curve: list, w_hist: list[dict[int, int]]
) -> None:
    """Write the fit artifact atomically: weights.parquet (the
    (round, bucket, w) weight TABLE, DECIMAL(38,0) — |w| crosses int64
    at the 100 TB design point) + meta.json (key, nd, learning curve).
    Built in a tmp dir and renamed whole, so concurrent sweep processes
    publishing the same key race benignly — with the winner VERIFIED
    on a lost race (artifactio's discipline; a corrupt/tampered target
    is removed and the rename retried rather than silently trusted).
    After publishing, sibling digests superseded by this key (same
    corpus path, older identity — the fixture-regen leak) are GC'd."""
    import decimal
    import json
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from spotify_tags_etl_spark.functions import artifactio

    target = _artifact_dir(key)
    artifactio.remove_unservable_target(target, key)
    os.makedirs(os.path.dirname(target), exist_ok=True)
    tmp = f"{target}.tmp.{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    rounds, buckets, weights = [], [], []
    for r, w in enumerate(w_hist, start=1):
        for b in sorted(w):
            rounds.append(r)
            buckets.append(b)
            weights.append(decimal.Decimal(w[b]))
    pq.write_table(
        pa.table(
            {
                "round": pa.array(rounds, pa.int64()),
                "bucket": pa.array(buckets, pa.int64()),
                "w": pa.array(weights, pa.decimal128(38, 0)),
            }
        ),
        os.path.join(tmp, "weights.parquet"),
    )
    with open(os.path.join(tmp, "meta.json"), "w") as fh:
        json.dump({"key": key, "nd": nd, "curve": curve}, fh, indent=1)
    artifactio.publish_atomic(tmp, target, key)
    # strict ordering (r11 ADVICE): remove only same-corpus siblings
    # whose identity is provably older (or an older fit version) — a
    # publisher holding a stale mtime view must never GC a newer one
    artifactio.gc_superseded(
        target,
        lambda k: isinstance(k, dict)
        and k.get("corpus") == key["corpus"]
        and (
            not isinstance(k.get("fit_version"), int)
            or k["fit_version"] < key["fit_version"]
            or (
                k["fit_version"] == key["fit_version"]
                and isinstance(k.get("mtime_ns"), int)
                and k["mtime_ns"] < key["mtime_ns"]
            )
        ),
    )


def _read_fit(key: dict) -> tuple[int, list, list[dict[int, int]]] | None:
    """Load (nd, curve, w_hist) from the artifact, or None when absent
    or stale (meta key mismatch — defense in depth on top of the
    mtime-keyed directory digest). Driver-side pyarrow read: the model
    is O(rounds x buckets) integers, the plan-feeding payload every
    consumer embeds as a literal CASE — never a data-plane table."""
    import json
    import os

    import pyarrow.parquet as pq

    target = _artifact_dir(key)
    meta_path = os.path.join(target, "meta.json")
    if not os.path.exists(meta_path):
        return None
    try:
        with open(meta_path) as fh:
            meta = json.load(fh)
        if meta.get("key") != key:
            return None
        tbl = pq.read_table(os.path.join(target, "weights.parquet"))
    except (OSError, ValueError):  # half-written / unreadable => refit
        return None
    w_hist: list[dict[int, int]] = [
        {} for _ in range(max(tbl.column("round").to_pylist(), default=0))
    ]
    for r, b, w in zip(
        tbl.column("round").to_pylist(),
        tbl.column("bucket").to_pylist(),
        tbl.column("w").to_pylist(),
    ):
        w_hist[r - 1][b] = int(w)
    curve = [tuple(row) for row in meta["curve"]]
    return meta["nd"], curve, w_hist


def ze01_fit_artifact(
    spark: SparkSession, sf_dir: str
) -> tuple[int, list[tuple[int, int, int, int, int]], list[dict[int, int]]]:
    """The shared-fit-artifact primitive (r9 verdict): consumers of the
    trained model (ze02/ze03/ze04/ze05, zg band) read the PUBLISHED
    weights instead of re-running the 6-round fit — the nightly batch
    fit publishes, everything downstream reads. Returns (nd, curve
    rows, per-round weight dicts), bit-identical to a live
    :func:`ze01_fit` (the fit is integer-deterministic, so hit and
    miss paths are indistinguishable in output — only in cost).

    Miss/stale path (artifact absent, corpus file changed, or
    ZE01_FIT_VERSION bumped): runs the live fit and publishes. The
    artifact lives in the gitignored spark-warehouse/ — machine-local
    derived state keyed on corpus mtime+size, the sweep-record
    staleness discipline."""
    import json

    key = _fit_key(sf_dir)
    memo_k = json.dumps(key, sort_keys=True)
    if memo_k in _FIT_MEMO:
        return _FIT_MEMO[memo_k]
    got = _read_fit(key)
    if got is None:
        # r12: the miss path fits from the cached per-file design
        # partials (shared with the flags/margins publishes — one
        # extraction pass per corpus state feeds all three artifacts)
        # instead of re-parsing the corpus text; bit-identical weights
        # (pinned), and ze01 itself keeps exercising the live parse
        from spotify_tags_etl_spark.functions import partials as _pt

        doc_dirs, _ = _pt.ensure_partials(spark, key["corpus"], "doc")
        feats = ze01_feats_from_partials(spark, doc_dirs)
        nd = feats.select("doc_id").distinct().count()
        curve, w_hist = _fit_from_feats(feats, nd, label="ze01p")
        feats.unpersist()
        _publish_fit(key, nd, curve, w_hist)
        got = (nd, curve, w_hist)
    _FIT_MEMO[memo_k] = got
    return got


# ---------------------------------------------------------------------------
# ze02 margins artifact — the scored corpus published once (r11)
# ---------------------------------------------------------------------------

#: Bump when the SCORING semantics change (feature extraction,
#: averaging rule, margin arithmetic) — an artifact scored by an older
#: definition must read as stale.
#: v2 (r12): partition-granular — the artifact keys on per-input-file
#: identity and the miss path scores PER FILE under the frozen
#: averaged weights (a file's margin rows are cached keyed on
#: (file identity, weights digest), so a corpus that grows under an
#: unchanged model re-scores only the new/changed files — the
#: production cadence where the model updates slower than the corpus).
ZE02_MARGINS_VERSION = 2

#: In-process memo: key -> artifact dir (same discipline as
#: zf01's _FLAGS_MEMO — keyed identically to the on-disk artifact).
_MARGINS_MEMO: dict[str, str] = {}


def _margins_key(sf_dir: str) -> dict:
    """Staleness key: the fit key (corpus identity + every fit
    constant — the averaged weights are a pure function of it) plus
    the scoring version and the PER-FILE corpus identity (v2: the
    partition-granular refresh unit — functions/partials.py)."""
    from spotify_tags_etl_spark.functions import partials as _pt

    key = dict(_fit_key(sf_dir))
    key["files"] = _pt.input_files(key["corpus"])
    key["margins_version"] = ZE02_MARGINS_VERSION
    key["partials_version"] = _pt.PARTIALS_VERSION
    return key


def weights_digest(wavg: dict[int, int]) -> str:
    """Digest of the averaged weight VALUES — the score-part cache key
    ingredient. Keying scores on the weights themselves (not the fit
    key) means a corpus change that leaves the model numerically
    identical — or any scoring under an explicitly frozen model —
    reuses every unchanged file's cached margins."""
    import hashlib
    import json

    return hashlib.md5(
        json.dumps({str(b): int(w) for b, w in wavg.items()}, sort_keys=True).encode()
    ).hexdigest()[:16]


def _score_part_dir(key: dict) -> str:
    import hashlib
    import json
    import os

    from spotify_tags_etl_spark.functions.artifactio import warehouse_root

    digest = hashlib.md5(
        json.dumps(key, sort_keys=True).encode()
    ).hexdigest()[:16]
    return os.path.join(warehouse_root(), "ze02_margin_parts", digest)


def ze02_score_parts(
    spark: SparkSession, corpus_path: str, wavg: dict[int, int]
) -> tuple[dict[str, str], list[str]]:
    """Per-input-file margin scoring under FROZEN averaged weights —
    the partition-granular unit of the v2 margins artifact.

    For each corpus file: ensure its stage partials (functions/
    partials.py — re-extracts only if the file changed), then score its
    design-matrix partial + bias rows with the weight CASE literal
    (ze01_feats/_margins spelled per file; doc_ids never span files, so
    the per-file groupBy equals the global one row-for-row) into a
    cached part keyed on (file identity, design constants, weights
    digest, ZE02_MARGINS_VERSION). Returns (relname -> part dir,
    relnames scored THIS call) — the incremental contract the
    one-changed-partition test pins: under an unchanged model, only
    changed files re-score."""
    import json
    import os

    from spotify_tags_etl_spark.functions import artifactio
    from spotify_tags_etl_spark.functions import partials as _pt

    doc_dirs, _ = _pt.ensure_partials(spark, corpus_path, "doc")
    files = _pt.input_files(corpus_path)
    wdig = weights_digest(wavg)
    design_constants = _pt.doc_constants()["design"]
    dirs: dict[str, str] = {}
    recomputed: list[str] = []
    for relname, ident in files.items():
        key = {
            "file": _pt.file_path(corpus_path, relname),
            "identity": dict(ident),
            "design": design_constants,
            "weights": wdig,
            "margins_version": ZE02_MARGINS_VERSION,
            "partials_version": _pt.PARTIALS_VERSION,
        }
        target = _score_part_dir(key)
        if artifactio.read_meta_key(target) != key:
            artifactio.remove_unservable_target(target, key)
            gf = spark.read.parquet(
                os.path.join(doc_dirs[relname], "design.parquet")
            )
            bias = (
                gf.select("doc_id", "y")
                .distinct()
                .select(
                    "doc_id",
                    "y",
                    F.lit(ZE01_BIAS).alias("bucket"),
                    F.lit(1).alias("cnt"),
                )
            )
            scored = _margins(gf.unionByName(bias), wavg)
            os.makedirs(os.path.dirname(target), exist_ok=True)
            tmp = f"{target}.tmp.{os.getpid()}"
            scored.write.mode("overwrite").parquet(os.path.join(tmp, "m.parquet"))
            with open(os.path.join(tmp, "meta.json"), "w") as fh:
                json.dump({"key": key}, fh, indent=1)
            artifactio.publish_atomic(tmp, target, key)
            # same-file/same-weights older identity, or an orphan whose
            # input file is gone (partials.ensure_partials' vacuum rule)
            artifactio.gc_superseded(
                target,
                lambda k, _p=key["file"], _i=ident, _w=wdig: isinstance(k, dict)
                and (
                    (
                        k.get("file") == _p
                        and k.get("weights") == _w
                        and _pt.identity_strictly_older(
                            {"f": k.get("identity")}, {"f": dict(_i)}
                        )
                    )
                    or (
                        isinstance(k.get("file"), str)
                        and not os.path.exists(k["file"])
                    )
                ),
            )
            recomputed.append(relname)
        dirs[relname] = target
    return dirs, recomputed


def _margins_artifact_dir(key: dict) -> str:
    import hashlib
    import json
    import os

    from spotify_tags_etl_spark.functions.artifactio import warehouse_root

    digest = hashlib.md5(
        json.dumps(key, sort_keys=True).encode()
    ).hexdigest()[:16]
    return os.path.join(warehouse_root(), "ze02_margins", digest)


def ze02_margins_artifact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scored corpus as a shared artifact — the r10 fit-artifact
    discipline taken one step further down the pipeline: the fit
    artifact amortized the TRAINING (O(rounds) corpus passes), but
    every consumer of the model still re-paid the corpus-sized
    SCORING pass (design matrix + margin aggregate) per process — by
    r11 that was eight consumers (zg03, zg04, zh01–zh06). The nightly
    scoring run publishes the (doc_id, y, m) margin table ONCE —
    DECIMAL(38,0) m, full precision (ze05's rule) — as spark-warehouse
    parquet keyed on the fit key + ZE02_MARGINS_VERSION, and consumers
    READ it (column pruning reaches the scan; corpus-sized, so it
    stays a Spark-side table end to end — zf01_flags_artifact's
    stance, not the fit's driver-side literal). Scoring is integer-
    deterministic, so hit and miss paths are bit-identical. ze02
    itself keeps exercising the live scoring path — the publisher's
    own correctness gate (zf01's rule).

    Miss/stale path (v2, partition-granular): reads the fit artifact
    (refitting only if that too is stale), then scores PER FILE via
    :func:`ze02_score_parts` — under an unchanged model only
    changed/new corpus files re-score; unchanged files' margin rows
    carry forward from the score-part cache — and publishes the merged
    (doc_id, y, m) table atomically with winner verification (the
    merged copy is O(#docs) x 3 columns, compact at any corpus scale;
    an extreme deployment could mount the parts directly instead).
    GC removes superseded same-corpus digests with strict identity
    ordering (r11 ADVICE: never delete a newer sibling)."""
    import json
    import os

    from spotify_tags_etl_spark.functions import artifactio
    from spotify_tags_etl_spark.functions import partials as _pt

    key = _margins_key(sf_dir)
    memo_k = json.dumps(key, sort_keys=True)
    # memo hit must re-verify the dir still exists: a same-process
    # republish for a reverted input identity may have GC'd it (ADVICE)
    if memo_k not in _MARGINS_MEMO or not os.path.isdir(_MARGINS_MEMO[memo_k]):
        target = _margins_artifact_dir(key)
        fresh = artifactio.read_meta_key(target) == key
        if not fresh:
            artifactio.remove_unservable_target(target, key)
            _nd, _curve, w_hist = ze01_fit_artifact(spark, sf_dir)
            wavg = {b: sum(w[b] for w in w_hist) for b in w_hist[0]}
            part_dirs, _ = ze02_score_parts(spark, key["corpus"], wavg)
            scored = spark.read.parquet(
                *[os.path.join(d, "m.parquet") for d in part_dirs.values()]
            )
            os.makedirs(os.path.dirname(target), exist_ok=True)
            tmp = f"{target}.tmp.{os.getpid()}"
            scored.write.mode("overwrite").parquet(
                os.path.join(tmp, "margins.parquet")
            )
            with open(os.path.join(tmp, "meta.json"), "w") as fh:
                json.dump({"key": key}, fh, indent=1)
            artifactio.publish_atomic(tmp, target, key)
            my_files = {"f/" + n: i for n, i in key["files"].items()}
            artifactio.gc_superseded(
                target,
                lambda k: isinstance(k, dict)
                and k.get("corpus") == key["corpus"]
                and (
                    not isinstance(k.get("margins_version"), int)
                    or k["margins_version"] < ZE02_MARGINS_VERSION
                    or (
                        k["margins_version"] == ZE02_MARGINS_VERSION
                        and _pt.identity_strictly_older(
                            {
                                "f/" + n: i
                                for n, i in (k.get("files") or {}).items()
                            },
                            my_files,
                        )
                    )
                ),
            )
        _MARGINS_MEMO[memo_k] = target
    return spark.read.parquet(
        os.path.join(_MARGINS_MEMO[memo_k], "margins.parquet")
    )


# ---------------------------------------------------------------------------
# ze02 — averaged-weight classifier gate (the APPLY step of ze01)
# ---------------------------------------------------------------------------


@register(
    "ze02_classifier_gate",
    oracle=_ze02_oracle_sql(),
    doc=(
        "The APPLY step of the in-engine quality classifier — the "
        "keep/drop gate a curation pipeline actually runs after "
        "training ze01's filter model. Scores every classifiable doc "
        "(>= 1 bigram) with the AVERAGED perceptron weights: the "
        "integer numerator sum_r w_r over the post-update iterates "
        "(sign(<x, sum_r w_r>) = sign(<x, avg_r w_r>), so the 1/R "
        "divisor drops and the gate stays integer-exact); averaging "
        "damps the batch perceptron's well-known terminal oscillation, "
        "so the deployed model is NOT the last iterate. Keep iff "
        "margin > 0 (ties drop — conservative gate). Emits the "
        "per-source census: n_docs, n_kept, kept_ppm, n_correct "
        "(prediction matches the actual lang label), acc_ppm — the "
        "per-source yield/accuracy table a data org reads before "
        "committing the gate. Shape: reads the PUBLISHED ze01 fit "
        "artifact (spark-warehouse weight table, staleness-pinned on "
        "corpus mtime+size; live refit only when absent/stale — the "
        "nightly fit publishes, consumers read), then ONE "
        "scoring aggregate over the checkpointed design matrix with "
        "the 65 averaged weights embedded as a literal CASE, joined "
        "to a (doc_id, source) corpus scan (pushdown pinned). Margins "
        "DECIMAL(38,0)/HUGEINT as in ze01. Oracle = ze01's unrolled "
        "CTE chain + the averaged-weight census."
    ),
    tags=("curation", "quality", "gate", "llm-pipeline"),
)
def ze02(spark: SparkSession, sf_dir: str) -> DataFrame:
    _nd, _curve, w_hist = ze01_fit_artifact(spark, sf_dir)
    wavg = {b: sum(w[b] for w in w_hist) for b in w_hist[0]}
    scored = _margins(ze01_feats(spark, sf_dir), wavg)
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    report = (
        scored.join(src, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("m") > 0, 1).otherwise(0)).alias("n_kept"),
            F.sum(
                F.when((F.col("m") > 0) == (F.col("y") == 1), 1).otherwise(0)
            ).alias("n_correct"),
        )
        .select(
            "source",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("n_kept").cast("bigint").alias("n_kept"),
            F.expr("n_kept * 1000000 DIV n_docs").alias("kept_ppm"),
            F.col("n_correct").cast("bigint").alias("n_correct"),
            F.expr("n_correct * 1000000 DIV n_docs").alias("acc_ppm"),
        )
        .orderBy("source")
    )
    record_plan(report, "ze02:gate_report")
    return report


# ---------------------------------------------------------------------------
# ze03 — streaming twin of ze02: score arriving docs with the trained gate
# ---------------------------------------------------------------------------


def streaming_classifier_gate(
    spark: SparkSession, sf_dir: str, stream_docs: DataFrame
) -> DataFrame:
    """Stream-static scoring (st04/zd07 discipline): the model is ze01's
    fit on the static corpus, FIXED before the stream starts — in
    production the nightly batch fit publishes weights and the ingest
    path scores against them. Each micro-batch reduces to ONE
    (source, n_docs, n_kept, n_correct) census partial (a doc's margin
    depends only on its own grams, so per-doc scoring is complete
    within the doc's arrival batch), SUM-merged into versioned parquet;
    counts merge associatively + commutatively, so the close-time
    report is micro-batch-layout invariant and equals batch ze02
    exactly. Per-trigger cost is O(batch + sources); the raw stream is
    never re-scanned and the engine keeps no state store. The
    versioning runs on the streaming/ops.py merged_stream skeleton."""
    from spotify_tags_etl_spark.streaming.ops import merged_stream

    _nd, _curve, w_hist = ze01_fit_artifact(spark, sf_dir)
    wavg = {b: sum(w[b] for w in w_hist) for b in w_hist[0]}

    def step(batch: DataFrame, prev: DataFrame | None) -> DataFrame:
        # r12 §14: fan the single-split batch out before the per-batch
        # design-matrix bigram explode
        batch = fan_out_scan(batch, "doc_id")
        gf = ze01_design_matrix(batch)
        bias = (
            gf.select("doc_id", "y")
            .distinct()
            .select(
                "doc_id",
                "y",
                F.lit(ZE01_BIAS).alias("bucket"),
                F.lit(1).alias("cnt"),
            )
        )
        part = (
            _margins(gf.unionByName(bias), wavg)
            .join(batch.select("doc_id", "source"), "doc_id")
            .groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum(F.when(F.col("m") > 0, 1).otherwise(0)).alias("n_kept"),
                F.sum(
                    F.when((F.col("m") > 0) == (F.col("y") == 1), 1).otherwise(0)
                ).alias("n_correct"),
            )
        )
        if prev is None:
            return part
        return (
            prev.unionByName(part)
            .groupBy("source")
            .agg(
                F.sum("n_docs").alias("n_docs"),
                F.sum("n_kept").alias("n_kept"),
                F.sum("n_correct").alias("n_correct"),
            )
        )

    docs = stream_docs.select("doc_id", "lang", "text", "source")
    with merged_stream(docs, "ze03:census_merge", step) as state:
        if state is None:
            return spark.createDataFrame(
                [],
                "source string, n_docs bigint, n_kept bigint, kept_ppm bigint,"
                " n_correct bigint, acc_ppm bigint",
            )
        # checkpoint only because the scratch root's removal deletes the
        # backing files; a production run leaves the census as the
        # parquet it already is
        census = state.localCheckpoint(eager=True)
    report = census.select(
        "source",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("n_kept").cast("bigint").alias("n_kept"),
        F.expr("n_kept * 1000000 DIV n_docs").alias("kept_ppm"),
        F.col("n_correct").cast("bigint").alias("n_correct"),
        F.expr("n_correct * 1000000 DIV n_docs").alias("acc_ppm"),
    ).orderBy("source")
    record_plan(report, "ze03:gate_report")
    return report


@register(
    "ze03_stream_classifier_gate",
    oracle=_ze02_oracle_sql(),
    doc=(
        "Streaming twin of ze02: the model comes from the PUBLISHED "
        "ze01 fit artifact, fixed BEFORE the stream starts "
        "(stream-static — the nightly fit publishes weights, ingest "
        "scores against them; live refit only when absent/stale); "
        "each micro-batch builds its own docs' design matrix, scores "
        "with the 65 averaged weights embedded as a literal CASE, and "
        "reduces to a (source, n_docs, n_kept, n_correct) census "
        "partial SUM-merged into versioned parquet (per-doc margins "
        "are complete within the arrival batch, counts merge "
        "associatively + commutatively => micro-batch-layout "
        "invariant, pinned under a 3-file split). Close-time ppm "
        "rollup = batch ze02 exactly; oracle: ze02's SQL verbatim. "
        "Per-trigger cost O(batch + sources); no engine state store, "
        "the raw stream is never re-scanned."
    ),
    tags=("streaming", "curation", "quality", "gate", "llm-pipeline"),
)
def ze03(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spotify_tags_etl_spark.streaming.ops import read_table_stream

    return streaming_classifier_gate(
        spark, sf_dir, read_table_stream(spark, sf_dir, "documents")
    )


# ---------------------------------------------------------------------------
# ze04 — equal-mass (decile) calibration report for the deployed gate
# ---------------------------------------------------------------------------


def _ze04_oracle_sql(rounds: int = ZE01_ROUNDS) -> str:
    avg_union = " UNION ALL ".join(
        f"SELECT * FROM w{r}" for r in range(1, rounds + 1)
    )
    return (
        "WITH "
        + ",\n    ".join(_ze01_ctes(rounds))
        + f""",
    wavg AS MATERIALIZED (
      SELECT bucket, SUM(w) AS w FROM ({avg_union}) GROUP BY bucket
    ),
    sm AS MATERIALIZED (
      SELECT f.doc_id, f.y, SUM(CAST(f.cnt AS HUGEINT) * w.w) AS m
      FROM feats f JOIN wavg w ON w.bucket = f.bucket
      GROUP BY f.doc_id, f.y
    ),
    rk AS MATERIALIZED (
      SELECT y, m,
             ROW_NUMBER() OVER (ORDER BY m, doc_id) AS r,
             (SELECT COUNT(*) FROM sm) AS n
      FROM sm
    )
    SELECT CAST((r - 1) * 10 // n AS BIGINT) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN m > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_tgt,
           CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS tgt_ppm
    FROM rk
    GROUP BY decile
    ORDER BY decile
    """
    )


@register(
    "ze04_gate_calibration",
    oracle=_ze04_oracle_sql(),
    doc=(
        "Calibration/reliability table for the deployed ze02 gate — "
        "the audit a curation org runs before trusting a filter "
        "model's scores as sampling weights: docs ranked by averaged "
        "margin (total order: margin, doc_id) and cut into 10 "
        "equal-mass bins; per decile the doc count, gate keeps "
        "(margin > 0), target-class count, and target ppm. A "
        "calibrated score shows tgt_ppm rising with the decile; a "
        "flat profile says margin magnitude carries no signal beyond "
        "the sign and the gate must stay hard, not soft-weighted. "
        "Shape (r11): reads the PUBLISHED ze02 margins artifact "
        "(the scored corpus as a pruned (doc_id, y, m) parquet scan; "
        "scoring runs once, at the artifact publish), then ranks the "
        "O(#docs) margin frame with scalerank.global_rank (range "
        "layout + O(#partitions) offsets — NO single-reducer window; "
        "the decile edge (r-1)*10 DIV n is plan-fed from the same "
        "statistics pass) and folds ONE banded aggregate. Oracle = "
        "ze02\'s CTE chain + the same rank/decile arithmetic."
    ),
    tags=("curation", "quality", "eval", "llm-pipeline"),
)
def ze04(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spotify_tags_etl_spark.operators.scalerank import global_rank

    # r11: read the published margins artifact instead of re-scoring
    margins = ze02_margins_artifact(spark, sf_dir)
    record_plan(margins, "ze04:margins")
    ranked, n = global_rank(
        margins, [F.col("m").asc(), F.col("doc_id").asc()], rank_col="r"
    )
    report = (
        ranked.select(
            F.expr(f"CAST((r - 1) * 10 DIV {n} AS BIGINT)").alias("decile"),
            "y",
            "m",
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("m") > 0, 1).otherwise(0)).alias("n_kept"),
            F.sum(F.when(F.col("y") == 1, 1).otherwise(0)).alias("n_tgt"),
        )
        .select(
            "decile",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("n_kept").cast("bigint").alias("n_kept"),
            F.col("n_tgt").cast("bigint").alias("n_tgt"),
            F.expr("n_tgt * 1000000 DIV n_docs").alias("tgt_ppm"),
        )
        .orderBy("decile")
    )
    record_plan(report, "ze04:calibration")
    return report


# ---------------------------------------------------------------------------
# ze05 — hard-example / label-noise export (confidently-wrong docs)
# ---------------------------------------------------------------------------

#: Export size — the relabel-queue page a human audits per run.
ZE05_TOPK = 20


def _ze05_oracle_sql(rounds: int = ZE01_ROUNDS) -> str:
    avg_union = " UNION ALL ".join(
        f"SELECT * FROM w{r}" for r in range(1, rounds + 1)
    )
    return (
        "WITH "
        + ",\n    ".join(_ze01_ctes(rounds))
        + f""",
    wavg AS MATERIALIZED (
      SELECT bucket, SUM(w) AS w FROM ({avg_union}) GROUP BY bucket
    ),
    sm AS MATERIALIZED (
      SELECT f.doc_id, f.y, SUM(CAST(f.cnt AS HUGEINT) * w.w) AS m
      FROM feats f JOIN wavg w ON w.bucket = f.bucket
      GROUP BY f.doc_id, f.y
    )
    SELECT s.doc_id,
           d.source,
           d.lang,
           CAST(s.y AS BIGINT) AS y,
           CAST(s.m AS BIGINT) AS margin
    FROM sm s JOIN documents d ON d.doc_id = s.doc_id
    WHERE (s.m > 0) <> (s.y = 1)
    ORDER BY ABS(s.m) DESC, s.doc_id ASC
    LIMIT {ZE05_TOPK}
    """
    )


@register(
    "ze05_hard_examples",
    oracle=_ze05_oracle_sql(),
    doc=(
        "Hard-example / label-noise export — the active-learning queue "
        "a curation org reviews after ze04's calibration audit: the "
        f"{ZE05_TOPK} documents the deployed averaged model gets wrong "
        "MOST CONFIDENTLY (prediction sign disagrees with the lang "
        "label, ranked by |margin| desc with doc_id tiebreak — a total "
        "order, so the export is deterministic). High-|margin| errors "
        "are where label noise and genuine hard examples concentrate; "
        "relabeling or upweighting this queue is the standard "
        "fit-audit-refit loop. Shape: reads the published ze01 fit "
        "artifact (live refit only when absent/stale), ONE "
        "margins-artifact read (r11: the scored corpus as a pruned "
        "(doc_id, y, m) parquet scan — scoring runs once, at the "
        "artifact publish), a (doc_id, source, lang) corpus join, and "
        "a TakeOrderedAndProject top-k (rank is filter-only, never a "
        "global sort). Filter + order run on the full-precision "
        "DECIMAL(38,0) margin (cnt*w crosses int64 at the 100 TB "
        "design point; an overflowing cast would NULL-blank the "
        "top-k under non-ANSI); the BIGINT margin column is strictly "
        "the export spelling. Oracle = ze02's CTE chain + the same "
        "filter/order."
    ),
    tags=("curation", "quality", "eval", "llm-pipeline"),
)
def ze05(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r11: read the published margins artifact instead of re-scoring
    scored = ze02_margins_artifact(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "lang")
    out = (
        scored.join(docs, "doc_id")
        .where((F.col("m") > 0) != (F.col("y") == 1))
        # Order + limit on the FULL-PRECISION DECIMAL(38,0) margin
        # (r9 advice): with ANSI off an overflowing BIGINT cast yields
        # NULL and would silently blank/reorder the top-k — and ze01's
        # own doc says cnt*w crosses int64 at the 100 TB design point.
        # The BIGINT spelling below is strictly the report column.
        .orderBy(F.abs(F.col("m")).desc(), F.col("doc_id").asc())
        .limit(ZE05_TOPK)
        .select(
            "doc_id",
            "source",
            "lang",
            F.col("y").cast("bigint").alias("y"),
            F.col("m").cast("bigint").alias("margin"),
        )
    )
    record_plan(out, "ze05:hard_examples")
    return out
