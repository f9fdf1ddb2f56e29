"""Partition-granular stage-partials cache for the curation artifacts.

The r11 artifacts (zf01 flags v2, ze02 margins) keyed staleness on
WHOLE-table identity — one (mtime_ns, size) per input parquet — so ANY
change to the corpus invalidated the whole digest and the next publish
re-parsed every byte of text. At 100 TB with a partitioned corpus the
right refresh unit is the input partition/file: re-extract only changed
files, carry the unchanged files' derived rows forward (the r11 verdict's
top scale item).

Soundness requires splitting the funnel into two layers:

* **Per-doc-local extraction** (this module): everything derivable from
  one document/vector alone — content hash (dd01), word-3-gram shingles
  + MinHash signature (dd02), decon 5-grams + split side (tz06), DSIR
  bigram-bucket counts (zb03/zf01_offtarget), zg06's four rule verdicts,
  ze01's hashed-bigram design matrix, and zc03's int8 quantization /
  random projection / sign-LSH bucket keys. These are cached per input
  file, keyed on (file identity + every extraction constant), and are
  the EXPENSIVE part — the text parse and explode passes.
* **Cross-partition merge** (zfops/zeops): group structure spans
  partitions — exact-hash groups, LSH buckets, semantic buckets, and the
  train x eval gram join are unions of per-partition partials, so the
  recompute unit for those verdicts is the BUCKET, not the doc (the
  documented merge rule). The merge re-runs at every publish but reads
  only the compact cached partials (signatures, gram postings, bucket
  keys), never the corpus text.

Extraction reuses the stage builders' own functions (word_shingles,
minhash_signatures, zb03_grams, ze01_design_matrix, zc03_project) on a
single-file read, so a partial row is bit-identical to the row the live
funnel derives — equality of the merged output with the live
:func:`zfops.zf01_flags` is pinned by tests/test_round12_additions.py.

Publish discipline is artifactio's: tmp dir + whole rename, winner
verified on a lost race, superseded sibling digests GC'd with STRICT
identity ordering (r11 ADVICE: a publisher with a stale mtime view must
never delete a strictly newer sibling — only siblings whose identity is
strictly older than the fresh key are removed).
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spotify_tags_etl_spark.sources.tpch import read_parquet

#: Bump when the PARTIAL SCHEMA or extraction semantics change — a
#: partial written by an older extraction must read as stale.
PARTIALS_VERSION = 1


# ---------------------------------------------------------------------------
# input-file enumeration
# ---------------------------------------------------------------------------


def input_files(path: str) -> dict[str, dict]:
    """Per-file identity map for a parquet input: ``{relname: {mtime_ns,
    size}}``. ``path`` may be a single ``.parquet`` file (the driver's
    fixture layout — the map degenerates to one entry) or a directory of
    part files (the partitioned-corpus layout this module exists for)."""
    path = os.path.abspath(path)
    if os.path.isfile(path):
        st = os.stat(path)
        return {os.path.basename(path): {"mtime_ns": st.st_mtime_ns, "size": st.st_size}}
    out: dict[str, dict] = {}
    for name in sorted(os.listdir(path)):
        if name.startswith(("_", ".")) or not name.endswith(".parquet"):
            continue
        st = os.stat(os.path.join(path, name))
        out[name] = {"mtime_ns": st.st_mtime_ns, "size": st.st_size}
    return out


def file_path(table_path: str, relname: str) -> str:
    """Absolute path of one enumerated input file."""
    table_path = os.path.abspath(table_path)
    if os.path.isfile(table_path):
        return table_path
    return os.path.join(table_path, relname)


def identity_strictly_older(sib: dict | None, fresh: dict) -> bool:
    """True iff ``sib``'s per-file identity map is strictly older than
    ``fresh``'s: same file-name set, every (mtime_ns, size) <= fresh's
    mtime_ns, and at least one strictly earlier mtime. Mixed or
    incomparable identities (different files, a NEWER mtime anywhere)
    are NOT older — the r11 ADVICE ordering rule that stops a publisher
    holding a stale view of the inputs from GCing a newer sibling."""
    if not isinstance(sib, dict) or set(sib) != set(fresh):
        return False
    older = False
    for name, ident in fresh.items():
        s = sib.get(name)
        if not isinstance(s, dict):
            return False
        if s.get("mtime_ns") is None or s["mtime_ns"] > ident["mtime_ns"]:
            return False
        if s["mtime_ns"] < ident["mtime_ns"]:
            older = True
        elif s.get("size") != ident["size"]:
            return False  # same mtime, different size: incomparable
    return older


def file_supersedes(key: dict, *same: str) -> Callable[[object], bool]:
    """GC rule of a per-input-file artifact keyed ``{"file", "identity",
    ...}``: a sibling is superseded when it is for the same file (and
    equal to ``key`` on every field in ``same``) with a strictly older
    identity, or when its input file no longer exists — test sandboxes
    and retired corpus drops leave orphans whose paths never recur, so
    nothing else would sweep them (single-machine scope, self-healing
    via recompute)."""

    def sup(k: object) -> bool:
        if not isinstance(k, dict):
            return False
        f = k.get("file")
        if (
            f == key["file"]
            and all(k.get(s) == key[s] for s in same)
            and identity_strictly_older({"f": k.get("identity")}, {"f": key["identity"]})
        ):
            return True
        return isinstance(f, str) and not os.path.exists(f)

    return sup


# ---------------------------------------------------------------------------
# extraction constants — every knob a cached partial row depends on
# ---------------------------------------------------------------------------


def doc_constants() -> dict:
    """Constants the per-DOC extraction depends on. Changing any of
    them must re-extract every file's partials (the staleness-key
    discipline _flags_key established; partial granularity narrows the
    INPUT side of the key, never the constant side)."""
    from spotify_tags_etl_spark.operators import dedup as _dd
    from spotify_tags_etl_spark.operators import zgops as _zg
    from spotify_tags_etl_spark.operators.training import DECON_NGRAM, SPLIT_EDGES
    from spotify_tags_etl_spark.operators.zaops import ZB03_BUCKETS, ZB03_TARGET_LANG
    from spotify_tags_etl_spark.operators.zeops import (
        ZE01_BIAS,
        ZE01_BUCKETS,
        ZE01_TARGET_LANG,
    )

    return {
        "minhash": {"n_hashes": _dd.N_HASHES, "band_rows": _dd.BAND_ROWS, "shingle_n": 3},
        "decon_ngram": DECON_NGRAM,
        "split_edges": [list(e) for e in SPLIT_EDGES],
        "imp_buckets": ZB03_BUCKETS,
        "imp_target": ZB03_TARGET_LANG,
        "rules": {
            "min_words": _zg.ZG06_MIN_WORDS,
            "max_words": _zg.ZG06_MAX_WORDS,
            "rep_ppm": _zg.ZG06_REP_PPM,
            "stopwords": list(_zg.ZG06_STOPWORDS),
        },
        "design": {
            "buckets": ZE01_BUCKETS,
            "bias": ZE01_BIAS,
            "target": ZE01_TARGET_LANG,
        },
        "partials_version": PARTIALS_VERSION,
    }


def emb_constants() -> dict:
    """Constants the per-VECTOR extraction depends on (zc03's
    quantize/project/sign-bucket shape)."""
    from spotify_tags_etl_spark.operators import zcops as _zc

    return {
        "semantic": {"bits": _zc.ZC03_BITS, "tables": _zc.ZC03_TABLES},
        "partials_version": PARTIALS_VERSION,
    }


# ---------------------------------------------------------------------------
# per-file partial publish / lookup
# ---------------------------------------------------------------------------


def _extract_doc_frames(spark: SparkSession, path: str) -> dict[str, DataFrame]:
    """All per-doc-local frames from ONE input file, each spelled by the
    stage's own builder so partial rows are bit-identical to live rows.

    Frames: ``docs`` (identity + rule verdicts + content hash + MinHash
    signature + shingle count — one row per doc), ``shingles`` (dd02's
    distinct word-3-grams), ``grams5`` (tz06's distinct decon grams),
    ``imp`` (zb03's per-doc bigram-bucket counts), ``design`` (ze01's
    hashed-bigram design matrix, no bias row)."""
    from spotify_tags_etl_spark.operators import zgops as _zg
    from spotify_tags_etl_spark.operators.dedup import (
        minhash_signatures,
        word_shingles,
    )
    from spotify_tags_etl_spark.operators.training import DECON_NGRAM
    from spotify_tags_etl_spark.operators.zaops import zb03_grams
    from spotify_tags_etl_spark.operators.zeops import ze01_design_matrix

    # ONE scan of the part file feeds all five frame extractions: a
    # part file is the bounded partition unit (100 TB shape: a few
    # hundred MB), so materializing it once beats five re-reads
    docs = read_parquet(spark, path).localCheckpoint(eager=True)
    stoplist = ", ".join(f"'{w}'" for w in _zg.ZG06_STOPWORDS)
    # zf01_flags(with_rules=True)'s rule spelling, verbatim
    base = (
        docs.select(
            "doc_id",
            "source",
            "n_chars",
            "lang",
            F.md5("text").alias("text_hash"),
            F.expr("CAST(size(split(text, ' ')) AS BIGINT)").alias("_nw"),
            F.expr("CAST(size(array_distinct(split(text, ' '))) AS BIGINT)").alias("_ndw"),
            F.expr(f"arrays_overlap(split(lower(text), ' '), array({stoplist}))").alias(
                "_has_stop"
            ),
        )
        .select(
            "doc_id",
            "source",
            "n_chars",
            "lang",
            "text_hash",
            F.expr(f"CASE WHEN _nw < {_zg.ZG06_MIN_WORDS} THEN 1 ELSE 0 END").alias("r_short"),
            F.expr(f"CASE WHEN _nw > {_zg.ZG06_MAX_WORDS} THEN 1 ELSE 0 END").alias("r_long"),
            F.expr(
                f"CASE WHEN (_nw - _ndw) * 1000000 > {_zg.ZG06_REP_PPM} * _nw"
                " THEN 1 ELSE 0 END"
            ).alias("r_rep"),
            F.expr("CASE WHEN _has_stop THEN 0 ELSE 1 END").alias("r_stop"),
        )
    )
    sh = word_shingles(docs)
    sig = minhash_signatures(sh).join(
        sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh")), "doc_id"
    )
    docs_frame = base.join(sig, "doc_id", "left")
    grams5 = (
        docs.where(F.size(F.split("text", " ")) >= DECON_NGRAM)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(split(text, ' ')) - {DECON_NGRAM - 1}),"
                    f" i -> concat_ws(' ', slice(split(text, ' '), i, {DECON_NGRAM})))"
                )
            ).alias("g"),
        )
        .distinct()
    )
    imp = zb03_grams(docs).groupBy("doc_id", "lang", "bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    design = ze01_design_matrix(docs)
    return {
        "docs": docs_frame,
        "shingles": sh,
        "grams5": grams5,
        "imp": imp,
        "design": design,
    }


def _extract_emb_frames(spark: SparkSession, path: str) -> dict[str, DataFrame]:
    """Per-vector frame from ONE embeddings file: zc03's quantized /
    projected / sign-bucketed corpus row (vec_id, q, na, bk1..bkT)."""
    from spotify_tags_etl_spark.operators.zcops import zc03_project

    emb = read_parquet(spark, path).select("vec_id", "embedding")
    return {"vecs": zc03_project(emb)}


_EXTRACTORS = {"doc": _extract_doc_frames, "emb": _extract_emb_frames}
_CONSTANTS = {"doc": doc_constants, "emb": emb_constants}


def ensure_partials(
    spark: SparkSession, table_path: str, kind: str
) -> tuple[dict[str, str], list[str]]:
    """Idempotently materialize per-file partials for ``table_path``.

    Returns ``(dirs, recomputed)``: ``dirs`` maps each input file's
    relname to its published partial directory; ``recomputed`` lists the
    relnames whose partials were extracted THIS call — the incremental
    contract (and the hook the one-changed-partition test pins): a file
    whose (identity, constants) digest already has a published partial
    is never re-read.

    GC: after publishing a file's partials, sibling digests for the SAME
    file path with STRICTLY OLDER identity are removed (strict ordering
    per the r11 ADVICE — a stale-view publisher never deletes a newer
    sibling; incomparable siblings are left for their own publisher)."""
    from spotify_tags_etl_spark.functions import artifactio

    constants = _CONSTANTS[kind]()
    dirs: dict[str, str] = {}
    recomputed: list[str] = []
    for relname, ident in input_files(table_path).items():
        path = file_path(table_path, relname)
        key = {"file": path, "identity": dict(ident), "constants": constants}

        def write(tmp: str) -> None:
            for fname, frame in _EXTRACTORS[kind](spark, path).items():
                frame.write.mode("overwrite").parquet(os.path.join(tmp, f"{fname}.parquet"))

        dirs[relname], built = artifactio.ensure(
            f"{kind}_partials", key, write, file_supersedes(key)
        )
        if built:
            recomputed.append(relname)
    return dirs, recomputed


def read_partial(spark: SparkSession, dirs: dict[str, str], frame: str) -> DataFrame:
    """Union-read one partial frame across every input file's published
    directory — the merge layer's input. One scan relation over N
    parquet paths; column pruning reaches it like any parquet scan."""
    return read_parquet(spark, *[os.path.join(d, f"{frame}.parquet") for d in dirs.values()])
