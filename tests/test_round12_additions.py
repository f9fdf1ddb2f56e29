"""Round-12 additions: partition-granular artifact refresh (the r11
verdict's top scale item) — per-input-file stage partials feeding the
v3 flags artifact and the v2 margins artifact, with the documented
bucket-granularity cross-partition merge; strict-ordering GC and
memo-dir verification (r11 ADVICE); plus the zi band (corpus release
manifest, gate operating-point sensitivity)."""

from __future__ import annotations

import json
import os
import shutil

import pyarrow.parquet as pq
import pytest


def _q(name: str):
    from spotify_tags_etl_spark.plans.registry import all_queries, resolve

    return all_queries()[resolve(name)]


# ---------------------------------------------------------------------------
# synthetic partitioned corpus — documents as a DIRECTORY of part files
# ---------------------------------------------------------------------------


def _split_parquet(src: str, dest_dir: str, n_parts: int) -> list[str]:
    """Split one fixture parquet into ``n_parts`` part files inside a
    directory-shaped table (the partitioned-corpus layout the
    incremental artifact layer exists for)."""
    tbl = pq.read_table(src)
    os.makedirs(dest_dir, exist_ok=True)
    step = (tbl.num_rows + n_parts - 1) // n_parts
    paths = []
    for i in range(n_parts):
        part = tbl.slice(i * step, step)
        p = os.path.join(dest_dir, f"part-{i:03d}.parquet")
        pq.write_table(part, p)
        paths.append(p)
    return paths


@pytest.fixture()
def parted_corpus(sf_dir, tmp_path):
    """A private sf_dir whose documents table is a 3-part directory and
    embeddings a 2-part directory — plus the part paths."""
    root = str(tmp_path / "sf")
    os.makedirs(root)
    doc_parts = _split_parquet(
        os.path.join(sf_dir, "documents.parquet"),
        os.path.join(root, "documents.parquet"),
        3,
    )
    emb_parts = _split_parquet(
        os.path.join(sf_dir, "embeddings.parquet"),
        os.path.join(root, "embeddings.parquet"),
        2,
    )
    return root, doc_parts, emb_parts


def _mutate_one_doc(part_path: str) -> None:
    """Rewrite one part file with one document's text changed — a real
    content change (new identity AND new derived rows), not just a
    metadata touch."""
    tbl = pq.read_table(part_path).to_pydict()
    tbl["text"][0] = tbl["text"][0] + " zzzmutation zzzmutation zzzmutation"
    import pyarrow as pa

    pq.write_table(pa.table(tbl), part_path)


# ---------------------------------------------------------------------------
# identity ordering — the r11 ADVICE GC rule
# ---------------------------------------------------------------------------


def test_identity_strictly_older_ordering():
    from spotify_tags_etl_spark.functions.partials import identity_strictly_older

    fresh = {"a": {"mtime_ns": 100, "size": 10}, "b": {"mtime_ns": 200, "size": 20}}
    older = {"a": {"mtime_ns": 90, "size": 10}, "b": {"mtime_ns": 200, "size": 20}}
    newer = {"a": {"mtime_ns": 100, "size": 10}, "b": {"mtime_ns": 300, "size": 20}}
    mixed = {"a": {"mtime_ns": 90, "size": 10}, "b": {"mtime_ns": 300, "size": 20}}
    assert identity_strictly_older(older, fresh)
    assert not identity_strictly_older(fresh, fresh)  # equal: not older
    assert not identity_strictly_older(newer, fresh)  # newer: never GC'd
    assert not identity_strictly_older(mixed, fresh)  # incomparable
    # same mtimes but a size mismatch: incomparable, left alone
    sz = {"a": {"mtime_ns": 100, "size": 99}, "b": {"mtime_ns": 200, "size": 20}}
    assert not identity_strictly_older(sz, fresh)
    # different file sets: a different logical input, never superseded
    other = {"a": {"mtime_ns": 90, "size": 10}}
    assert not identity_strictly_older(other, fresh)
    assert not identity_strictly_older(None, fresh)


def test_gc_never_removes_newer_sibling(spark, parted_corpus):
    """A publisher holding a STALE view of the inputs must not GC a
    strictly newer sibling digest (r11 ADVICE #1). Simulated by
    planting a sibling whose meta carries a newer per-file identity."""
    from spotify_tags_etl_spark.operators import zfops

    root, doc_parts, _ = parted_corpus
    zfops._FLAGS_MEMO.clear()
    zfops.zf01_flags_artifact(spark, root).count()
    key = zfops._flags_key(root)
    target = zfops._flags_artifact_dir(key)

    newer_key = json.loads(json.dumps(key))
    fname = os.path.basename(doc_parts[0])
    newer_key["inputs"]["documents"]["files"][fname]["mtime_ns"] += 10**9
    sibling = os.path.join(os.path.dirname(target), "feedfacefeedface")
    os.makedirs(sibling, exist_ok=True)
    with open(os.path.join(sibling, "meta.json"), "w") as fh:
        json.dump({"key": newer_key}, fh)

    # force a republish of the SAME (stale-view) key
    shutil.rmtree(target)
    zfops._FLAGS_MEMO.clear()
    zfops.zf01_flags_artifact(spark, root).count()
    assert os.path.exists(sibling), "newer sibling must survive stale-view GC"
    shutil.rmtree(sibling)

    # and a genuinely OLDER sibling is swept
    older_key = json.loads(json.dumps(key))
    older_key["inputs"]["documents"]["files"][fname]["mtime_ns"] -= 10**9
    os.makedirs(sibling, exist_ok=True)
    with open(os.path.join(sibling, "meta.json"), "w") as fh:
        json.dump({"key": older_key}, fh)
    shutil.rmtree(target)
    zfops._FLAGS_MEMO.clear()
    zfops.zf01_flags_artifact(spark, root).count()
    assert not os.path.exists(sibling), "older sibling must be GC'd"


def test_memo_hit_verifies_directory_exists(spark, parted_corpus):
    """r11 ADVICE #2: a memo hit whose directory was GC'd (input
    identity reverted mid-process) must fall through to recompute, not
    fail with FileNotFound."""
    from spotify_tags_etl_spark.operators import zeops, zfops

    root, _, _ = parted_corpus
    zfops._FLAGS_MEMO.clear()
    first = zfops.zf01_flags_artifact(spark, root).count()
    target = zfops._flags_artifact_dir(zfops._flags_key(root))
    shutil.rmtree(target)  # memo now points at a deleted dir
    assert zfops.zf01_flags_artifact(spark, root).count() == first

    zeops._MARGINS_MEMO.clear()
    first_m = zeops.ze02_margins_artifact(spark, root).count()
    mtarget = zeops._margins_artifact_dir(zeops._margins_key(root))
    shutil.rmtree(mtarget)
    assert zeops.ze02_margins_artifact(spark, root).count() == first_m


# ---------------------------------------------------------------------------
# partition-granular refresh — the one-changed-partition contract
# ---------------------------------------------------------------------------


def test_flags_artifact_multifile_equals_live(spark, parted_corpus):
    """On a directory-shaped corpus the partials-assembled artifact is
    bit-identical to the live text-path funnel — the cross-partition
    merge (hash groups, LSH buckets, gram joins, census) handles group
    structure spanning part files."""
    from spotify_tags_etl_spark.operators import zfops

    root, _, _ = parted_corpus
    zfops._FLAGS_MEMO.clear()
    got = sorted(
        tuple(r) for r in zfops.zf01_flags_artifact(spark, root).collect()
    )
    live = sorted(
        tuple(r)
        for r in zfops.zf01_flags(
            spark, root, extra_cols=("n_chars",), with_rules=True
        ).collect()
    )
    assert got == live


def test_one_changed_partition_reextracts_only_it(
    spark, parted_corpus, monkeypatch
):
    """THE incremental contract (r11 verdict #2): after one part file
    changes, the republish re-extracts partials for THAT file only —
    proven by counting actual extraction invocations — and the merged
    output still equals the live funnel on the modified corpus (the
    cross-partition merge re-ran over cached + fresh partials)."""
    from spotify_tags_etl_spark.functions import partials
    from spotify_tags_etl_spark.operators import zfops

    root, doc_parts, _ = parted_corpus
    zfops._FLAGS_MEMO.clear()
    zfops.zf01_flags_artifact(spark, root).count()  # publish everything

    extracted: list[str] = []
    real = partials._extract_doc_frames

    def counting(spark_, path):
        extracted.append(path)
        return real(spark_, path)

    monkeypatch.setattr(partials, "_extract_doc_frames", counting)
    monkeypatch.setitem(partials._EXTRACTORS, "doc", counting)

    changed = doc_parts[1]
    _mutate_one_doc(changed)
    zfops._FLAGS_MEMO.clear()
    got = sorted(
        tuple(r) for r in zfops.zf01_flags_artifact(spark, root).collect()
    )
    assert extracted == [changed], extracted  # ONLY the changed file re-read
    live = sorted(
        tuple(r)
        for r in zfops.zf01_flags(
            spark, root, extra_cols=("n_chars",), with_rules=True
        ).collect()
    )
    assert got == live  # merge re-ran correctly over cached + fresh partials


def test_unchanged_partials_carry_forward(spark, parted_corpus):
    """ensure_partials is idempotent and returns the carried-forward
    dirs: a second call recomputes nothing; after one file changes only
    that file's partial digest moves and the others' directories are
    byte-untouched (publish-time mtimes unchanged)."""
    from spotify_tags_etl_spark.functions import partials

    root, doc_parts, _ = parted_corpus
    doc_table = os.path.join(root, "documents.parquet")
    dirs1, rec1 = partials.ensure_partials(spark, doc_table, "doc")
    assert sorted(rec1) == sorted(os.path.basename(p) for p in doc_parts)
    dirs2, rec2 = partials.ensure_partials(spark, doc_table, "doc")
    assert rec2 == [] and dirs2 == dirs1

    mtimes = {n: os.stat(d).st_mtime_ns for n, d in dirs1.items()}
    changed = os.path.basename(doc_parts[2])
    _mutate_one_doc(doc_parts[2])
    dirs3, rec3 = partials.ensure_partials(spark, doc_table, "doc")
    assert rec3 == [changed]
    assert dirs3[changed] != dirs1[changed]  # new digest for the change
    for n in dirs1:
        if n != changed:
            assert dirs3[n] == dirs1[n]
            assert os.stat(dirs3[n]).st_mtime_ns == mtimes[n]  # untouched


def test_margins_score_parts_frozen_weights_incremental(spark, parted_corpus):
    """The margins-side contract: under FROZEN weights (the production
    cadence — model updates slower than the corpus), a one-file change
    re-scores only that file; the merged rows equal live scoring."""
    from spotify_tags_etl_spark.operators import zeops

    root, doc_parts, _ = parted_corpus
    doc_table = os.path.join(root, "documents.parquet")
    _nd, _c, w_hist = zeops.ze01_fit_artifact(spark, root)
    wavg = {b: sum(w[b] for w in w_hist) for b in w_hist[0]}

    dirs1, rec1 = zeops.ze02_score_parts(spark, doc_table, wavg)
    assert sorted(rec1) == sorted(os.path.basename(p) for p in doc_parts)
    _dirs, rec2 = zeops.ze02_score_parts(spark, doc_table, wavg)
    assert rec2 == []  # pure cache hit

    changed = os.path.basename(doc_parts[0])
    _mutate_one_doc(doc_parts[0])
    dirs3, rec3 = zeops.ze02_score_parts(spark, doc_table, wavg)
    assert rec3 == [changed]  # ONLY the changed file re-scored

    merged = sorted(
        (r.doc_id, r.y, int(r.m))
        for r in spark.read.parquet(
            *[os.path.join(d, "m.parquet") for d in dirs3.values()]
        ).collect()
    )
    feats = zeops.ze01_feats(spark, root)
    live = sorted(
        (r.doc_id, r.y, int(r.m))
        for r in zeops._margins(feats, wavg).collect()
    )
    feats.unpersist()
    assert merged == live

    # a different model never serves another model's cached scores
    wavg2 = dict(wavg)
    some_bucket = next(iter(wavg2))
    wavg2[some_bucket] = wavg2[some_bucket] + 1
    _dirs2, rec4 = zeops.ze02_score_parts(spark, doc_table, wavg2)
    assert sorted(rec4) == sorted(os.path.basename(p) for p in doc_parts)


def test_partials_key_covers_constants(monkeypatch):
    """Partial digests must move when any EXTRACTION constant moves —
    the per-file analog of the r11 whole-key coverage test."""
    from spotify_tags_etl_spark.functions import partials
    from spotify_tags_etl_spark.operators import dedup as dd
    from spotify_tags_etl_spark.operators import zcops as zc
    from spotify_tags_etl_spark.operators import zgops as zg

    base_doc = partials.doc_constants()
    base_emb = partials.emb_constants()
    for mod, attr, val, fn in [
        (dd, "N_HASHES", 16, partials.doc_constants),
        (zg, "ZG06_MIN_WORDS", 99, partials.doc_constants),
        (zc, "ZC03_BITS", 8, partials.emb_constants),
        (zc, "ZC03_TABLES", 8, partials.emb_constants),
    ]:
        monkeypatch.setattr(mod, attr, val)
        base = base_doc if fn is partials.doc_constants else base_emb
        assert fn() != base, f"{attr} not keyed"
        monkeypatch.undo()


def test_flags_key_is_per_file(parted_corpus):
    """The v3 staleness key carries one identity per part file, and a
    touch to ONE file moves the key (whole-table mtime kept lying low
    in v2: a dir's mtime does not move when a contained file's content
    is rewritten in place)."""
    from spotify_tags_etl_spark.operators import zfops

    root, doc_parts, emb_parts = parted_corpus
    key = zfops._flags_key(root)
    dfiles = key["inputs"]["documents"]["files"]
    assert len(dfiles) == 3 and len(key["inputs"]["embeddings"]["files"]) == 2
    st = os.stat(doc_parts[1])
    os.utime(doc_parts[1], ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert zfops._flags_key(root) != key


# ---------------------------------------------------------------------------
# zi01 — release manifest: reconciliation, conservation, digest stability
# ---------------------------------------------------------------------------


def test_zi01_reconciles_with_zh_band(spark, sf_dir):
    """The manifest's numbers are the zh band's, exactly: system census
    = zh01 collapsed corpus-wide, window/token totals = zh02's rollup,
    shard count = zh03's writer fan-out."""
    row = _q("zi01_release_manifest")(spark, sf_dir).collect()[0]
    zh01 = _q("zh01_unified_keepset")(spark, sf_dir).collect()
    assert row.n_docs == sum(r.n_docs for r in zh01)
    assert row.n_kept == sum(r.n_kept for r in zh01)
    assert row.d_rules == sum(
        r.drop_short + r.drop_long + r.drop_rep + r.drop_stop for r in zh01
    )
    assert row.d_funnel == sum(
        r.drop_exact + r.drop_near + r.drop_sem + r.drop_contam
        + r.drop_offtarget
        for r in zh01
    )
    assert row.d_gate == sum(r.drop_gate for r in zh01)
    assert row.conservation_ok == 1

    zh02 = _q("zh02_unified_pack_manifest")(spark, sf_dir).collect()
    assert row.kept_tokens == sum(r.kept_tokens for r in zh02)
    assert row.n_windows == sum(r.n_windows for r in zh02)
    assert row.n_bands == sum(1 for r in zh02 if r.n_kept > 0)

    zh03 = _q("zh03_unified_shard_plan")(spark, sf_dir).collect()
    assert row.n_shards == len(zh03)


def test_zi01_digest_stability(spark, sf_dir):
    """Same inputs => same manifest digest (the reproducibility stamp),
    and the digest IS md5 of the documented canonical rendering."""
    import hashlib

    r1 = _q("zi01_release_manifest")(spark, sf_dir).collect()[0]
    r2 = _q("zi01_release_manifest")(spark, sf_dir).collect()[0]
    assert r1 == r2
    from spotify_tags_etl_spark.operators.ziops import _ZI01_FIELDS, ZI01_VERSION

    preimage = f"v{ZI01_VERSION}|" + "|".join(
        str(getattr(r1, f)) for f in _ZI01_FIELDS
    )
    assert r1.manifest_digest == hashlib.md5(preimage.encode()).hexdigest()


def test_release_record_carries_artifact_identities(spark, sf_dir):
    """The full release record = the SQL-checked manifest row + the
    three machine-local artifact staleness digests, all of which exist
    on disk after a publish."""
    from spotify_tags_etl_spark.operators import zeops, zfops
    from spotify_tags_etl_spark.operators.ziops import release_record

    rec = release_record(spark, sf_dir)
    assert rec["manifest"]["conservation_ok"] == 1
    assert set(rec["artifacts"]) == {"flags", "fit", "margins"}
    assert rec["artifacts"]["flags"] == os.path.basename(
        zfops._flags_artifact_dir(zfops._flags_key(sf_dir))
    )
    assert os.path.isdir(zfops._flags_artifact_dir(zfops._flags_key(sf_dir)))
    assert os.path.isdir(zeops._artifact_dir(zeops._fit_key(sf_dir)))
    assert os.path.isdir(
        zeops._margins_artifact_dir(zeops._margins_key(sf_dir))
    )
    # reproducible: a second record is byte-equal
    assert release_record(spark, sf_dir) == rec


# ---------------------------------------------------------------------------
# zi02 — gate sensitivity: deployed-point pin, conservation, monotonicity
# ---------------------------------------------------------------------------


def test_zi02_deployed_point_reproduces_zh01(spark, sf_dir):
    """The k = ZH_GATE_DECILE row IS the deployed operating point: its
    keep count and gate displacement equal zh01's census (the pin that
    turns the constant into evidence)."""
    from spotify_tags_etl_spark.operators.zhops import ZH_GATE_DECILE

    rows = {r.k: r for r in _q("zi02_gate_sensitivity")(spark, sf_dir).collect()}
    zh01 = _q("zh01_unified_keepset")(spark, sf_dir).collect()
    deployed = rows[ZH_GATE_DECILE]
    assert deployed.n_kept == sum(r.n_kept for r in zh01)
    assert deployed.d_gate == sum(r.drop_gate for r in zh01)


def test_zi02_structure(spark, sf_dir):
    """Nine rows; per-row mass conservation; d_rules/d_funnel are
    k-invariant (they precede the gate); keep mass is nonincreasing in
    k (a higher edge can only cut more)."""
    rows = sorted(
        _q("zi02_gate_sensitivity")(spark, sf_dir).collect(),
        key=lambda r: r.k,
    )
    assert [r.k for r in rows] == list(range(1, 10))
    assert len({r.d_rules for r in rows}) == 1
    assert len({r.d_funnel for r in rows}) == 1
    for r in rows:
        assert r.n_docs == r.n_kept + r.d_rules + r.d_funnel + r.d_gate
        assert r.kept_ppm == r.n_kept * 10**6 // r.n_docs
    kept = [r.n_kept for r in rows]
    assert all(a >= b for a, b in zip(kept, kept[1:]))


# ---------------------------------------------------------------------------
# zf02/zh04 census log — append-only increments + periodic compaction
# ---------------------------------------------------------------------------


def test_compacted_upto_parsing():
    from spotify_tags_etl_spark.operators.zfops import _compacted_upto

    assert _compacted_upto([]) == -1
    assert _compacted_upto(["/tmp/x/compact_v7"]) == 7
    assert _compacted_upto(["/tmp/x/compact_v12", "/tmp/x/compact_v7"]) == 12
    assert _compacted_upto(["/tmp/x/state_v3"]) == -1  # legacy name: no horizon


def test_census_log_compaction(spark, sf_dir, tmp_path_factory, monkeypatch):
    """r11 verdict #3: per-trigger census writes are the batch-LOCAL
    increment only (O(batch) bytes — pinned by comparing each
    increment's exact-census rows to ITS batch's distinct groups, never
    cumulative), increments compact every K triggers through the
    versioned pointer, and the merge-on-read resolve equals the batch
    census exactly."""
    import time

    from pyspark.sql import functions as F

    from spotify_tags_etl_spark.operators import zfops
    from spotify_tags_etl_spark.sources.tpch import load_table

    docs = load_table(spark, sf_dir, "documents")
    root = str(tmp_path_factory.mktemp("census_log_stream"))
    for i in range(5):
        p = os.path.join(root, f"part-{i}.parquet")
        docs.where(docs.doc_id % 5 == i).select(
            "doc_id", "lang", "text", "source"
        ).toPandas().to_parquet(p, index=False)
        now = time.time() + i
        os.utime(p, (now, now))
    schema = spark.read.parquet(root).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(root)
    )
    monkeypatch.setattr(zfops, "ZF02_COMPACT_EVERY", 2)
    r = str(tmp_path_factory.mktemp("census_log_scratch"))
    _stores, state_parts = zfops.run_lineage_ingest(
        spark, stream, r, label="zf02ct"
    )
    try:
        # K=2 over 5 triggers: compactions at b1 (covers 0-1) and b3
        # (covers 0-3); b4 is the residual increment past the horizon
        assert "compact_v3" in state_parts[0]
        assert [os.path.basename(p) for p in state_parts[1:]] == ["b4"]

        # O(batch) pin: each increment carries exactly ITS batch's
        # distinct (hash, source) groups — never the accumulated state
        for i in range(5):
            inc = spark.read.parquet(os.path.join(r, "census", f"b{i}"))
            got = inc.where("kind = 'exact'").count()
            want = (
                docs.where(docs.doc_id % 5 == i)
                .groupBy(F.md5("text"), "source")
                .count()
                .count()
            )
            assert got == want, f"batch {i}: increment not batch-local"

        # merge-on-read resolve == the batch census, bit-for-bit
        state = zfops.resolve_census_state(spark, state_parts)
        got_exact = sorted(
            (r_.k1, r_.k2, r_.n1, r_.m)
            for r_ in state.where("kind = 'exact'").collect()
        )
        want_exact = sorted(
            (r_.k1, r_.k2, r_.n1, r_.m)
            for r_ in docs.groupBy(
                F.md5("text").alias("k1"), F.col("source").alias("k2")
            )
            .agg(
                F.count(F.lit(1)).alias("n1"),
                F.min("doc_id").alias("m"),
            )
            .collect()
        )
        assert got_exact == want_exact
    finally:
        shutil.rmtree(r, ignore_errors=True)


def test_zf02_report_unchanged_by_compaction(
    spark, sf_dir, tmp_path_factory, monkeypatch
):
    """The close report is invariant to the compaction cadence: K=1
    (compact every trigger), K=2, and the default all equal batch
    zf01 on a 3-file split."""
    import time

    from spotify_tags_etl_spark.operators import zfops
    from spotify_tags_etl_spark.sources.tpch import load_table

    docs = load_table(spark, sf_dir, "documents")
    root = str(tmp_path_factory.mktemp("compact_cadence_stream"))
    for i in range(3):
        p = os.path.join(root, f"part-{i}.parquet")
        docs.where(docs.doc_id % 3 == i).select(
            "doc_id", "lang", "text", "source"
        ).toPandas().to_parquet(p, index=False)
        now = time.time() + i
        os.utime(p, (now, now))
    schema = spark.read.parquet(root).schema

    def run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .option("latestFirst", "false")
            .parquet(root)
        )
        return [
            tuple(r)
            for r in zfops.streaming_curation_lineage(
                spark, sf_dir, stream
            ).collect()
        ]

    batch = [
        tuple(r) for r in _q("zf01_curation_lineage")(spark, sf_dir).collect()
    ]
    for k in (1, 2):
        monkeypatch.setattr(zfops, "ZF02_COMPACT_EVERY", k)
        assert run() == batch, f"cadence K={k} changed the close report"


# ---------------------------------------------------------------------------
# ze01 fit from partials — the third artifact joins the shared extraction
# ---------------------------------------------------------------------------


def test_fit_artifact_from_partials_equals_live(spark, parted_corpus):
    """The fit-artifact miss path now fits from the cached design
    partials (one extraction pass per corpus state feeds flags,
    margins AND the fit); the weights, curve, and doc count must be
    bit-identical to the live corpus-parse fit."""
    from spotify_tags_etl_spark.operators import zeops

    root, _, _ = parted_corpus
    zeops._FIT_MEMO.clear()
    nd_a, curve_a, hist_a = zeops.ze01_fit_artifact(spark, root)
    feats, nd_l, curve_l, hist_l = zeops.ze01_fit(spark, root)
    feats.unpersist()
    assert (nd_a, curve_a, hist_a) == (nd_l, curve_l, hist_l)


def test_census_log_replay_after_committed_compaction(
    spark, tmp_path, monkeypatch
):
    """The horizon rule under foreachBatch re-delivery: a batch
    replayed AFTER its compaction committed must neither double-merge
    (its id sits at the horizon) nor re-fire the fold; a replay after
    a FAILED commit recomputes the identical fold. Driven through the
    extracted census_log_step with synthetic census rows."""
    import os

    from pyspark.sql import functions as F

    from spotify_tags_etl_spark.operators import zfops

    monkeypatch.setattr(zfops, "ZF02_COMPACT_EVERY", 2)
    root = str(tmp_path)
    incr: list = []
    state_cur: list = []

    def rows(pairs):
        return spark.createDataFrame(
            [("exact", k, "s", n, None, m) for k, n, m in pairs],
            "kind string, k1 string, k2 string, n1 long, n2 long, m long",
        )

    def resolve():
        parts = (list(state_cur[:1]) if state_cur else []) + [
            p for i, p in incr if i > zfops._compacted_upto(state_cur)
        ]
        return {
            (r.k1, r.n1, r.m)
            for r in zfops.resolve_census_state(spark, parts).collect()
        }

    step = zfops.census_log_step
    step(spark, root, incr, state_cur, rows([("a", 1, 10)]), 0, "ct")
    step(spark, root, incr, state_cur, rows([("a", 2, 5)]), 1, "ct")
    assert state_cur and "compact_v1" in state_cur[0]  # K=2 fold fired
    assert resolve() == {("a", 3, 5)}

    # replay batch 1 AFTER the committed compaction: id <= horizon
    step(spark, root, incr, state_cur, rows([("a", 2, 5)]), 1, "ct")
    assert "compact_v1" in state_cur[0]  # no re-fold
    assert resolve() == {("a", 3, 5)}  # no double count

    # normal progress chains past the replay
    step(spark, root, incr, state_cur, rows([("b", 7, 2)]), 2, "ct")
    assert resolve() == {("a", 3, 5), ("b", 7, 2)}
    step(spark, root, incr, state_cur, rows([("a", 1, 1)]), 3, "ct")
    assert "compact_v3" in state_cur[0]
    assert resolve() == {("a", 4, 1), ("b", 7, 2)}

    # replay of the SECOND compaction's batch after a SIMULATED failed
    # commit: roll the pointer back to the pre-attempt view and re-step
    failed_cur = [state_cur[1]] if len(state_cur) > 1 else []
    step(spark, root, incr, failed_cur, rows([("a", 1, 1)]), 3, "ct")
    assert "compact_v3" in failed_cur[0]  # fold recomputed + committed
    parts = [failed_cur[0]] + [
        p for i, p in incr if i > zfops._compacted_upto(failed_cur)
    ]
    got = {
        (r.k1, r.n1, r.m)
        for r in zfops.resolve_census_state(spark, parts).collect()
    }
    assert got == {("a", 4, 1), ("b", 7, 2)}


def test_orphaned_partials_are_vacuumed(spark, sf_dir, tmp_path):
    """Partials for a corpus that no longer exists (test sandboxes,
    retired drops) are swept at the next publish — their file paths
    never recur, so nothing else would GC them."""
    from spotify_tags_etl_spark.functions import partials

    # a corpus that will disappear
    gone_root = str(tmp_path / "gone")
    os.makedirs(gone_root)
    _split_parquet(
        os.path.join(sf_dir, "documents.parquet"),
        os.path.join(gone_root, "documents.parquet"),
        1,
    )
    gone_dirs, _ = partials.ensure_partials(
        spark, os.path.join(gone_root, "documents.parquet"), "doc"
    )
    assert all(os.path.isdir(d) for d in gone_dirs.values())
    shutil.rmtree(gone_root)

    # a publish for a DIFFERENT corpus sweeps the orphans
    live_root = str(tmp_path / "live")
    os.makedirs(live_root)
    _split_parquet(
        os.path.join(sf_dir, "documents.parquet"),
        os.path.join(live_root, "documents.parquet"),
        1,
    )
    live_dirs, _ = partials.ensure_partials(
        spark, os.path.join(live_root, "documents.parquet"), "doc"
    )
    assert all(os.path.isdir(d) for d in live_dirs.values())
    assert not any(os.path.isdir(d) for d in gone_dirs.values())


# ---------------------------------------------------------------------------
# zf01p merge path — loop-stage plan + scan pins (the publisher's v3 shape)
# ---------------------------------------------------------------------------

#: The partials-merge publish path's stage plans. vs the live funnel
#: (ZF01_EXPECTED_LOOP_PLANS in test_round9_additions): near_drops is
#: one exchange CHEAPER (signatures come from the checkpointed docs
#: partial instead of a shingle re-aggregation), and no stage re-reads
#: document text — the partial scans below are the proof.
ZF01P_EXPECTED_LOOP_PLANS = {
    "zf01p:doc_partials": [{}],
    "zf01p:projected_corpus": [{}],
    "zf01p:imp_partials": [{}],
    "zf01p:importance_census": [{"exchanges": 1}],
    "zf01p:exact_keeps": [{"exchanges": 1}],
    "zf01p:near_drops": [{"exchanges": 4}],
    # r13: exact-verify dot as one MapInArrow numpy pass (vecexpr.pair_dot_int64)
    "zf01p:sem_drops": [{"exchanges": 2, "map_in_arrow": 1}],
    "zf01p:contam": [{"exchanges": 2}],
    "zf01p:offtarget": [{"exchanges": 1}],
    "zf01p:lineage_flags": [{"exchanges": 4, "sort_merge_joins": 3}],
}

#: Pushdown proof: every stage reads ONLY its pruned partial columns —
#: never `text` (the live path's scans are "doc_id,text" x 6 for the
#: near stage alone; here the shingle partial serves sizes + both pair
#: sides and the exact/rule columns ride the one checkpointed docs
#: partial materialization).
ZF01P_EXPECTED_SCANS = {
    "zf01p:doc_partials": [
        [
            "doc_id,lang,m0,m1,m2,m3,m4,m5,m6,m7,n_chars,n_sh,"
            "r_long,r_rep,r_short,r_stop,source,text_hash"
        ]
    ],
    "zf01p:projected_corpus": [["bk1,bk2,bk3,bk4,na,q,vec_id"]],
    "zf01p:imp_partials": [["bucket,cnt,doc_id,lang"]],
    "zf01p:importance_census": [[]],
    "zf01p:exact_keeps": [[]],
    "zf01p:near_drops": [["doc_id", "doc_id", "doc_id,s", "doc_id,s"]],
    "zf01p:sem_drops": [[]],
    "zf01p:contam": [["doc_id,g", "doc_id,g"]],
    "zf01p:offtarget": [[]],
    "zf01p:lineage_flags": [[]],
}


def test_zf01p_merge_path_pins(spark, sf_dir, tmp_path):
    from spotify_tags_etl_spark.operators import zfops
    from spotify_tags_etl_spark.plans import planmetrics as pm

    root = str(tmp_path)
    for t in ("documents", "embeddings"):
        shutil.copy(
            os.path.join(sf_dir, f"{t}.parquet"),
            os.path.join(root, f"{t}.parquet"),
        )
    zfops._FLAGS_MEMO.clear()
    pm.LOOP_PLAN_LOG.clear()
    pm.SCAN_LOG.clear()
    zfops.zf01_flags_artifact(spark, root).count()  # forced republish
    observed = {
        l: v
        for l, v in pm.observed_loop_plans().items()
        if l.startswith("zf01p")
    }
    assert observed == ZF01P_EXPECTED_LOOP_PLANS
    scans: dict[str, set] = {}
    for label, sc in pm.SCAN_LOG:
        if label.startswith("zf01p"):
            scans.setdefault(label, set()).add(sc)
    observed_scans = {l: sorted(list(t) for t in v) for l, v in scans.items()}
    assert observed_scans == ZF01P_EXPECTED_SCANS


def test_margins_artifact_end_to_end_carry_forward(spark, parted_corpus):
    """The REAL artifact path, incrementally: an mtime-only touch to
    one part file re-keys the corpus (stale artifact), the refit
    produces numerically identical weights (content unchanged), and
    the republish re-scores ONLY the touched file — every other file's
    margin rows carry forward from the score-part cache."""
    from spotify_tags_etl_spark.operators import zeops

    root, doc_parts, _ = parted_corpus
    zeops._FIT_MEMO.clear()
    zeops._MARGINS_MEMO.clear()
    first = sorted(
        (r.doc_id, r.y, int(r.m))
        for r in zeops.ze02_margins_artifact(spark, root).collect()
    )

    p = doc_parts[1]
    st = os.stat(p)
    os.utime(p, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    part_dirs_before = set()
    root_parts = os.path.join(
        os.path.dirname(os.path.dirname(zeops._margins_artifact_dir(
            zeops._margins_key(root)))), "ze02_margin_parts")
    if os.path.isdir(root_parts):
        part_dirs_before = set(os.listdir(root_parts))

    zeops._FIT_MEMO.clear()
    zeops._MARGINS_MEMO.clear()
    got = sorted(
        (r.doc_id, r.y, int(r.m))
        for r in zeops.ze02_margins_artifact(spark, root).collect()
    )
    assert got == first  # content unchanged => identical margins
    # exactly ONE new score-part digest: the touched file under the
    # (numerically identical) weights digest
    part_dirs_after = set(os.listdir(root_parts))
    new_parts = part_dirs_after - part_dirs_before
    assert len(new_parts) == 1, (part_dirs_before, part_dirs_after)


# ---------------------------------------------------------------------------
# r12 OPTIMIZATION round: process-scoped artifact warehouse
# ---------------------------------------------------------------------------


def test_warehouse_root_is_process_scoped(monkeypatch):
    """The derived-artifact root must not persist work across runs: the
    default root is a per-process temp dir OUTSIDE the repo (a fresh
    bench/oracle invocation recomputes from the parquet inputs), stable
    within the process (consumers share the publisher's digests), and
    overridable via SPARK_GRAFT_WAREHOUSE for deployments that want a
    durable machine-local cache."""
    from spotify_tags_etl_spark.functions import artifactio
    from spotify_tags_etl_spark.functions.partials import _partials_root
    from spotify_tags_etl_spark.operators import zeops, zfops

    monkeypatch.delenv("SPARK_GRAFT_WAREHOUSE", raising=False)
    root = artifactio.warehouse_root()
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    assert os.path.isdir(root)
    assert not os.path.abspath(root).startswith(repo + os.sep)
    assert artifactio.warehouse_root() == root  # stable within process
    # every artifact family resolves beneath the shared root
    key = {"probe": 1}
    assert zfops._flags_artifact_dir(key).startswith(root + os.sep)
    assert zeops._artifact_dir(key).startswith(root + os.sep)
    assert zeops._margins_artifact_dir(key).startswith(root + os.sep)
    assert zeops._score_part_dir(key).startswith(root + os.sep)
    assert _partials_root("docs").startswith(root + os.sep)
    # env override wins (tests pinning cross-process behavior use this)
    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE", "/tmp/wh_override_probe")
    assert artifactio.warehouse_root() == "/tmp/wh_override_probe"


# ---------------------------------------------------------------------------
# r12 §14: scale-adaptive scan fan-out
# ---------------------------------------------------------------------------


def test_fan_out_scan_is_scale_adaptive(spark):
    """fan_out_scan must (a) leave an already-parallel frame untouched
    (the production-scale contract: no payload shuffle at >= cores
    splits), (b) widen a single-split frame by its byte size / the
    per-task floor, and (c) never change the rows."""
    from spotify_tags_etl_spark.functions import concurrency as cc

    cores = spark.sparkContext.defaultParallelism
    wide = spark.range(0, 1000).withColumnRenamed("id", "doc_id").repartition(cores)
    assert cc.fan_out_scan(wide, "doc_id") is wide  # identity, no new plan

    narrow = spark.range(0, 1000).withColumnRenamed("id", "doc_id").coalesce(1)
    fanned = cc.fan_out_scan(narrow, "doc_id")
    got = fanned.rdd.getNumPartitions()
    size = int(narrow._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    want = min(cores, max(2, -(-size // cc.FAN_TASK_BYTES)))
    assert got == want
    assert sorted(r.doc_id for r in fanned.collect()) == list(range(1000))
