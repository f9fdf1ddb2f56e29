"""Seeded input generators for the benchmark.

Everything the engine reads during a run is generated here from the
``--seed`` argument, so the same seed always yields byte-identical files
(``digest`` proves it; the run compares digests across its set-up
rounds). The engine only ever sees the generated files.

Two input families:

* the media library (``media_library.json``, NDJSON in the reference's
  29-field shape). A fixed share of rows is dirty so that the quarantine
  split is non-empty. ``MediaTruth`` carries the expected results,
  computed here in plain Python from the generated rows;
* the curation tables (``documents``, ``embeddings``, ``events``
  parquet) in the schema of the repository's test tables (TESTDATA.md).
"""

from __future__ import annotations

import hashlib
import json
import os
import random
from dataclasses import dataclass, field
from decimal import ROUND_HALF_UP, Decimal

# --- sizes ------------------------------------------------------------------

#: Input sizes per mode. ``full`` is what the benchmark measures; ``smoke``
#: is the sf0.001 shape the benchmark's own tests use.
SIZES = {
    "full": {"media": 20000, "docs": 500, "embeddings": 500, "events": 10000},
    "smoke": {"media": 300, "docs": 500, "embeddings": 500, "events": 1000},
}

DIRTY_SHARE = 0.05

# --- media library ------------------------------------------------------------

#: Fixture vocabulary (``data/local_media_sample.json``): these rows carry
#: the names the canned-query parameters select, so those queries have
#: small answers. Fields: artist, album, track, genre, ext, album_gain.
FIXTURE_ROWS = (
    ("Velvet Harbor", "Night Ferry", "Glass Orchard", "Trip-Hop", ".mp3", "-7.15"),
    ("Velvet Harbor", "Night Ferry", "Inland Sea", "Trip-Hop", ".mp3", "-7.15"),
    ("Quiet Atlas", "Meridian Lines", "Paper Lanterns", "Alternative", ".m4a", "-5.20"),
    ("Marta Jelinek", "Bohemian Etudes", "Etude No.4 in E-minor, Op.12: III. Allegro con brio", "Classical", ".flac", "-3.04"),
    ("The Copper Foxes", "Wirework", "Static Bloom", "Indie Rock", ".mp3", "-10.02"),
    ("Quiet Atlas", "Meridian Lines", "Future Proof", "Alternative", ".m4a", "-5.20"),
    ("Lantern Motel", "Vacancy", "Neon Corridor", "Trip-Hop", ".mp3", "-6.44"),
    ("Marta Jelinek", "Bohemian Etudes", "Etude No.7 in A-major, Op.12: I. Andante", "Classical", ".flac", "-3.04"),
    ("Ólafur Brekka", "Fjara", "Svartur Sandur", "Ambient", ".flac", "-4.41"),
    ("June Calder", "First Light", "Morning Fraction", "default", ".m4a", "-8.67"),
    ("Static Almanac", "Field Notes", "Creek Bed", "Folk", ".wma", "-10.95"),
    ("Ash & The Riverbed", "Delta Sessions", "Mudlark", "Blues Rock", ".mp3", "0.0"),
)
#: Copies of each fixture row in the library.
FIXTURE_COPIES = 3

#: Genres of the bulk rows. Bulk artist names are not in the offline ID
#: tables, so every bulk row's artist_id resolves to ``not_found``.
BULK_GENRES = ("Trip-Hop", "Alternative", "Indie Rock", "Ambient", "Folk", "Blues Rock", "Jazz", "Electronic", "default")
EXTS = ((".mp3", "LAME 3.100"), (".m4a", "iTunes 12.9"), (".flac", "FLAC 1.3.2"), (".wma", "WMA 9.2"))
ENCODINGS = ("ascii", "ascii", "ascii", "Windows-1252", "ISO-8859-9")

#: Canned-query parameters (operators/canned.py), fixed for every seed.
#: ``gain_select`` and ``join_select`` are not measured: they join the
#: denormalised split tables on artist_id, and every unresolved artist
#: shares the id ``not_found``, so their first join grows with the square
#: of the library size.
CANNED_PARAMS = {
    "artist_select": ["Velvet Harbor"],
    "album_select": ["First Light"],
    "track_select": ["Future Proof"],
    "genre_select": ["Trip-Hop", "Alternative"],
    "file_select": ".flac",
}

_DIRTY_KINDS = ("no_index", "no_artist", "bad_rating", "neg_track", "neg_size")


@dataclass
class MediaTruth:
    """Expected media_etl results, derived from the generated rows."""

    media_rows: int = 0
    valid_rows: int = 0
    quarantine_rows: int = 0
    avg_mib: float = 0.0
    canned_rows: dict[str, int] = field(default_factory=dict)


def _spark_round2(x: float) -> float:
    """Spark's ROUND(double, 2): HALF_UP on the double's decimal string."""
    return float(Decimal(repr(x)).quantize(Decimal("0.01"), rounding=ROUND_HALF_UP))


def _media_columns(seed: int, n: int) -> dict:
    """Every random draw of the media library, one vectorised column each."""
    import numpy as np

    g = np.random.default_rng(seed)
    return {
        "artist": g.integers(0, 2000, n).tolist(),
        "album": g.integers(0, 8, n).tolist(),
        "genre": g.integers(0, len(BULK_GENRES), n).tolist(),
        "ext": g.integers(0, len(EXTS), n).tolist(),
        "album_gain": g.integers(0, 399, n).tolist(),
        "gain_as_number": (g.random(n) < 0.2).tolist(),
        "size": g.integers(1_000_000, 20_000_000, n).tolist(),
        "track_number": g.integers(1, 20, n).tolist(),
        "length": g.integers(120, 480, n).tolist(),
        "year": g.integers(1960, 2024, n).tolist(),
        "rating": g.integers(0, 11, n).tolist(),
        "encoder_cr": (g.random(n) < 0.1).tolist(),
        "composer": g.integers(0, 500, n).tolist(),
        "track_gain": g.integers(0, 1200, n).tolist(),
        "bitrate": g.integers(0, 4, n).tolist(),
        "sampling_rate": g.integers(0, 2, n).tolist(),
        "path_len": g.integers(80, 240, n).tolist(),
        "modified": [
            t.replace("T", " ")
            for t in np.datetime_as_string(
                g.integers(1_262_304_000_000, 1_704_067_200_000, n).astype("datetime64[ms]").astype("datetime64[us]")
            )
        ],
        "encoding": g.integers(0, len(ENCODINGS), n).tolist(),
        "dirty": (g.random(n) < DIRTY_SHARE).tolist(),
    }


def _media_record(c: dict, i: int, fixture: tuple | None) -> dict:
    if fixture is not None:
        artist, album, track, genre, ext, album_gain = fixture
        encoder = dict(EXTS)[ext]
    else:
        artist, album = f"Artist {c['artist'][i]:04d}", f"Album {c['artist'][i]:04d}-{c['album'][i]}"
        track = f"Track {i:07d}"
        genre = BULK_GENRES[c["genre"][i]]
        ext, encoder = EXTS[c["ext"][i]]
        album_gain = f"{-c['album_gain'][i] / 100:.2f}"
    size = c["size"][i]
    length = c["length"][i]
    return {
        "index": f"{i:07d}",
        "file_size": size,
        "readable_size": f"{size / 1048576:.2f} MiB",
        "file_ext": ext,
        "artist_name": artist,
        "album_title": album,
        "track_title": track,
        "track_number": str(c["track_number"][i]),
        "track_length": f"0:{length // 60:02d}:{length % 60:02d}",
        "music_genre": genre,
        "genre_in_dict": "GENRE_OK",
        "album_art": "ALBUM_ART",
        "year": str(c["year"][i]),
        "rating": c["rating"][i] / 2,
        # trailing control characters exercise conform's encoder trim
        "encoder": encoder + ("\r" if c["encoder_cr"][i] else ""),
        "composer": f"Composer {c['composer'][i]}",
        "conductor": "",
        "comment": "",
        "track_gain": f"{-c['track_gain'][i] / 100:.2f}",
        # album_gain ships as a string on most rows and a number on some
        "album_gain": float(album_gain) if c["gain_as_number"][i] else album_gain,
        "bitrate": (128000, 192000, 256000, 320000)[c["bitrate"][i]],
        "sampling_rate": (44100, 48000)[c["sampling_rate"][i]],
        "file_name": f"{i:07d}_{track.lower().replace(' ', '_')[:24]}{ext}",
        "path_len": str(c["path_len"][i]),
        "last_modified": c["modified"][i],
        "encoding": ENCODINGS[c["encoding"][i]],
        "hash": f"{i * 0x9E3779B97F4A7C15 % (1 << 256):064x}",
        "artist_id": "",
        "album_id": "",
        "track_id": "",
    }


def _make_dirty(rec: dict, kind: str) -> None:
    if kind == "no_index":
        rec["index"] = None
    elif kind == "no_artist":
        rec["artist_name"] = None
    elif kind == "bad_rating":
        rec["rating"] = 7.5
    elif kind == "neg_track":
        rec["track_number"] = "-1"
    else:
        rec["file_size"] = -rec["file_size"]


def write_media(out_dir: str, seed: int, n_media: int) -> MediaTruth:
    """Write the media library; return the truth."""
    rng = random.Random(seed)
    cols = _media_columns(seed, n_media)
    truth = MediaTruth(media_rows=n_media)
    fixture_at = {}
    step = max(n_media // (len(FIXTURE_ROWS) * FIXTURE_COPIES), 1)
    for k in range(len(FIXTURE_ROWS) * FIXTURE_COPIES):
        fixture_at[(k * step + rng.randrange(step)) % n_media] = FIXTURE_ROWS[k % len(FIXTURE_ROWS)]
    valid: list[dict] = []
    size_sum = 0
    dumps = json.JSONEncoder(separators=(",", ":")).encode
    with open(os.path.join(out_dir, "media_library.json"), "w", encoding="ascii") as fh:
        for i in range(n_media):
            fixture = fixture_at.get(i)
            rec = _media_record(cols, i, fixture)
            if fixture is None and cols["dirty"][i]:
                _make_dirty(rec, _DIRTY_KINDS[i % len(_DIRTY_KINDS)])
                truth.quarantine_rows += 1
            else:
                valid.append(rec)
                size_sum += rec["file_size"]
            fh.write(dumps(rec) + "\n")
    truth.valid_rows = len(valid)
    truth.avg_mib = _spark_round2(float(size_sum) / len(valid) / (1024 * 1024))
    truth.canned_rows = _canned_truth(valid)
    return truth


def _canned_truth(valid: list[dict]) -> dict[str, int]:
    """Row counts of the measured canned queries over the valid rows."""
    p = CANNED_PARAMS
    return {
        "artist_select": sum(r["artist_name"] in p["artist_select"] for r in valid),
        "album_select": sum(r["album_title"] in p["album_select"] for r in valid),
        "track_select": sum(r["track_title"] in p["track_select"] for r in valid),
        "genre_select": sum(r["music_genre"] in p["genre_select"] for r in valid),
        "file_select": sum(r["file_ext"] == p["file_select"] for r in valid),
        "avg_size_select": 1,
    }


# --- curation tables -----------------------------------------------------------

#: Word vocabulary and language mix of the repository's ``documents`` test table.
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
LANGS = ("en", "en", "en", "zh", "es", "de", "fr")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")


def write_curation(out_dir: str, seed: int, n_docs: int, n_emb: int, n_events: int) -> dict[str, int]:
    """Write documents/embeddings/events parquet; return rows per table."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    texts: list[str] = []
    for _ in range(n_docs):
        r = rng.random()
        if texts and r < 0.03:  # exact duplicate of an earlier document
            text = rng.choice(texts)
        elif texts and r < 0.08:  # near duplicate: two words replaced
            words = rng.choice(texts).split()
            for _k in range(2):
                words[rng.randrange(len(words))] = rng.choice(VOCAB)
            text = " ".join(words)
        else:
            text = " ".join(rng.choice(VOCAB) for _k in range(rng.randrange(10, 101)))
        texts.append(text)
    docs = pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([rng.choice(LANGS) for _ in range(n_docs)], pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )

    nrng = np.random.default_rng(seed)
    labels = nrng.integers(0, 10, n_emb).astype(np.int32)
    centers = nrng.standard_normal((10, 64))
    vecs = centers[labels] * 0.5 + nrng.standard_normal((n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table(
        {
            "vec_id": pa.array(range(n_emb), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )

    start_us = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
    span_us = 30 * 86_400_000_000
    ts = np.sort(nrng.integers(0, span_us, n_events)) + start_us
    n_users = max(n_events * 3 // 200, 1)
    events = pa.table(
        {
            "event_id": pa.array(range(n_events), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(nrng.integers(0, n_users, n_events), pa.int64()),
            "event_type": pa.array([EVENT_TYPES[k] for k in nrng.integers(0, 5, n_events)], pa.string()),
            "value": pa.array(np.round(nrng.exponential(50.0, n_events), 2), pa.float64()),
            "props": pa.array([f'{{"k": {k}}}' for k in nrng.integers(0, 100, n_events)], pa.string()),
        }
    )
    for name, table in (("documents", docs), ("embeddings", emb), ("events", events)):
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {"documents": n_docs, "embeddings": n_emb, "events": n_events}


def digest(directory: str) -> str:
    """sha256 over every file's name and bytes, in name order."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(directory)):
        path = os.path.join(directory, name)
        if os.path.isfile(path):
            h.update(name.encode())
            with open(path, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()
