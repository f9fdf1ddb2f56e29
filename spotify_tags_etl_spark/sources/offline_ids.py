"""Offline ID lookup tables — the deterministic enrichment seam (J4).

Mirrors the role of the reference's hardcoded dicts
(``sql/offline_ids.py:3-46``): map artist/album/track names of the local
fixture corpus to stable IDs without touching the live API. Unmatched
names get ``"not_found"`` (reference ``spotify_client.py:267,294,324``).

The dicts are applied as literal-map lookups (``fuzzy.offline_lookup``):
Catalyst folds each to one constant map, so enrichment is a projection
with no join. That is sized for these fixed 9, 9 and 12 entries — map
lookup is linear in map size, so a large ID table belongs in a real join.
"""

from __future__ import annotations

NOT_FOUND = "not_found"

ARTIST_IDS: dict[str, str] = {
    "Velvet Harbor": "art0001velvetharbor0000000",
    "Quiet Atlas": "art0002quietatlas00000000",
    "Marta Jelinek": "art0003martajelinek000000",
    "The Copper Foxes": "art0004copperfoxes0000000",
    "Lantern Motel": "art0005lanternmotel000000",
    "Ólafur Brekka": "art0006olafurbrekka000000",
    "June Calder": "art0007junecalder00000000",
    "Static Almanac": "art0008staticalmanac00000",
    "Ash & The Riverbed": "art0009ashriverbed0000000",
}

ALBUM_IDS: dict[str, str] = {
    "Night Ferry": "alb0001nightferry00000000",
    "Meridian Lines": "alb0002meridianlines00000",
    "Bohemian Etudes": "alb0003bohemianetudes0000",
    "Wirework": "alb0004wirework0000000000",
    "Vacancy": "alb0005vacancy00000000000",
    "Fjara": "alb0006fjara0000000000000",
    "First Light": "alb0007firstlight00000000",
    "Field Notes": "alb0008fieldnotes00000000",
    "Delta Sessions": "alb0009deltasessions00000",
}

TRACK_IDS: dict[str, str] = {
    "Glass Orchard": "trk0001glassorchard000000",
    "Inland Sea": "trk0002inlandsea000000000",
    "Paper Lanterns": "trk0003paperlanterns00000",
    "Etude No.4 in E-minor, Op.12: III. Allegro con brio": "trk0004etudeno40000000000",
    "Static Bloom": "trk0005staticbloom0000000",
    "Future Proof": "trk0006futureproof0000000",
    "Neon Corridor": "trk0007neoncorridor000000",
    "Etude No.7 in A-major, Op.12: I. Andante": "trk0008etudeno70000000000",
    "Svartur Sandur": "trk0009svartursandur00000",
    "Morning Fraction": "trk0010morningfraction000",
    "Creek Bed": "trk0011creekbed0000000000",
    "Mudlark": "trk0012mudlark00000000000",
}

