"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its arguments: the same seed
gives byte-identical inputs. They live here, not in the library, so a
change to the program cannot change what the benchmark feeds it.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

N_CITIES = 50
CITY_HALF_WIDTH = 0.1  # degrees; clustered points sit within +-0.1 of a centre
ZONES_PER_CITY = 6
ZONE_VERTICES = 12
DUP_FRACTION = 0.1  # planted near-duplicates among documents and embeddings
DOC_WORDS = 60
EMB_DIM = 64


def city_centres() -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """City centres, busiest first, and their Zipf(1.2) popularity
    weights. The layout is fixed, as in ``benchwork.synth_points``:
    seeds draw different points on the same cities. (With a layout per
    seed, the kNN join's work varied by up to 1.4x between seeds.)"""
    rng = np.random.default_rng([0, 0])
    cx = rng.uniform(-179.0, 179.0, N_CITIES)
    cy = rng.uniform(-60.0, 70.0, N_CITIES)
    w = 1.0 / np.arange(1, N_CITIES + 1) ** 1.2
    return cx, cy, w / w.sum()


def points(n: int, seed: int, clustered: float = 0.8, stream: int = 1) -> pd.DataFrame:
    """Skewed geotag points (row_id, x, y): ``clustered`` of them on the
    50 Zipf-weighted cities, the rest uniform over
    lon/lat; row order is shuffled so no partition holds a single city.
    Different ``stream`` values draw independent points."""
    rng = np.random.default_rng([seed, stream])
    cx, cy, w = city_centres()
    nc = int(n * clustered)
    city = rng.choice(N_CITIES, size=nc, p=w)
    x = np.concatenate(
        [cx[city] + rng.uniform(-CITY_HALF_WIDTH, CITY_HALF_WIDTH, nc), rng.uniform(-180.0, 180.0, n - nc)]
    )
    y = np.concatenate(
        [cy[city] + rng.uniform(-CITY_HALF_WIDTH, CITY_HALF_WIDTH, nc), rng.uniform(-85.0, 85.0, n - nc)]
    )
    perm = rng.permutation(n)
    return pd.DataFrame({"row_id": np.arange(n, dtype=np.int64), "x": x[perm], "y": y[perm]})


def city_points(n: int, seed: int, stream: int = 1) -> pd.DataFrame:
    """Points that all sit on the 50 Zipf-weighted cities (no uniform
    background): the clustered right side of the small-left kNN join."""
    return points(n, seed, clustered=1.0, stream=stream)


def city_zones(seed: int) -> pd.DataFrame:
    """Star-shaped (non-convex) zone polygons around every city centre,
    plus as many scattered background zones:
    (poly_id, vertices, minx, miny, maxx, maxy)."""
    cx, cy, _ = city_centres()
    zr = np.random.default_rng([seed, 12])
    centres_x = np.concatenate(
        [np.repeat(cx, ZONES_PER_CITY) + zr.uniform(-0.08, 0.08, N_CITIES * ZONES_PER_CITY),
         zr.uniform(-170.0, 170.0, N_CITIES * ZONES_PER_CITY)]
    )
    centres_y = np.concatenate(
        [np.repeat(cy, ZONES_PER_CITY) + zr.uniform(-0.08, 0.08, N_CITIES * ZONES_PER_CITY),
         zr.uniform(-80.0, 80.0, N_CITIES * ZONES_PER_CITY)]
    )
    rows = []
    ang = np.linspace(0.0, 2.0 * np.pi, ZONE_VERTICES, endpoint=False)
    for pid, (px, py) in enumerate(zip(centres_x, centres_y)):
        rad = zr.uniform(0.01, 0.05) * np.where(np.arange(ZONE_VERTICES) % 2 == 0, 1.0, zr.uniform(0.3, 0.7))
        ring = np.stack([px + rad * np.cos(ang), py + rad * np.sin(ang)], axis=1)
        rows.append(
            (pid, ring.tolist(), float(ring[:, 0].min()), float(ring[:, 1].min()),
             float(ring[:, 0].max()), float(ring[:, 1].max()))
        )
    return pd.DataFrame(rows, columns=["poly_id", "vertices", "minx", "miny", "maxx", "maxy"])


_SYLLABLES = np.array(
    ["ka", "to", "ri", "sen", "mo", "la", "vek", "dun", "pra", "il", "or", "es",
     "an", "tu", "bel", "gor", "mi", "ne", "sta", "quo", "zi", "fa", "ho", "wen"]
)


def _vocabulary(rng) -> np.ndarray:
    return np.array(
        ["".join(rng.choice(_SYLLABLES, size=rng.integers(2, 5))) for _ in range(3000)]
    )


def documents(n: int, seed: int) -> pd.DataFrame:
    """(doc_id, text): random-word documents over a 3,000-word seeded
    vocabulary. ``DUP_FRACTION`` of them are near-duplicates of an
    earlier document with about 5% of its words replaced, so the true
    near-duplicate pairs are planted and everything else is unrelated
    text (no shared template)."""
    rng = np.random.default_rng([seed, 10])
    vocab = _vocabulary(rng)
    n_dup = int(n * DUP_FRACTION)
    base = [rng.choice(vocab, size=DOC_WORDS) for _ in range(n - n_dup)]
    docs = list(base)
    for src in rng.integers(0, n - n_dup, size=n_dup):
        w = base[src].copy()
        edit = rng.random(DOC_WORDS) < 0.05
        w[edit] = rng.choice(vocab, size=int(edit.sum()))
        docs.append(w)
    order = rng.permutation(n)
    return pd.DataFrame(
        {"doc_id": np.arange(n, dtype=np.int64), "text": [" ".join(docs[i]) for i in order]}
    )


def embeddings(n: int, seed: int) -> pd.DataFrame:
    """(vec_id, embedding): standard-normal vectors; ``DUP_FRACTION`` of
    them are an earlier vector plus 1% noise (cosine > 0.999), the
    planted near-duplicates."""
    rng = np.random.default_rng([seed, 11])
    n_dup = int(n * DUP_FRACTION)
    base = rng.standard_normal((n - n_dup, EMB_DIM))
    src = rng.integers(0, n - n_dup, size=n_dup)
    dups = base[src] + rng.standard_normal((n_dup, EMB_DIM)) * 0.01
    vecs = np.concatenate([base, dups])[rng.permutation(n)]
    return pd.DataFrame({"vec_id": np.arange(n, dtype=np.int64), "embedding": list(vecs)})


PAGE_GEOTAGGED = 0.9  # share of pages that carry a geo.position tag


def pages(n: int, seed: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Web pages (url, warc_ts, html, lang) with random-word bodies and
    the markup the extractor strips (script, style, comments, entities),
    and the geotag of each page that carries one: (url, x, y), with the
    coordinates exactly as the page prints them. Geotags are skewed
    points on the 50 cities; ``PAGE_GEOTAGGED`` of the pages have one."""
    rng = np.random.default_rng([seed, 20])
    vocab = _vocabulary(rng)
    pts = points(n, seed, stream=6)
    x = np.array([float(f"{v:.6f}") for v in pts.x])
    y = np.array([float(f"{v:.6f}") for v in pts.y])
    tagged = rng.random(n) < PAGE_GEOTAGGED
    urls, html = [], []
    for i in range(n):
        url = f"https://site{i % 97}.example/p/{seed}/{i}"
        words = rng.choice(vocab, size=(3, 12))
        meta = f'<meta name="geo.position" content="{y[i]:.6f};{x[i]:.6f}">' if tagged[i] else ""
        html.append((
            f"<html><head><title>{' '.join(words[0, :4])}</title>{meta}"
            f"<style>p {{margin: {i % 7}px}}</style><script>var n = {i}; // {words[0, 4]}</script>"
            f"</head><body><!-- {words[0, 5]} -->\n<h1>{words[0, 6]} &amp; {words[0, 7]}</h1>"
            f"<p>{' '.join(words[1])} &lt;{words[0, 8]}&gt;</p>\t<p>&quot;{' '.join(words[2])}&quot;</p>"
            "</body></html>"
        ).encode("utf-8"))
        urls.append(url)
    ts = pd.Timestamp("2025-01-01") + pd.to_timedelta(np.arange(n), unit="s")
    page_df = pd.DataFrame(
        {"url": urls, "warc_ts": ts, "html": html,
         "lang": np.array(["en", "de", "fr", "es", "ja"])[rng.integers(0, 5, n)]}
    )
    tags = pd.DataFrame({"url": urls, "x": x, "y": y})[tagged].reset_index(drop=True)
    return page_df, tags
