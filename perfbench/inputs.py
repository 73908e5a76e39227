"""Seeded input generators for the benchmark.

Every input is a pure function of ``(seed, size)`` built with NumPy
and written with pyarrow, so the program under test receives only
parquet paths and never runs the generators itself.
"""

from __future__ import annotations

import datetime as _dt

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_CITIES = 20
BBOX = 30.0
CITY_SIGMA = 0.05
LANGS = ("en", "ja", "de", "fr", "es")
N_DOMAINS = 1000
_EPOCH = _dt.datetime(2026, 1, 1, tzinfo=_dt.timezone.utc)


def make_pages(seed: int, n: int) -> pa.Table:
    """The FIXTURES.md section 1 ``pages`` schema.

    80% of points sit around 20 seeded city centres (Gaussian, sigma
    0.05 deg), 20% are uniform over lon, lat in [-30, 30]. Page ids are
    distinct 40-bit integers drawn from the seed. Coordinates are
    snapped to micro-degrees so the decimal strings round-trip.
    """
    rng = np.random.default_rng([seed, 1])
    city_lat = rng.uniform(-BBOX * 0.8, BBOX * 0.8, N_CITIES).round(3)
    city_lon = rng.uniform(-BBOX * 0.8, BBOX * 0.8, N_CITIES).round(3)
    ids = rng.choice(1 << 40, size=n, replace=False)
    clustered = rng.random(n) < 0.8
    city = rng.integers(0, N_CITIES, n)
    lat = np.where(clustered, city_lat[city] + rng.normal(0, CITY_SIGMA, n),
                   rng.uniform(-BBOX, BBOX, n))
    lon = np.where(clustered, city_lon[city] + rng.normal(0, CITY_SIGMA, n),
                   rng.uniform(-BBOX, BBOX, n))
    mlat = np.round(lat * 1e5).astype(np.int64)
    mlon = np.round(lon * 1e5).astype(np.int64)
    dom = np.floor(rng.random(n) ** 3 * N_DOMAINS).astype(np.int64)
    lang = rng.integers(0, len(LANGS), n)
    ts = rng.integers(0, 30 * 86400, n)

    urls, texts, htmls, langs = [], [], [], []
    for i, la, lo, d, lg in zip(ids.tolist(), mlat.tolist(), mlon.tolist(),
                                dom.tolist(), lang.tolist()):
        lat_s = f"{la / 1e5:.5f}"
        lon_s = f"{lo / 1e5:.5f}"
        lname = LANGS[lg]
        text = f"page {i} near ({lat_s}, {lon_s}) in {lname}"
        urls.append(f"https://www.site{d:04d}.example/p/{i}?lat={lat_s}&lon={lon_s}"
                    f"&mlat={la}&mlon={lo}&id={i}")
        texts.append(text)
        htmls.append(f"<html><head><title>p{i}</title></head><body><p>{text}</p>"
                     "</body></html>".encode())
        langs.append(lname)
    warc_ts = np.datetime64(_EPOCH.replace(tzinfo=None), "us") + ts.astype("timedelta64[s]")
    return pa.table({
        "url": pa.array(urls, pa.string()),
        "warc_ts": pa.array(warc_ts, pa.timestamp("us", tz="UTC")),
        "html": pa.array(htmls, pa.binary()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
    })


def page_points(pages: pa.Table) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(id, lat, lon) of every page, parsed back from its url the way
    the URL is written above; the reference side of the PIP check."""
    ids, lat, lon = [], [], []
    for u in pages.column("url").to_pylist():
        q = dict(kv.split("=", 1) for kv in u.split("?", 1)[1].split("&"))
        ids.append(int(q["id"]))
        lat.append(float(q["lat"]))
        lon.append(float(q["lon"]))
    return np.array(ids, np.int64), np.array(lat), np.array(lon)


# ------------------------------ text corpus ------------------------------

_SYL = ("ka", "lo", "mi", "ne", "ru", "sa", "te", "vo", "zi", "pa", "qu",
        "do", "fe", "gi", "ho", "ju", "bra", "sto", "tri", "ple")


def _vocab(rng: np.random.Generator, n: int) -> list[str]:
    words = set()
    while len(words) < n:
        k = int(rng.integers(2, 5))
        words.add("".join(_SYL[j] for j in rng.integers(0, len(_SYL), k)))
    return sorted(words)


def make_corpus(seed: int, n_docs: int) -> tuple[pa.Table, pa.Table]:
    """(docs, eval) tables for the clean-corpus job.

    Plants what each stage removes: PII strings (pii), docs made of one
    repeated line and docs built from one repeated 3-gram
    (repetition), boilerplate lines shared across docs (line_dedup),
    16-token spans shared inside otherwise distinct lines (span_dedup)
    and eval 8-grams copied verbatim (decontaminate). ``eval`` is the
    decontamination benchmark, one text column.
    """
    rng = np.random.default_rng([seed, 2])
    vocab = _vocab(rng, 4000)

    def words(k: int) -> str:
        return " ".join(vocab[j] for j in rng.integers(0, len(vocab), k))

    boiler = [words(int(rng.integers(6, 10))) for _ in range(40)]
    spans = [words(16) for _ in range(60)]
    eval_grams = [words(8) for _ in range(300)]

    ids = rng.choice(1 << 40, size=n_docs, replace=False)
    kind = rng.random(n_docs)
    texts = []
    for d in range(n_docs):
        lines = [words(int(rng.integers(8, 16))) for _ in range(int(rng.integers(4, 10)))]
        u = kind[d]
        if u < 0.03:  # one line repeated: Gopher duplicate-line rule
            lines = [lines[0]] * 10
        elif u < 0.06:  # one 3-gram repeated: Gopher top-n-gram rule
            g = words(3)
            lines = [" ".join([g] * 6) for _ in range(4)]
        else:
            if u < 0.30:
                lines.insert(int(rng.integers(0, len(lines) + 1)),
                             boiler[int(rng.integers(0, len(boiler)))])
            if 0.30 <= u < 0.42:
                j = int(rng.integers(0, len(lines)))
                lines[j] = lines[j] + " " + spans[int(rng.integers(0, len(spans)))] + " " + words(3)
            if 0.42 <= u < 0.45:
                j = int(rng.integers(0, len(lines)))
                lines[j] = words(2) + " " + eval_grams[int(rng.integers(0, len(eval_grams)))]
            if 0.45 <= u < 0.60:
                j = int(rng.integers(0, len(lines)))
                user = vocab[int(rng.integers(0, len(vocab)))]
                lines[j] += f" mail {user}@example.com or call 555-{int(rng.integers(1000, 9999))}"
        texts.append("\n".join(lines))
    docs = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
    })
    bench = pa.table({"text": pa.array([g + " " + words(4) for g in eval_grams], pa.string())})
    return docs, bench


def write_single_file(table: pa.Table, path: str) -> None:
    """One parquet file with one row group, the way
    ``documents.parquet`` is laid out (one input split)."""
    import os

    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"),
                   row_group_size=max(1, table.num_rows))
