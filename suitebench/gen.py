"""Seeded input generator for the suite benchmark.

Built on NumPy and PyArrow only: no Spark session is started, so the
first suite repetition of a run meets a cold JVM. The same seed writes
the same bytes (``test_suitebench.py`` checks this).

Every table has the pages schema the library's default suite expects:
``url string, warc_ts timestamp, html binary, text string, lang string``.
Each warc day carries planted dirt, and its exact counts are returned as
ground truth:

* ``dup_urls``: urls that occur twice in the day (a copied row);
* ``unknown_domain_rows``: rows whose domain is missing from the
  library's domain snapshot (``sources.synth.synth_domains`` leaves out
  the cold domains ``site-K.example.com`` with ``K % 10 == 4``);
* ``null_text`` / ``null_lang``: rows with a NULL text / lang.
"""

from __future__ import annotations

import datetime as _dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from data_check_spark.sources.synth import HOT_DOMAINS, LANGS, N_COLD_DOMAINS

DAY0 = _dt.datetime(2025, 6, 1, tzinfo=_dt.timezone.utc)
SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)

# (rows per day, days, files per day) of each generated table
PAGES_SHAPE = (6_000, 7, 4)
RESUME_SHAPE = (400, 4, 1)
TEXT_SHAPE = (1_200, 7, 2)

_SYLLABLES = np.array(
    "ka lo mi ne su ra te vo pi da ge bu ho li an er is ot um el".split()
)


def _vocab(n: int = 1500) -> np.ndarray:
    """A fixed pseudo-word vocabulary (independent of the seed)."""
    rng = np.random.default_rng(0)
    lens = rng.integers(1, 4, n)
    picks = rng.integers(0, len(_SYLLABLES), int(lens.sum()))
    out, p = [], 0
    for k in lens:
        out.append("".join(_SYLLABLES[picks[p : p + k]]))
        p += k
    return np.array(out)


_VOCAB = _vocab()


def _sentences(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` sentences of 5-14 Zipf-distributed words."""
    lens = rng.integers(5, 15, n)
    idx = (rng.zipf(1.3, int(lens.sum())) - 1) % len(_VOCAB)
    words = _VOCAB[idx].tolist()
    out, p = [], 0
    for k in lens.tolist():
        out.append(" ".join(words[p : p + k]) + ".")
        p += k
    return out


def _texts(
    rng: np.random.Generator, ids: list[str], boilerplate: list[str] | None
) -> list[str]:
    """One text per id. Without ``boilerplate``: a paragraph of 1-40
    sentences drawn from a seeded pool. With it: 3-12 newline-separated
    lines, each a boilerplate line (p = 0.3) or a pool sentence made
    unique to its document."""
    pool = _sentences(rng, 4000)
    n = len(ids)
    if boilerplate is None:
        k = np.clip(np.round(rng.lognormal(1.5, 0.7, n)), 1, 40).astype(int)
        picks = rng.integers(0, len(pool), int(k.sum())).tolist()
        out, p = [], 0
        for kk in k.tolist():
            out.append(" ".join(pool[i] for i in picks[p : p + kk]))
            p += kk
        return out
    k = rng.integers(3, 13, n)
    total = int(k.sum())
    is_bp = (rng.random(total) < 0.3).tolist()
    bp = rng.integers(0, len(boilerplate), total).tolist()
    picks = rng.integers(0, len(pool), total).tolist()
    out, p = [], 0
    for doc, kk in zip(ids, k.tolist()):
        lines = [
            boilerplate[bp[j]] if is_bp[j] else f"{pool[picks[j]]} ref {doc}-{j - p}"
            for j in range(p, p + kk)
        ]
        out.append("\n".join(lines))
        p += kk
    return out


def _day(
    rng: np.random.Generator,
    day: int,
    n: int,
    lang_shift_frac: float,
    boilerplate: list[str] | None,
) -> tuple[pa.Table, dict]:
    """One warc day: ``n`` base rows plus planted duplicate copies."""
    n_dup = int(rng.integers(5, 26))
    n_unknown = int(rng.integers(5, 26))
    # domains: 27% on the hot domains, the rest a squared-uniform cold
    # tail, moved off the snapshot's holes (K % 10 == 4)
    hot = rng.random(n) < 0.27
    cold = (rng.random(n) ** 2 * N_COLD_DOMAINS).astype(int)
    cold = np.where(cold % 10 == 4, cold + 1, cold)
    unknown = rng.choice(n, n_unknown, replace=False)
    cold[unknown] = rng.integers(0, N_COLD_DOMAINS // 10, n_unknown) * 10 + 4
    hot[unknown] = False
    hot_pick = rng.integers(0, len(HOT_DOMAINS), n)
    domains = [
        HOT_DOMAINS[h] if is_hot else f"site-{c}.example.com"
        for is_hot, h, c in zip(hot.tolist(), hot_pick.tolist(), cold.tolist())
    ]
    ids = [f"{day:02d}-{i:06d}" for i in range(n)]
    urls = [f"https://{d}/p/{i}" for d, i in zip(domains, ids)]
    texts: list[str | None] = _texts(rng, ids, boilerplate)
    li = np.floor(np.sqrt(rng.random(n) * len(LANGS) ** 2)).astype(int)
    li = np.where(rng.random(n) < lang_shift_frac, (li + 1) % len(LANGS), li)
    langs: list[str | None] = [LANGS[i] for i in li.tolist()]
    for i in np.flatnonzero(rng.random(n) < 0.01).tolist():
        texts[i] = None
    for i in np.flatnonzero(rng.random(n) < 0.02).tolist():
        langs[i] = None
    # duplicate urls: copies of distinct known-domain rows, same day
    known = np.setdiff1d(np.arange(n), unknown)
    src = np.sort(rng.choice(known, n_dup, replace=False)).tolist()
    urls += [urls[i] for i in src]
    texts += [texts[i] for i in src]
    langs += [langs[i] for i in src]
    m = len(urls)
    secs = rng.integers(0, 86_400_000_000, m)
    ts = (int(DAY0.timestamp()) + day * 86_400) * 1_000_000 + secs
    order = rng.permutation(m).tolist()
    urls = [urls[i] for i in order]
    texts = [texts[i] for i in order]
    langs = [langs[i] for i in order]
    ts = ts[order]
    html = [
        None if t is None else ("<html><body>" + t[:64]).encode() for t in texts
    ]
    table = pa.table(
        [
            pa.array(urls, pa.string()),
            pa.array(ts, pa.timestamp("us", tz="UTC")),
            pa.array(html, pa.binary()),
            pa.array(texts, pa.string()),
            pa.array(langs, pa.string()),
        ],
        schema=SCHEMA,
    )
    truth = {
        "day": (DAY0 + _dt.timedelta(days=day)).date().isoformat(),
        "rows": m,
        "dup_urls": n_dup,
        "unknown_domain_rows": n_unknown,
        "null_text": sum(t is None for t in texts),
        "null_lang": sum(x is None for x in langs),
    }
    return table, truth


def _write(days: list[pa.Table], path: str, files_per_day: int) -> None:
    os.makedirs(path, exist_ok=True)
    for d, table in enumerate(days):
        bounds = np.linspace(0, table.num_rows, files_per_day + 1).astype(int)
        for f in range(files_per_day):
            part = table.slice(bounds[f], bounds[f + 1] - bounds[f])
            pq.write_table(
                part, os.path.join(path, f"part-{d:02d}-{f:02d}.parquet"),
                compression="snappy",
            )


def _table(
    seed: int,
    stream: int,
    shape: tuple[int, int, int],
    lang_shift_frac: float = 0.0,
    boilerplate: list[str] | None = None,
) -> tuple[list[pa.Table], list[dict]]:
    rows, n_days, _ = shape
    rng = np.random.default_rng([seed, stream])
    out = [_day(rng, d, rows, lang_shift_frac, boilerplate) for d in range(n_days)]
    return [t for t, _ in out], [tr for _, tr in out]


def _boilerplate(seed: int) -> list[str]:
    rng = np.random.default_rng([seed, 99])
    heads = [
        "Home | About | Contact",
        "Subscribe to our newsletter",
        "All rights reserved.",
        "Accept cookies to continue",
        "Share on social media",
        "Related articles",
    ]
    return heads + [f"Menu {s}" for s in _sentences(rng, 34)]


def _two_versions(
    seed: int,
    streams: tuple[int, int],
    shape: tuple[int, int, int],
    root: str,
    name: str,
    boilerplate: list[str] | None = None,
) -> dict:
    """A table and its reference version (``lang`` shifted on 10% of
    rows), written under ``root/name`` and ``root/name_v2``."""
    days, truth = _table(seed, streams[0], shape, boilerplate=boilerplate)
    ref, _ = _table(seed, streams[1], shape, 0.1, boilerplate)
    _write(days, os.path.join(root, name), shape[2])
    _write(ref, os.path.join(root, name + "_v2"), shape[2])
    return {
        "data": os.path.join(root, name),
        "reference": os.path.join(root, name + "_v2"),
        "rows": sum(t["rows"] for t in truth),
        "truth": truth,
    }


def generate(workload: str, seed: int, root: str) -> dict:
    """Write ``workload``'s inputs under ``root``; return their paths,
    row counts and per-day planted counts."""
    if workload == "pages_suite":
        return _two_versions(seed, (1, 2), PAGES_SHAPE, root, "pages")
    if workload == "text_gates":
        return _two_versions(
            seed, (4, 5), TEXT_SHAPE, root, "text", _boilerplate(seed)
        )
    if workload == "resume_audit":
        days, truth = _table(seed, 3, RESUME_SHAPE)
        half = len(days) // 2
        _write(days[:half], os.path.join(root, "resume_half"), RESUME_SHAPE[2])
        _write(days, os.path.join(root, "resume_full"), RESUME_SHAPE[2])
        return {
            "half": os.path.join(root, "resume_half"),
            "full": os.path.join(root, "resume_full"),
            "rows": sum(t["rows"] for t in truth),
            "pending_rows": sum(t["rows"] for t in truth[half:]),
            "days_added": len(days) - half,
            "truth": truth,
        }
    raise ValueError(f"unknown workload {workload!r}")
