"""Seeded benchmark corpora, written once per (workload, seed) to parquet.

Each corpus comes with its planted truth: a family key per url (None for a
singleton). The pipeline only ever sees the parquet path; the truth stays in
the benchmark, which scores the pipeline's clusters against it.
"""

from __future__ import annotations

import datetime
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# bulk_web: web-like pages whose per-document work (tokenize + hash ~250
# distinct-ish tokens) is not made trivial by a tiny vocabulary.
VOCAB_SIZE = 100_000
ZIPF_S = 1.0
TOKENS_MIN, TOKENS_MAX = 200, 300
# A row group per ~1k pages, as a crawl export written in small batches
# has; one row group would pin the scan to a single task.
ROW_GROUP_ROWS = 1024

_SYLLABLES = [c + v for c in "bcdfghjklmnprstvwz" for v in "aeiou"]
_EPOCH = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)


def _vocabulary() -> np.ndarray:
    """VOCAB_SIZE distinct pronounceable words: the word of rank r spells
    r + len(_SYLLABLES) in base len(_SYLLABLES), one syllable per digit."""
    base = len(_SYLLABLES)
    words = []
    for r in range(base, base + VOCAB_SIZE):
        parts = []
        while r:
            r, d = divmod(r, base)
            parts.append(_SYLLABLES[d])
        words.append("".join(reversed(parts)))
    return np.array(words, dtype=object)


def bulk_web(n_docs: int, seed: int) -> tuple[list[str], list[str | None]]:
    """Pages in groups of ten: one exact-copy pair, one near-dup triple
    (a base page plus two copies with one token replaced each) and five
    singletons — 20% exact copies, 30% one-edit near-dups."""
    if n_docs % 10:
        raise ValueError("bulk_web n_docs must be a multiple of 10")
    rng = np.random.default_rng(seed)
    vocab = _vocabulary()
    cdf = np.cumsum(1.0 / np.arange(1, VOCAB_SIZE + 1) ** ZIPF_S)
    cdf /= cdf[-1]

    def zipf(n: int) -> np.ndarray:
        return np.minimum(np.searchsorted(cdf, rng.random(n)), VOCAB_SIZE - 1)

    groups = n_docs // 10
    n_base = groups * 7  # 1 pair base + 1 triple base + 5 singletons
    lengths = rng.integers(TOKENS_MIN, TOKENS_MAX + 1, n_base)
    ranks = zipf(int(lengths.sum()))
    bounds = np.concatenate(([0], np.cumsum(lengths)))
    base_ranks = [ranks[bounds[i]:bounds[i + 1]] for i in range(n_base)]

    def text(r: np.ndarray) -> str:
        return " ".join(vocab[r])

    def one_edit(r: np.ndarray) -> np.ndarray:
        out = r.copy()
        i = rng.integers(len(out))
        new = out[i]
        while new == out[i]:
            new = zipf(1)[0]
        out[i] = new
        return out

    texts: list[str] = []
    fams: list[str | None] = []
    for g in range(groups):
        b = base_ranks[g * 7:(g + 1) * 7]
        pair = text(b[0])
        texts += [pair, pair]
        fams += [f"exact{g}", f"exact{g}"]
        texts += [text(b[1]), text(one_edit(b[1])), text(one_edit(b[1]))]
        fams += [f"near{g}"] * 3
        texts += [text(r) for r in b[2:]]
        fams += [None] * 5
    order = rng.permutation(len(texts))
    return [texts[i] for i in order], [fams[i] for i in order]


def hot_boilerplate(n_docs: int, hot_band_size: int, seed: int):
    """The program's own planted-family generator with a hot boilerplate
    band (exact, near, count-skewed, substring and hot families)."""
    from umi_dedup_spark.synth import make_pages

    corpus = make_pages(n_docs=n_docs, seed=seed, hot_band_size=hot_band_size)
    rows = corpus.rows
    return [r["text"] for r in rows], [corpus.truth[r["url"]] for r in rows]


def _pages_table(texts: list[str], seed: int) -> pa.Table:
    n = len(texts)
    hosts = np.random.default_rng(seed + 1).integers(0, 500, n)
    urls = [f"https://www.site{h}.example/page/{i}" for i, h in enumerate(hosts)]
    ts = [_EPOCH + datetime.timedelta(seconds=37 * i) for i in range(n)]
    html = [f"<html><body><p>{t}</p></body></html>".encode() for t in texts]
    return pa.table({
        "url": pa.array(urls, pa.string()),
        "warc_ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "html": pa.array(html, pa.binary()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * n, pa.string()),
    })


def materialize(cache_dir: str, name: str, seed: int, make) -> tuple[str, str]:
    """Write the corpus ``make(seed)`` returns to ``cache_dir`` once and
    return (pages parquet path, truth parquet path). The directory is
    filled under a temporary name and renamed, so a killed run never
    leaves a half-written corpus behind."""
    out = os.path.join(cache_dir, f"{name}-seed{seed}")
    pages, truth = os.path.join(out, "pages.parquet"), os.path.join(out, "truth.parquet")
    if os.path.exists(truth):
        return pages, truth
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    texts, fams = make(seed)
    table = _pages_table(texts, seed)
    pq.write_table(table, os.path.join(tmp, "pages.parquet"), row_group_size=ROW_GROUP_ROWS)
    pq.write_table(
        pa.table({"url": table.column("url"), "family": pa.array(fams, pa.string())}),
        os.path.join(tmp, "truth.parquet"),
    )
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return pages, truth
