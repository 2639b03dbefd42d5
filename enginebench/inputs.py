"""Seeded input generator: the same seed and GEN_VERSION give the same bytes.

Inputs are cached under ``<work>/inputs/v<GEN_VERSION>-s<seed>/<workload>``
and generated outside every timed region, so generation never counts
towards ``setup_s``.

Sizes, and why:

- news corpus, 2,000 docs of 30-90 tokens over a 3,000-word Zipf(1.07)
  vocabulary, 2% exact and 2% near duplicates planted. Its postings fit the
  Engine's cached in-memory index with room to spare, so a search is a
  probe of that cache and its cost is mostly per-job overhead.
- queries, one per shape over 6 shapes, mixing rare (df <= 0.3% of
  docs), mid (1-4%) and common (10-40%) terms, so the candidate count a
  probe prunes to spans two orders of magnitude. Terms sit at fixed df
  quantiles of their band, so every seed sees the same cost mix. The 18
  (query, page) ops repeat as one fixed cycle: a search's generated code
  depends on its terms, so a fixed set lets Spark's code cache fill during
  warm-up, as it does for a reader's popular queries, and every timed
  cycle has the same op mix.
- drops, a 300-doc base and 2 drops of 80 docs, each drop with planted
  exact duplicates, near duplicates, a within-drop pair and one probe doc
  whose unique term the read-after-write probe searches for.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 2

VOCAB = 3000
ZIPF_S = 1.07
DOC_LEN = (30, 90)

NEWS_DOCS = 2000
NEWS_DUP_SHARE = 0.02
# (lo, hi) document-frequency share of each query-term band
BANDS = {"rare": (0.0008, 0.003), "mid": (0.01, 0.04), "common": (0.1, 0.4)}
SHAPES = (("rare",), ("mid",), ("common",), ("rare", "mid"),
          ("mid", "common"), ("rare", "mid", "common"))
PAGES = 3

BASE_DOCS = 300
DROPS = 2
DROP_DOCS = 80
DROP_EXACT = 4
DROP_NEAR = 4

DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def vocabulary(seed: int) -> list[str]:
    """VOCAB distinct lowercase words, in Zipf rank order."""
    rng = _rng(seed, 0)
    cons, vows = "bcdfghjklmnprstvwz", "aeiou"
    words: dict[str, None] = {}
    while len(words) < VOCAB:
        n = int(rng.integers(2, 5))
        words["".join(cons[rng.integers(len(cons))] + vows[rng.integers(len(vows))]
                      for _ in range(n))] = None
    return list(words)


def _zipf_p(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


def _docs(rng: np.random.Generator, n: int) -> list[np.ndarray]:
    lens = rng.integers(DOC_LEN[0], DOC_LEN[1] + 1, n)
    toks = rng.choice(VOCAB, size=int(lens.sum()), p=_zipf_p(VOCAB, ZIPF_S))
    return np.split(toks, np.cumsum(lens)[:-1])


def _near(rng: np.random.Generator, toks: np.ndarray, edits: int) -> np.ndarray:
    out = toks.copy()
    pos = rng.choice(len(out), size=edits, replace=False)
    out[pos] = rng.integers(0, VOCAB, edits)
    return out


def _text(words: list[str], toks: np.ndarray) -> str:
    return " ".join(words[t] for t in toks)


def _write_docs(path: str, ids, texts) -> None:
    pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()),
                             "text": pa.array(texts, pa.string())},
                            schema=DOC_SCHEMA), path)


def gen_news(seed: int, out: str) -> dict:
    words = vocabulary(seed)
    rng = _rng(seed, 1)
    toks = _docs(rng, NEWS_DOCS)
    n_dup = int(NEWS_DOCS * NEWS_DUP_SHARE)
    slots = rng.choice(np.arange(1, NEWS_DOCS), size=2 * n_dup, replace=False)
    for j, slot in enumerate(slots):
        src = toks[int(rng.integers(0, slot))]
        toks[slot] = src.copy() if j < n_dup else _near(rng, src, 3)
    _write_docs(f"{out}/documents.parquet", np.arange(NEWS_DOCS),
                [_text(words, t) for t in toks])

    df = np.zeros(VOCAB, np.int64)
    for t in toks:
        df[np.unique(t)] += 1
    # Terms sit at fixed df quantiles of their band, so the seed changes
    # the words but not the cost profile of the query mix.
    band_terms = {}
    for band, (lo, hi) in BANDS.items():
        ok = np.flatnonzero((df >= max(3, lo * NEWS_DOCS)) & (df <= hi * NEWS_DOCS))
        band_terms[band] = [words[i] for i in ok[np.argsort(df[ok], kind="stable")]]
    queries = []
    for s, shape in enumerate(SHAPES):
        pick = (s + 0.5) / len(SHAPES)
        queries.append(" ".join(band_terms[b][int(pick * len(band_terms[b]))]
                                for b in shape))
    manifest = {"docs": NEWS_DOCS, "queries": queries,
                "band_sizes": {b: len(t) for b, t in band_terms.items()}}
    return manifest


def search_cycle(queries: list[str]) -> list[tuple[str, int]]:
    """The fixed closed-loop op cycle: every (query, page), shape fastest."""
    return [(q, page) for page in range(PAGES) for q in queries]


def gen_ingest(seed: int, out: str) -> dict:
    words = vocabulary(seed)
    rng = _rng(seed, 3)
    base = _docs(rng, BASE_DOCS)
    base_ids = list(range(1, BASE_DOCS + 1))
    _write_docs(f"{out}/base.parquet", base_ids, [_text(words, t) for t in base])
    drops = []
    for d in range(DROPS):
        id0 = (d + 1) * 100_000
        n_fresh = DROP_DOCS - DROP_EXACT - DROP_NEAR - 1
        toks = _docs(rng, n_fresh)
        # the probe doc is a fresh doc carrying one term found nowhere else
        probe_term = f"probe{seed}x{d}"
        texts = [_text(words, t) for t in toks]
        texts[0] = f"{texts[0]} {probe_term}"
        src = rng.choice(BASE_DOCS, size=DROP_EXACT + DROP_NEAR, replace=False)
        exact = [_text(words, base[s]) for s in src[:DROP_EXACT]]
        near = [_text(words, _near(rng, base[s], 1)) for s in src[DROP_EXACT:]]
        twin = texts[1]
        all_texts = texts + exact + near + [twin]
        ids = list(range(id0, id0 + len(all_texts)))
        order = rng.permutation(len(ids))
        _write_docs(f"{out}/drop-{d}.parquet", [ids[i] for i in order],
                    [all_texts[i] for i in order])
        drops.append({
            "ids": ids,
            "probe_term": probe_term,
            "probe_id": ids[0],
            "exact_dups": ids[n_fresh:n_fresh + DROP_EXACT],
            "twin": [ids[1], ids[-1]],
        })
    return {"base_ids": base_ids, "drops": drops}


GENERATORS = {"news_search": gen_news, "ingest": gen_ingest}


def ensure(work: str, workload: str, seed: int) -> tuple[str, dict]:
    """Return (directory, manifest) of the workload's inputs, generating
    them on first use. A half-written directory is never visible."""
    root = os.path.join(work, "inputs", f"v{GEN_VERSION}-s{seed}")
    out = os.path.join(root, workload)
    if not os.path.exists(os.path.join(out, "manifest.json")):
        tmp = f"{out}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        manifest = GENERATORS[workload](seed, tmp)
        with open(os.path.join(tmp, "manifest.json"), "w") as f:
            json.dump(manifest, f)
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
    with open(os.path.join(out, "manifest.json")) as f:
        return out, json.load(f)
