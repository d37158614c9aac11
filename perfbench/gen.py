"""Seeded inputs for the benchmark workloads.

Everything the program receives is drawn here from `--seed`: the corpus
(through `sources.synth.gen_batch` at seed-derived batch offsets), the
query stream, and each maintenance cycle's new crawl version of the
corpus (updates, deletes, creates and injected near-duplicates). The
functions are pure numpy/pandas, so the same seed gives the same inputs
without a Spark session.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass

import numpy as np
import pandas as pd

from ela_lib_spark.sources.synth import BATCH, VOCAB_SIZE, gen_batch, vocabulary

# Rank bands of the Zipf vocabulary (term0000 is the most frequent).
BANDS = {"head": (0, 100), "mid": (100, 2000), "rare": (2000, VOCAB_SIZE)}
_VOCAB = vocabulary()
_BATCH_SPACE = 1 << 20  # batch ids are drawn from [0, 2^20): urls never collide
MAX_BATCHES = 256


def batch_ids(seed: int, n: int) -> list[int]:
    """The first `n` of MAX_BATCHES distinct seed-derived synth batch
    ids (always drawn in full, so a prefix does not depend on `n`)."""
    if n > MAX_BATCHES:
        raise ValueError(f"at most {MAX_BATCHES} batches per seed")
    rng = np.random.default_rng([seed, 0])
    return [int(b) for b in rng.choice(_BATCH_SPACE, size=MAX_BATCHES,
                                       replace=False)[:n]]


def pages_from_batch(batch_id: int, n_rows: int) -> pd.DataFrame:
    return gen_batch(batch_id, n_rows, batch_id * BATCH)


def corpus(seed: int, n_docs: int) -> pd.DataFrame:
    """`n_docs` web_pages rows from the first seed-derived batches."""
    ids = batch_ids(seed, (n_docs + BATCH - 1) // BATCH)
    parts = [pages_from_batch(b, min(BATCH, n_docs - i * BATCH))
             for i, b in enumerate(ids)]
    return pd.concat(parts, ignore_index=True)


@dataclass(frozen=True)
class Query:
    terms: tuple[str, ...]
    mode: str  # "OR" or "AND"
    min_match: int | None = None

    @property
    def key(self) -> str:
        mm = f"/mm{self.min_match}" if self.min_match else ""
        return f"{self.mode}{mm}:{'+'.join(self.terms)}"


# The stream cycles through query classes (shape x band pattern), so
# every run of a few dozen queries has the same mix whatever the seed.
SHAPES = ((1, "OR", None), (2, "OR", None), (2, "AND", None),
          (3, "OR", None), (3, "AND", None), (3, "OR", 2))  # n_terms, mode, min_match
PATTERNS = (("head", "mid", "rare"), ("mid", "rare", "mid"))  # band of each term
CLASSES = [(shape, pat) for pat in PATTERNS for shape in SHAPES]


def query_stream(seed: int, n: int, pool_size: int = 50) -> list[Query]:
    """Closed-loop query stream: query i belongs to CLASSES[i % 12]; its
    terms are drawn uniformly within their bands. Each class picks from
    a seeded pool of `pool_size` queries with 1/rank weights, so some of
    the stream repeats."""
    rng = np.random.default_rng([seed, 1])
    pools = []
    for (n_terms, mode, mm), pattern in CLASSES:
        pool, seen = [], set()
        while len(pool) < pool_size:
            terms = tuple(sorted({_VOCAB[int(rng.integers(*BANDS[b]))]
                                  for b in pattern[:n_terms]}))
            q = Query(terms, mode, mm)
            if len(terms) == n_terms and q.key not in seen:
                seen.add(q.key)
                pool.append(q)
        pools.append(pool)
    w = 1.0 / np.arange(1, pool_size + 1)
    picks = rng.choice(pool_size, size=n, p=w / w.sum())
    return [pools[i % len(CLASSES)][int(j)] for i, j in enumerate(picks)]


def stream_shape(stream: list[Query]) -> dict:
    """Shares of repeated, AND, min_match and head-term queries."""
    head = set(_VOCAB[BANDS["head"][0]:BANDS["head"][1]])
    seen: set[str] = set()
    repeated = 0
    for q in stream:
        repeated += q.key in seen
        seen.add(q.key)
    n = max(1, len(stream))
    return {
        "queries": len(stream),
        "distinct": len(seen),
        "repeated_share": repeated / n,
        "and_share": sum(q.mode == "AND" for q in stream) / n,
        "min_match_share": sum(q.min_match is not None for q in stream) / n,
        "head_term_share": sum(any(t in head for t in q.terms) for q in stream) / n,
    }


@dataclass
class SyncCycle:
    """One new crawl version of the corpus and what it should yield."""

    src: pd.DataFrame  # the new version of every live page
    upserts: pd.DataFrame  # updated + created pages, near-duplicates included
    deletes: list[str]  # urls gone from the new version
    clusters: list[list[str]]  # [original url, near-duplicate urls...]
    expected: dict  # diff class -> count


def sync_cycle(current: pd.DataFrame, seed: int, cycle: int, create_batch: int,
               n_update: int, n_delete: int, n_create: int,
               n_clusters: int, copies: int) -> SyncCycle:
    """Mutate `current` (the live pages) into the next crawl version.

    Updates append three mid-band terms to a page's text; deletes drop
    pages; creates come from synth batch `create_batch`; each of
    `n_clusters` created pages of at least 100 tokens gets `copies`
    near-duplicates (one token replaced, new url)."""
    rng = np.random.default_rng([seed, 2, cycle])
    picks = rng.choice(len(current), size=n_update + n_delete, replace=False)
    upd_rows = current.iloc[picks[:n_update]].copy()
    del_urls = current["url"].iloc[picks[n_update:]].tolist()
    lo, hi = BANDS["mid"]
    extra = rng.integers(lo, hi, size=(n_update, 3))
    upd_rows["text"] = [
        t + " " + " ".join(_VOCAB[int(i)] for i in row)
        for t, row in zip(upd_rows["text"], extra)
    ]
    upd_rows["warc_ts"] = upd_rows["warc_ts"] + dt.timedelta(days=1 + cycle)

    created = pages_from_batch(create_batch, n_create)
    long_docs = np.flatnonzero(created["text"].str.count(" ").to_numpy() >= 99)
    originals = rng.choice(long_docs, size=n_clusters, replace=False)
    dups, clusters = [], []
    for o in originals:
        row = created.iloc[int(o)]
        toks = row["text"].split(" ")
        urls = [row["url"]]
        for j, pos in enumerate(rng.choice(len(toks), size=copies, replace=False)):
            t = list(toks)
            t[int(pos)] = _VOCAB[int(rng.integers(*BANDS["mid"]))]
            d = row.copy()
            d["text"] = " ".join(t)
            d["url"] = f"{row['url']}?dup={j}"
            dups.append(d)
            urls.append(d["url"])
        clusters.append(urls)
    creates = pd.concat([created, pd.DataFrame(dups)], ignore_index=True)

    gone = set(del_urls) | set(upd_rows["url"])
    src = pd.concat(
        [current[~current["url"].isin(gone)], upd_rows, creates],
        ignore_index=True,
    )
    expected = {
        "same": len(current) - n_update - n_delete,
        "update": n_update,
        "create": len(creates),
        "delete": n_delete,
    }
    return SyncCycle(
        src=src,
        upserts=pd.concat([upd_rows, creates], ignore_index=True),
        deletes=del_urls,
        clusters=clusters,
        expected=expected,
    )
