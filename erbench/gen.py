"""Seeded input generation for the ER benchmark (the load generator).

Everything here is plain Python + pandas + pyarrow: input generation is
the benchmark's work, not the program's, so it runs before the Spark
session starts and stays out of ``setup_s``. Pages come from the
package's synthetic page model (``sources.pages._gen_entity_pages``:
1-8 near-duplicate variants per entity, Zipf-distributed hosts); the
seed picks a disjoint range of entity ids, so every seed is a
different corpus and the same seed is byte-identical.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from whoiswho_spark.sources.pages import _gen_entity_pages, _vocab

# entity ids of seed s live in [s * ID_STRIDE, (s + 1) * ID_STRIDE)
ID_STRIDE = 1_000_000
# second id range inside a seed's stride: entities that never enter a
# profile (the rnd_assign NIL pool)
UNSEEN_BASE = 500_000


def entity_pages(seed: int, n_pages: int, base: int = 0) -> pd.DataFrame:
    """url, warc_ts, html, text, lang, entity_id, embedding — exactly
    ``n_pages`` page variants of consecutive entities from the seed's
    range (the last entity may lose variants), so every seed has the
    same input size."""
    vocab = _vocab()
    n_hosts = max(4, n_pages // 225)  # ~4.5 variants per entity, 50 entities per host
    eid = seed * ID_STRIDE + base
    rows: list[dict] = []
    while len(rows) < n_pages:
        rows.extend(_gen_entity_pages(eid, n_hosts, vocab))
        eid += 1
    df = pd.DataFrame(rows[:n_pages])
    df["warc_ts"] = df["warc_ts"].astype("datetime64[us]")
    return df


def write_parquet(df: pd.DataFrame, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)


def pages_digest(df: pd.DataFrame) -> str:
    """Order-free content hash of a page table (url + html)."""
    h = hashlib.sha256()
    for url, html in sorted(zip(df["url"], df["html"])):
        h.update(url.encode())
        h.update(b"\0")
        h.update(html)
    return h.hexdigest()[:16]


def rnd_inputs(
    seed: int,
    n_corpus_pages: int,
    n_requests: int,
    request_size: int,
    unseen_per_request: int,
) -> tuple[pd.DataFrame, list[pd.DataFrame]]:
    """Profile corpus + request batches.

    Each request holds ``request_size - unseen_per_request`` held-out
    variants of profiled entities (one variant withheld from the
    profile, so it should attach to that entity's cluster) and
    ``unseen_per_request`` pages of entities outside the profile (they
    should go to NIL). Requests are disjoint.
    """
    corpus = entity_pages(seed, n_corpus_pages)
    multi = corpus.groupby("entity_id")["url"].transform("size") > 1
    last = corpus.groupby("entity_id").cumcount(ascending=False) == 0
    held = corpus[multi & last]
    profile = corpus.drop(held.index).reset_index(drop=True)
    n_held = request_size - unseen_per_request
    if len(held) < n_requests * n_held:
        raise ValueError(
            f"{len(held)} held-out pages < {n_requests} requests x {n_held}"
        )
    rs = np.random.RandomState(seed % 2**32)
    held = held.iloc[rs.permutation(len(held))].reset_index(drop=True)
    # one page per unseen entity (variants of one entity would match each other)
    unseen = entity_pages(seed, 8 * n_requests * unseen_per_request, UNSEEN_BASE)
    unseen = unseen.groupby("entity_id").head(1).reset_index(drop=True)
    requests = []
    for r in range(n_requests):
        req = pd.concat(
            [
                held.iloc[r * n_held : (r + 1) * n_held],
                unseen.iloc[r * unseen_per_request : (r + 1) * unseen_per_request],
            ],
            ignore_index=True,
        )
        requests.append(req.assign(expect_nil=req["entity_id"] >= seed * ID_STRIDE + UNSEEN_BASE))
    return profile, requests


def stream_inputs(
    seed: int, n_pages: int, n_files: int, n_hosts: int = 8, zipf_s: float = 1.2
) -> list[pd.DataFrame]:
    """(url, block_key = host, toks = distinct text tokens) split into
    ``n_files`` shuffled files. Hosts get Zipf-shaped page quotas
    (rank k ~ k^-zipf_s), filled by consecutive entities, so the head
    block is large and every seed has the same block-size profile (the
    page model's own host draw is close to uniform)."""
    pages = entity_pages(seed, n_pages)
    p = np.arange(1, n_hosts + 1, dtype=float) ** -zipf_s
    quota = p / p.sum() * n_pages
    sizes = pages.groupby("entity_id", sort=False).size()
    host_of, k, filled = {}, 0, 0
    for ent, size in sizes.items():
        if filled >= quota[k] and k < n_hosts - 1:
            k, filled = k + 1, 0
        host_of[ent] = f"site{k}.example.com"
        filled += size
    hosts = pages["entity_id"].map(host_of)
    paths = pages["url"].str.replace(r"^https://[^/]+", "", regex=True)
    df = pd.DataFrame(
        {
            "url": hosts.radd("https://") + paths,
            "block_key": hosts,
            "toks": [sorted(set(t for t in s.split(" ") if t)) for s in pages["text"]],
        }
    )
    rs = np.random.RandomState(seed % 2**32)
    df = df.iloc[rs.permutation(len(df))].reset_index(drop=True)
    return [df.iloc[i::n_files].reset_index(drop=True) for i in range(n_files)]
