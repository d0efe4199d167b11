"""Seeded input generation. Everything here runs before any timed job; the
library under test receives only the files written here.

- transcripts + probes (parquet) come from ``powershap_spark.synth``;
- the WARC crawl is generated with NumPy, together with the values the
  checks expect of it.
"""

from __future__ import annotations

import os

import numpy as np

# pit_select: ~233k turns / ~47k probes; the hottest conversation holds
# 10%. Many short conversations keep the turn count within a few percent
# across seeds (the 3% x8 long tail is what varies).
PIT_N_CONV = 12000
PIT_MEAN_TURNS = 12
PIT_HOT_FRAC = 0.10
PIT_PROBE_FRAC = 0.2

# crawl_chain
CRAWL_PAGES = 1000
CRAWL_SHARDS = 8
CRAWL_DUP_FRAC = 0.08
CRAWL_VOCAB = 3000
CRAWL_WORDS = (40, 200)
_SYLLABLES = (
    "ar at er in ow or st lu jo par mer ka te ro sa li ne po mi da "
    "ver tion con pre ing ed al is um an"
).split()


def write_transcripts(spark, seed: int, out_dir: str) -> dict:
    from powershap_spark import synth

    t_path = os.path.join(out_dir, "transcripts.parquet")
    p_path = os.path.join(out_dir, "probes.parquet")
    t = synth.transcripts(
        spark,
        n_conv=PIT_N_CONV,
        mean_turns=PIT_MEAN_TURNS,
        hot_frac=PIT_HOT_FRAC,
        seed=seed,
        # same rows either way; the plain cumulative sum generates faster
        # at this size
        skew_safe=False,
    )
    t.write.mode("overwrite").parquet(t_path)
    p = synth.probes(
        spark, spark.read.parquet(t_path), probe_frac=PIT_PROBE_FRAC, seed=seed
    )
    p.write.mode("overwrite").parquet(p_path)
    return {"transcripts": t_path, "probes": p_path}


def _vocab(rng) -> list[str]:
    words: set[str] = set()
    while len(words) < CRAWL_VOCAB:
        k = int(rng.integers(1, 5))
        words.add("".join(rng.choice(_SYLLABLES, k)))
    return sorted(words)


def _warc_record(pid: int, body: str) -> bytes:
    payload = (
        f"<html><head><title>p{pid}</title></head><body>"
        f"<h1>page {pid}</h1><p>{body}</p>"
        f"<script>var x=1;</script></body></html>"
    ).encode()
    return (
        b"WARC/1.0\r\n"
        b"WARC-Type: response\r\n"
        + f"WARC-Target-URI: https://crawl.test/{pid}\r\n".encode()
        + f"WARC-Record-ID: <urn:uuid:{pid}>\r\n".encode()
        + f"Content-Length: {len(payload)}\r\n".encode()
        + b"\r\n"
        + payload
        + b"\r\n\r\n"
    )


def write_crawl(seed: int, out_dir: str) -> dict:
    """Pages of Zipf-distributed pseudo-words; about CRAWL_DUP_FRAC of them
    repeat an earlier page's body exactly. The extracted text of a page is
    its body (the title sits in <head>, the two-word <h1> is dropped as
    boilerplate), so the expected dedup survivors are the lowest page id of
    each distinct body."""
    rng = np.random.default_rng(seed)
    vocab = np.array(_vocab(rng))
    weights = 1.0 / (np.arange(len(vocab)) + 2.7)
    weights /= weights.sum()
    lo, hi = CRAWL_WORDS
    bodies: list[str] = []
    for pid in range(CRAWL_PAGES):
        if pid >= 16 and rng.random() < CRAWL_DUP_FRAC:
            bodies.append(bodies[int(rng.integers(pid))])
        else:
            n = int(rng.integers(lo, hi))
            bodies.append(" ".join(rng.choice(vocab, n, p=weights)))
    crawl_dir = os.path.join(out_dir, "crawl")
    os.makedirs(crawl_dir, exist_ok=True)
    shards: list[list[bytes]] = [[] for _ in range(CRAWL_SHARDS)]
    for pid, body in enumerate(bodies):
        shards[pid % CRAWL_SHARDS].append(_warc_record(pid, body))
    for s, recs in enumerate(shards):
        with open(os.path.join(crawl_dir, f"shard{s:02d}.warc"), "wb") as f:
            f.write(b"".join(recs))
    first: dict[str, int] = {}
    for pid, body in enumerate(bodies):
        first.setdefault(body, pid)
    return {
        "crawl": crawl_dir,
        "pages": CRAWL_PAGES,
        "kept_ids": sorted(first.values()),
        "bodies": bodies,
    }
