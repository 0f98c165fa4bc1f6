"""Seeded input generation for the benchmark workloads.

Every generator takes a ``numpy.random.Generator`` derived from the run's
``--seed`` and returns Arrow tables, so the same seed always produces the
same bytes. Nothing here imports the engine: a change to the program can
never change its inputs.

Version discipline: every batch stamps a version that is strictly greater
than any earlier version of the same key (the batch number for integer-key
tables, a later ``order_date`` for orders), so "latest version per key over
all batches" is unambiguous and the expected final state is exact.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

ALPHABET = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)


def rng_for(seed: int, *stream: int) -> np.random.Generator:
    """An independent generator per (seed, stream...) so inputs do not
    depend on the order in which they are generated."""
    return np.random.default_rng([seed, *stream])


def random_text(rng: np.random.Generator, n: int, width: int) -> pa.Array:
    """``n`` fixed-width lowercase strings built straight into an Arrow
    buffer (no per-row Python work)."""
    data = ALPHABET[rng.integers(0, len(ALPHABET), size=n * width)]
    offsets = np.arange(0, (n + 1) * width, width, dtype=np.int32)
    return pa.Array.from_buffers(
        pa.string(), n, [None, pa.py_buffer(offsets), pa.py_buffer(data.tobytes())]
    )


def uuids(rng: np.random.Generator, n: int) -> list[str]:
    raw = rng.integers(0, 256, size=(n, 16), dtype=np.uint8)
    raw[:, 6] = (raw[:, 6] & 0x0F) | 0x40  # version 4
    raw[:, 8] = (raw[:, 8] & 0x3F) | 0x80  # RFC 4122 variant
    out = []
    for row in raw:
        h = row.tobytes().hex()
        out.append(f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:]}")
    return out


# -- integer-key rows (upsert_bulk, read_mix) -------------------------------


def keyed_rows(
    rng: np.random.Generator,
    keys: np.ndarray,
    version: int,
    keys_per_day: int | None = None,
) -> pa.Table:
    """~200-byte rows keyed by time-ordered integers. ``ver`` is the
    precombine field and equals the batch number. ``day`` (read_mix only)
    is the partition column, derived from the key so a key never moves."""
    n = len(keys)
    cols = {
        "k": pa.array(keys, pa.int64()),
        "ver": pa.array(np.full(n, version, dtype=np.int64)),
        "a": pa.array(rng.integers(0, 1 << 40, size=n, dtype=np.int64)),
        "b": pa.array(np.round(rng.random(n) * 1000.0, 3)),
        "s1": random_text(rng, n, 96),
        "s2": random_text(rng, n, 64),
    }
    if keys_per_day is not None:
        cols["day"] = pa.array((keys // keys_per_day).astype(np.int32))
    return pa.table(cols)


def bulk_batch_keys(
    rng: np.random.Generator,
    next_key: int,
    rows: int,
    append: int,
    recent: int,
    recent_window: int,
) -> np.ndarray:
    """One upsert_bulk batch: ``append`` new keys past ``next_key``,
    ``recent`` updates within the newest ``recent_window`` keys, and the
    rest scattered uniformly over every existing key."""
    new = np.arange(next_key, next_key + append, dtype=np.int64)
    lo = max(0, next_key - recent_window)
    rec = rng.choice(np.arange(lo, next_key, dtype=np.int64), recent, replace=False)
    scat = rng.choice(lo, rows - append - recent, replace=False).astype(np.int64)
    return np.unique(np.concatenate([new, rec, scat]))


# -- FIXTURES section A entities (medallion_incremental) --------------------

STATES = ["CA", "NY", "TX", "FL", "WA", "IL", "PA", "OH"]
PRIORITIES = ["LOW", "MEDIUM", "HIGH"]


def customers(rng: np.random.Generator, n: int, day: int) -> pa.Table:
    """Customer rows (insert-only). ``created_at`` is an ISO timestamp on
    the batch's day, so later batches sort later."""
    ids = uuids(rng, n)
    secs = rng.integers(0, 86_400, size=n)
    return pa.table(
        {
            "customer_id": pa.array(ids),
            "name": random_text(rng, n, 12),
            "state": pa.array(np.array(STATES)[rng.integers(0, len(STATES), n)]),
            "city": random_text(rng, n, 8),
            "email": pa.array([f"{i[:8]}@example.com" for i in ids]),
            "created_at": pa.array(
                [
                    f"2024-{1 + day // 28:02d}-{1 + day % 28:02d}T"
                    f"{s // 3600:02d}:{s // 60 % 60:02d}:{s % 60:02d}"
                    for s in secs
                ]
            ),
            "address": random_text(rng, n, 40),
        }
    )


def order_date(day: int) -> str:
    """Day ``day`` of a synthetic calendar as ``YYYY-MM-DD``; strictly
    increasing in ``day`` for every day < 336."""
    return f"2024-{1 + day // 28:02d}-{1 + day % 28:02d}"


def orders(
    rng: np.random.Generator,
    order_ids: list[str],
    customer_ids: np.ndarray,
    day: int,
) -> pa.Table:
    """Order rows for the given ids (new or updated); every row of one
    batch carries the batch's ``order_date``, the precombine field."""
    n = len(order_ids)
    return pa.table(
        {
            "order_id": pa.array(order_ids),
            "name": random_text(rng, n, 16),
            "order_value": pa.array(rng.integers(10, 1001, size=n).astype(str)),
            "priority": pa.array(
                np.array(PRIORITIES)[rng.integers(0, len(PRIORITIES), n)]
            ),
            "order_date": pa.array([order_date(day)] * n),
            "customer_id": pa.array(
                customer_ids[rng.integers(0, len(customer_ids), n)]
            ),
        }
    )


# -- corpus documents (corpus_build) ----------------------------------------

VOCAB = (
    "batch part spark line column order small sort fast value scan hash slow "
    "group agg filter query big key window row table stream merge data join "
    "vector customer the a index lake file commit write read plan shuffle"
).split()
LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]


def documents(rng: np.random.Generator, n: int, sources: int = 10) -> pa.Table:
    """Corpus rows shaped like the ``documents`` table (10-100 words from a
    small vocabulary) plus a few exact duplicates, near duplicates (one
    word changed), and texts too short for the quality gate. ``doc_id`` is
    a seeded permutation, so the eval split (doc_id % 7) lands on different
    texts for each seed."""
    texts: list[str] = []
    originals: list[str] = []
    for _ in range(n):
        kind = rng.random()
        if originals and kind < 0.005:  # exact duplicate
            texts.append(originals[int(rng.integers(0, len(originals)))])
        elif originals and kind < 0.015:  # near duplicate: one word replaced
            words = originals[int(rng.integers(0, len(originals)))].split(" ")
            words[int(rng.integers(0, len(words)))] = VOCAB[
                int(rng.integers(0, len(VOCAB)))
            ]
            texts.append(" ".join(words))
        elif kind < 0.02:  # too short for the quality gate
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, 8, 2)))
        else:
            length = int(rng.integers(10, 101))
            texts.append(
                " ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), length))
            )
            originals.append(texts[-1])
    ids = rng.permutation(n * 3)[:n].astype(np.int64)
    return pa.table(
        {
            "doc_id": pa.array(ids),
            "text": pa.array(texts),
            "lang": pa.array(np.array(LANGS)[rng.integers(0, len(LANGS), n)]),
            "source": pa.array(
                [f"src{j}" for j in rng.integers(0, sources, n)]
            ),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )
