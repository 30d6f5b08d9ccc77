"""Seeded input generators. Every input a workload reads is a pure function
of the ``--seed`` argument and is written to files during set-up; the
program under test only ever sees those files."""

from __future__ import annotations

import random

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
N_NATIONS = 25


def page_windows(seed: int, n_batches: int, batch_pages: int) -> list[int]:
    """Start id of each kg_build batch: distinct, batch-aligned windows
    ``[start, start + batch_pages)`` drawn from a 10^7-page id space, so
    no batch repeats another's pages."""
    rng = random.Random(f"pages:{seed}")
    slots = rng.sample(range(10**7 // batch_pages), n_batches)
    return [s * batch_pages for s in slots]


def customers(seed: int, n: int) -> list[tuple[int, str, str, int]]:
    """(c_custkey, c_name, c_mktsegment, c_nationkey) rows. Keys are a
    seeded sample, so the key-arithmetic violation classes of
    derive_customer_graph land on a different key set per seed."""
    rng = random.Random(f"customers:{seed}")
    keys = sorted(rng.sample(range(1, 10**6), n))
    return [
        (k, f"Customer#{k:09d}", rng.choice(SEGMENTS), rng.randrange(N_NATIONS))
        for k in keys
    ]
