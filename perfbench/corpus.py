"""Seeded inputs for every workload.

The program under test only ever receives the generated tables: the
seed picks which hosts start a crawl and which doc_id each document gets,
and the same seed always yields the same tables.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# the documents table of the sf0.1 synthetic test data (5,000 rows,
# stored with zstd); the funnel over it in doc_id order cuts 5258 / 5121 /
# 2206 / 2145 / 2090 / 2051 / 967 / 645 / 80 / 28 / 10 / 1425
SF_DOCUMENTS = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "data", "sf_documents.parquet")


def seeded_rank(index: int, seed: int) -> int:
    """Stable 64-bit hash of (index, seed): orders hosts and docs per seed."""
    h = hashlib.blake2b(f"{seed}:{index}".encode(), digest_size=8)
    return int.from_bytes(h.digest(), "big")


def seeded_hosts(num_hosts: int, n_pick: int, seed: int) -> list[int]:
    """The ``n_pick`` host indices with the smallest seeded hash — an
    exact-size, seed-dependent host sample."""
    order = sorted(range(num_hosts), key=lambda h: seeded_rank(h, seed))
    return sorted(order[:n_pick])


def seeds_frame(hosts: list[int], num_pages: int, seed: int) -> pd.DataFrame:
    """Seed URLs (url, seed_order) of the big web: per seeded host, the
    page the seed picks."""
    rows = [
        (f"https://h{h}.bench/p{seeded_rank(h, seed + 1) % num_pages}", i)
        for i, h in enumerate(hosts)
    ]
    return pd.DataFrame(rows, columns=["url", "seed_order"])


def write_seeds(d: str, hosts: list[int], num_pages: int, seed: int) -> None:
    """Write the seed table as one parquet file under directory ``d``."""
    os.makedirs(d, exist_ok=True)
    pq.write_table(
        pa.Table.from_pandas(seeds_frame(hosts, num_pages, seed),
                             preserve_index=False),
        os.path.join(d, "part-0.parquet"),
    )


def documents_frame(seed: int) -> pd.DataFrame:
    """documents(doc_id, text, lang, source, n_chars): every row of
    ``SF_DOCUMENTS`` with its doc_id replaced by the row's place in a
    seeded order. The texts, labels and sources are the sf ones; the
    seed decides which docs the funnel's doc_id rules pick (planted
    copies, eval slice, langid training half, domain-cap and mixture
    order)."""
    docs = pq.read_table(SF_DOCUMENTS).to_pandas()
    order = sorted(range(len(docs)),
                   key=lambda i: seeded_rank(int(docs["doc_id"].iat[i]), seed))
    docs = docs.iloc[order].reset_index(drop=True)
    docs["doc_id"] = np.arange(len(docs), dtype=np.int64)
    return docs


def write_documents(sf_dir: str, seed: int) -> str:
    """Write ``documents.parquet`` into ``sf_dir`` (the layout
    ``__spark_entry__.queries()`` reads) and return its path."""
    os.makedirs(sf_dir, exist_ok=True)
    path = os.path.join(sf_dir, "documents.parquet")
    pq.write_table(
        pa.Table.from_pandas(documents_frame(seed), preserve_index=False),
        path,
    )
    return path
