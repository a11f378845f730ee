"""Seeded input for the extraction benchmark.

The program only ever sees pages built by ``lexor_spark.pages.pages_df``
from a ``documents.parquet`` table.  This module writes that table.  The
text pool is fixed; the seed offsets and permutes the ``doc_id`` each text
is stored under.  ``pages_df`` derives the url, the main-content variant
(``doc_id % 4``) and the heavy pages (``doc_id % 101 == 0``) from
``doc_id``, so a new seed moves the urls, the salt placement and which text
gets which variant.  Every seed keeps the same amount of work: the ids form
one range that starts at a multiple of 4 * 101 and always has ten digits,
so the variant mix, the heavy ids' positions and the url lengths are fixed,
and the heavy pages always carry the same texts.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# Vocabulary, word-count range and language mix of the repository's
# synthetic documents table, so generated pages have its size and shape.
WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
WORDS_PER_DOC = (10, 99)
LANGS = ("en", "zh", "es", "de", "fr")
LANG_WEIGHTS = (0.44, 0.15, 0.14, 0.14, 0.13)
N_SOURCES = 20
TEXT_SEED = 1_000_003  # the text pool is the same for every seed
HEAVY_EVERY = 101  # pages_df: doc_id % 101 == 0 gets a ~150x body
VARIANTS = 4       # pages_df: doc_id % 4 picks the main-content variant
ID_BASE = 10 ** 9  # every id has ten digits


def documents_table(n_docs: int, seed: int) -> pa.Table:
    """``n_docs`` documents; the seed only decides which ``doc_id`` each
    text gets.  Row ``j`` gets id ``offset + perm[j]``, where ``perm`` fixes
    the heavy positions (multiples of ``HEAVY_EVERY``) and shuffles the
    others, and ``offset`` is a multiple of ``HEAVY_EVERY * VARIANTS``."""
    rng = random.Random(TEXT_SEED)
    lo, hi = WORDS_PER_DOC
    texts = [" ".join(rng.choice(WORDS) for _ in range(rng.randint(lo, hi)))
             for _ in range(n_docs)]
    langs = rng.choices(LANGS, weights=LANG_WEIGHTS, k=n_docs)
    stride = HEAVY_EVERY * VARIANTS
    offset = stride * (ID_BASE // stride + 1
                       + (seed % 100_003) * (n_docs // stride + 1))
    perm = list(range(n_docs))
    light = [i for i in perm if i % HEAVY_EVERY]
    for i, j in zip(light, random.Random(seed).sample(light, len(light))):
        perm[i] = j
    ids = [offset + i for i in perm]
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{i % N_SOURCES}" for i in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def materialize(spark, n_docs: int, seed: int, heavy_tail: bool,
                out_dir: str):
    """Write the documents table, build the pages with ``pages_df`` and
    write them to parquet under ``out_dir``; returns the DataFrame that
    scans them, the shape a production job reads."""
    from lexor_spark.pages import pages_df

    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(documents_table(n_docs, seed),
                   os.path.join(out_dir, "documents.parquet"))
    pages_path = os.path.join(out_dir, "pages")
    pages_df(spark, out_dir, heavy_tail=heavy_tail) \
        .write.mode("overwrite").parquet(pages_path)
    return spark.read.parquet(pages_path), pages_path
