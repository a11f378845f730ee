"""The reference pass: a fixed PySpark job over the same pages that runs no
``lexor_spark`` code.

The host the benchmark runs on shares its CPUs with other machines and runs
everything up to ~1.5x slower for spells of minutes, which cover whole runs.
So each timed unit of a workload is paired with one reference pass, and the
end-to-end throughput is reported relative to it: a slow spell slows both
alike, a change to the program moves only the unit.

The pass has the shape of an extraction job: the scan, a column prune, a
salted exchange into four partitions per core, a ``mapInArrow`` batch loop
in Python workers and a ``noop`` sink.  Per page, its Python code decodes
the HTML and sums the lengths of the tag names.  This file is
pickled by value, so the workers need not import it.
"""

from __future__ import annotations

import sys
import time
from typing import Iterator

import pyarrow as pa
from pyspark import cloudpickle
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SALT_BUCKETS = 256
PARTITIONS_PER_CORE = 4
SCHEMA = "url string, tag_chars long"


def _tag_chars(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    for b in batches:
        counts = []
        for html in b.column(1).to_pylist():
            n = 0
            for part in (html or b"").decode("utf-8", "replace").split("<"):
                if part[:1].isalpha():
                    n += len(part.split(" ", 1)[0])
            counts.append(n)
        yield pa.RecordBatch.from_arrays(
            [b.column(0), pa.array(counts, pa.int64())], ["url", "tag_chars"])


def reference_df(pages: DataFrame) -> DataFrame:
    n_parts = (pages.sparkSession.sparkContext.defaultParallelism
               * PARTITIONS_PER_CORE)
    return (pages.select("url", "html")
            .repartition(n_parts,
                         F.pmod(F.xxhash64("url"), F.lit(SALT_BUCKETS)))
            .mapInArrow(_tag_chars, SCHEMA))


def run(pages: DataFrame) -> float:
    """One reference pass into a ``noop`` sink; returns its wall time."""
    df = reference_df(pages)
    t0 = time.perf_counter()
    df.write.mode("overwrite").format("noop").save()
    return time.perf_counter() - t0


cloudpickle.register_pickle_by_value(sys.modules[__name__])
