"""Workload inputs: the ``sources.synth`` corpus written as a parquet dataset.

The corpus is split over ``N_FILES`` parquet files, as a crawl shard arrives
in many files. Spark packs small files into read tasks by bytes, so this
gives every core of a 4-CPU box rows to work on; one small file would be a
single task and the benchmark would measure one core.
"""

from __future__ import annotations

import dataclasses
import os

N_FILES = 8
#: short_pages cuts every text to this many UTF-8 bytes, below the driver's
#: default ``--min-size`` of 200 bytes, so every page stops at that gate
SHORT_BYTES = 150


def pages(n_docs: int, seed: int, short: bool = False) -> list:
    """``synth.generate_pages`` rows; with ``short``, each text is cut to its
    first ``SHORT_BYTES`` bytes on a character boundary."""
    from wikisource_latin_text_cleaner_spark.sources import synth

    rows = synth.generate_pages(n_docs, seed)
    if short:
        rows = [
            dataclasses.replace(
                r, text=r.text.encode("utf-8")[:SHORT_BYTES].decode("utf-8", "ignore")
            )
            for r in rows
        ]
    return rows


def write(path: str, rows: list) -> None:
    """Write ``rows`` as ``N_FILES`` parquet files in the ``pages`` schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path)
    per = -(-len(rows) // N_FILES)
    for k in range(N_FILES):
        part = rows[k * per:(k + 1) * per]
        pq.write_table(pa.table({
            "url": [r.url for r in part],
            "warc_ts": pa.array([r.warc_ts for r in part], type=pa.timestamp("us")),
            "html": pa.array([r.html for r in part], type=pa.binary()),
            "text": [r.text for r in part],
            "lang": [r.lang for r in part],
        }), os.path.join(path, f"part-{k:05d}.parquet"))
