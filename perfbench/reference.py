"""Output check: the driver's result against a pure-Python reference.

The reference runs the per-document ``functions.*`` calls that the fused UDF
composes, for the driver's ``--mode web`` flag set, outside Spark. The
driver's output table must hold the same ``(url, keep, clean_text)`` rows,
compared through an order-free digest, and its JSON line must report
matching counts.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

#: driver defaults for ``--min-size`` and ``--allowed-langs``
MIN_SIZE_BYTES = 200
ALLOWED_LANGS = ("la",)


def decide(text: str) -> tuple[bool, tuple, str]:
    """(keep, drop_reasons, clean_text) of one document under ``--mode web``."""
    from wikisource_latin_text_cleaner_spark.functions import langid, pii, rules

    v = rules.evaluate_document(text, MIN_SIZE_BYTES, rules.ExtensionConfig())
    keep, reasons, cleaned = v.keep, list(v.drop_reasons), v.clean_text
    lang, _ = langid.predict(cleaned or "")
    if keep and lang not in ALLOWED_LANGS:
        reasons.append("langid")
        keep = False
    scrubbed, _ = pii.scrub_pii(cleaned or "")
    if keep:
        cleaned = scrubbed
    return keep, tuple(reasons), cleaned


def _row_hash(url: str, keep: bool, clean_text: str | None) -> int:
    h = hashlib.blake2b(digest_size=8)
    h.update(f"{url}\0{int(bool(keep))}\0{clean_text}".encode("utf-8"))
    return int.from_bytes(h.digest(), "little")


def digest(rows) -> str:
    """Order-free digest of ``(url, keep, clean_text)`` rows: count and sum
    of per-row hashes modulo 2**64."""
    n = total = 0
    for url, keep, clean_text in rows:
        n += 1
        total = (total + _row_hash(url, keep, clean_text)) & 0xFFFF_FFFF_FFFF_FFFF
    return f"{n}:{total:016x}"


@dataclass(frozen=True)
class Expected:
    n_docs: int
    kept: int
    digest: str
    decisions: tuple  # (keep, drop_reasons, clean_text) per input row


def expected(urls: list, decisions: list) -> Expected:
    return Expected(
        n_docs=len(urls),
        kept=sum(1 for d in decisions if d[0]),
        digest=digest((u, d[0], d[2]) for u, d in zip(urls, decisions)),
        decisions=tuple(decisions),
    )


def decide_all(texts: list) -> list:
    return [decide(t) for t in texts]


def read_output(out_dir: str) -> list:
    """(url, keep, clean_text, bucket) of every row in ``<out>/data``."""
    import pyarrow.dataset as ds

    table = ds.dataset(
        os.path.join(out_dir, "data"), format="parquet", partitioning="hive"
    ).to_table(columns=["url", "keep", "clean_text", "bucket"])
    return list(zip(*(table.column(c).to_pylist() for c in table.column_names)))


def check(out_dir: str, exp: Expected, run_buckets: set,
          line: dict | None = None) -> list[str]:
    """Problems found in a driver run's output; empty when it is correct.

    ``run_buckets`` are the bucket ids the call had to compute; ``line`` is
    the driver's JSON line (None when checking a bare ``run_resumable``)."""
    rows = read_output(out_dir)
    problems = []
    got = digest((u, k, c) for u, k, c, _ in rows)
    if got != exp.digest:
        problems.append(f"output digest {got} != reference {exp.digest}")
    if line is None:
        return problems
    want = {
        "docs_in": exp.n_docs,
        "docs_kept": exp.kept,
        "docs_quarantined": exp.n_docs - exp.kept,
        "buckets_run": len(run_buckets),
        "docs_processed": sum(1 for *_, b in rows if b in run_buckets),
    }
    for key, value in want.items():
        if line.get(key) != value:
            problems.append(f"driver {key}={line.get(key)} != {value}")
    if line.get("docs_kept", 0) + line.get("docs_quarantined", 0) != line.get("docs_in"):
        problems.append("driver docs_kept + docs_quarantined != docs_in")
    return problems
