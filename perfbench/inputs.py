"""Seeded input generators for the benchmark workloads.

Every input is a pure function of ``(seed, size)``: the same pair gives
byte-identical files, a different seed gives different ones. Nothing
here imports Spark, so inputs are built (and cached) before the
measured session starts and the program under test only ever sees the
generated files.

- ``csv_etl``: a rent_contracts-shaped CSV split into part files, with
  the hazards the flagship pipeline exists for: ``_ar`` mirror columns,
  unparseable and impossible dates, int32-overflowing amounts and the
  multi-token nulls ``"" / null / NULL / None``.
- ``dedup_stream``: a history corpus in the shape of
  ``tools/curation_at_scale.generate_corpus`` (2 % exact and 2 % near
  duplicates planted), plus micro-batches mixing fresh documents with
  planted in-batch copies and exact or near copies of history documents.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np

#: bump when a generator's output changes, so stale caches are ignored
GENERATOR_VERSION = 1

PARTS = 8
#: cache entries (inputs of one kind, seed and size) kept on disk
CACHE_ENTRIES = 8

_MIRROR_FIELDS = [
    ("property_usage", "سكني", ["Residential", "Commercial", "Industrial"]),
    ("property_type", "شقة", ["Flat", "Villa", "Office", "Shop"]),
    ("tenant_type", "فرد", ["Person", "Company"]),
    ("master_project", "مشروع", ["Marina Heights", "Palm Gardens", "Creek View"]),
    ("nearest_landmark", "برج", ["Burj Area", "Airport", "Expo Site", "Old Town"]),
    ("nearest_metro", "محطة", ["Red Line 1", "Red Line 2", "Green Line 1"]),
    ("nearest_mall", "مركز", ["Grand Mall", "City Centre", "Marina Mall"]),
]

#: integer-typed CSV columns (everything else is a string in the schema)
CSV_LONG_COLUMNS = (
    "contract_reg_type_id",
    "contract_amount",
    "annual_amount",
    "area_id",
    "actual_area",
)
CSV_DATE_COLUMNS = ("contract_start_date", "contract_end_date")
NULL_TOKENS = ("", "null", "NULL", "None")


def csv_columns() -> list[str]:
    cols = [
        "contract_id",
        "contract_reg_type_id",
        "contract_reg_type_ar",
        "contract_reg_type_en",
        "contract_start_date",
        "contract_end_date",
        "contract_amount",
        "annual_amount",
        "area_id",
        "area_name_ar",
        "area_name_en",
        "actual_area",
        "project_number",
    ]
    for name, _, _ in _MIRROR_FIELDS:
        cols += [f"{name}_ar", f"{name}_en"]
    return cols


def csv_schema():
    """The declared read schema (all strings except the long columns)."""
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField(c, T.LongType() if c in CSV_LONG_COLUMNS else T.StringType())
            for c in csv_columns()
        ]
    )


def _with_nulls(rng, values: np.ndarray, rate: float) -> np.ndarray:
    """Replace a ``rate`` share of cells by a random null token."""
    values = values.astype(object)
    hit = rng.random(len(values)) < rate
    values[hit] = rng.choice(NULL_TOKENS, int(hit.sum()))
    return values


def _labels(prefix: str, values: np.ndarray) -> np.ndarray:
    """``prefix + str(v)`` per cell, for small non-negative ints."""
    table = np.array([f"{prefix}{v}" for v in range(int(values.max()) + 1)], dtype=object)
    return table[values]


def _dates(rng, n: int, first_year: int, garbage_rate: float) -> np.ndarray:
    days = rng.integers(0, 5 * 365, n)
    base = np.datetime64(f"{first_year}-01-01")
    out = np.datetime_as_string(base + days.astype("timedelta64[D]"), unit="D").astype(object)
    bad = rng.random(n) < garbage_rate
    # unparseable text, impossible calendar dates and foreign formats all
    # parse to NULL under the pipeline's lenient date contract
    out[bad] = rng.choice(
        ["garbage-date", "2021-02-30", "2020-13-01", "31/12/2020", "None", ""],
        int(bad.sum()),
    )
    return out


def _csv_frame(rng, start: int, n: int):
    import pandas as pd

    ids = np.arange(start, start + n)
    reg = rng.integers(1, 3, n)
    area = rng.integers(0, 40, n)
    amount = rng.integers(40, 840, n) * 500
    # int32-overflowing amounts: the rows the pipeline must quarantine
    overflow = rng.random(n) < 0.002
    amount = np.where(overflow, rng.choice([5_000_000_000, -3_000_000_000], n), amount)
    annual = rng.integers(40, 840, n) * 500
    cols = {
        "contract_id": [f"CRT{i:08d}" for i in ids],
        "contract_reg_type_id": _with_nulls(rng, reg, 0.002),
        "contract_reg_type_ar": _labels("عقد", reg),
        "contract_reg_type_en": np.where(reg == 1, "New", "Renew"),
        "contract_start_date": _dates(rng, n, 2018, 0.01),
        "contract_end_date": _dates(rng, n, 2019, 0.02),
        "contract_amount": _with_nulls(rng, amount, 0.005),
        "annual_amount": _with_nulls(rng, annual, 0.005),
        "area_id": area,
        "area_name_ar": _labels("منطقة", area),
        "area_name_en": _labels("Area ", area),
        "actual_area": rng.integers(100, 1000, n),
        "project_number": _with_nulls(rng, _labels("", rng.integers(0, 30, n)), 0.15),
    }
    for i, (name, ar_prefix, pool) in enumerate(_MIRROR_FIELDS):
        pick = rng.integers(0, len(pool), n)
        cols[f"{name}_ar"] = _labels(f"{ar_prefix} ", pick + i)
        cols[f"{name}_en"] = _with_nulls(rng, np.array(pool, dtype=object)[pick], 0.01)
    return pd.DataFrame(cols, columns=csv_columns())


def write_csv(path: str, seed: int, rows: int) -> None:
    """``rows`` rent_contracts-shaped rows as ``PARTS`` part files."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(path, exist_ok=True)
    per = -(-rows // PARTS)
    for part in range(PARTS):
        start = part * per
        n = min(per, rows - start)
        if n <= 0:
            break
        _csv_frame(rng, start, n).to_csv(
            os.path.join(path, f"part-{part:05d}.csv"), index=False
        )


# -- document corpus ---------------------------------------------------

VOCAB = 30_000
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it", "that", "for")


_WORDS = np.array([f"w{i}" for i in range(VOCAB)], dtype=object)


def _random_tokens(rng, n_tokens: int) -> list[str]:
    """Random words with ~15 % English stopwords, so the quality filter
    keeps most documents and drops only the short ones."""
    words = _WORDS[rng.integers(0, VOCAB, n_tokens)]
    stop = rng.random(n_tokens) < 0.15
    words[stop] = rng.choice(STOPWORDS, int(stop.sum()))
    return list(words)


def _near_copy(rng, tokens: list[str]) -> list[str]:
    """Re-roll every 17th token (~6 % churn, 3-gram Jaccard ~0.7 — above
    the 0.5 dedup threshold), as ``generate_corpus`` plants them."""
    out = list(tokens)
    positions = range(0, len(out), 17)
    for p, w in zip(positions, _WORDS[rng.integers(0, VOCAB, len(positions))]):
        out[p] = w
    return out


def corpus_docs(seed: int, n_docs: int) -> list[str]:
    """History texts for doc ids ``0..n_docs-1``: id%50==1 is an exact
    copy of id-1, id%50==2 a near copy of id-2."""
    rng = np.random.default_rng([seed, 2])
    lengths = rng.integers(20, 301, n_docs)
    words = _random_tokens(rng, int(lengths.sum()))
    ends = np.cumsum(lengths)
    texts: list[str] = []
    for i in range(n_docs):
        if i % 50 == 1:
            texts.append(texts[i - 1])
        elif i % 50 == 2:
            texts.append(" ".join(_near_copy(rng, texts[i - 2].split(" "))))
        else:
            texts.append(" ".join(words[ends[i] - lengths[i] : ends[i]]))
    return texts


def write_corpus(path: str, seed: int, n_docs: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    texts = corpus_docs(seed, n_docs)
    os.makedirs(path, exist_ok=True)
    per = -(-n_docs // PARTS)
    for part in range(PARTS):
        lo, hi = part * per, min((part + 1) * per, n_docs)
        if lo >= hi:
            break
        table = pa.table(
            {"doc_id": pa.array(range(lo, hi), pa.int64()), "text": texts[lo:hi]}
        )
        pq.write_table(table, os.path.join(path, f"part-{part:05d}.parquet"))


#: planted-document kinds in a micro-batch
FRESH, BATCH_COPY, HISTORY_EXACT, HISTORY_NEAR = "fresh", "batch_copy", "history_exact", "history_near"


def batch_docs(seed: int, batch: int, size: int, history: list[str], first_id: int):
    """One micro-batch: ``(doc_ids, texts, kinds, sources)``.

    ~84 % fresh documents, ~6 % exact copies of an earlier doc of the
    same batch (a higher id than its original, so the predecessor rule
    drops the copy), ~5 % exact and ~5 % near copies of history docs.
    ``sources[i]`` is the copied doc's id (-1 for fresh docs). Ids are
    unique and non-null: the sink's keyed-batch contract."""
    rng = np.random.default_rng([seed, 3, batch])
    ids, texts, kinds, sources = [], [], [], []
    for j in range(size):
        doc_id = first_id + j
        r = rng.random()
        if r < 0.06 and j > 0:
            k = int(rng.integers(0, j))
            kind, src, text = BATCH_COPY, ids[k], texts[k]
        elif r < 0.11:
            h = int(rng.integers(0, len(history)))
            kind, src, text = HISTORY_EXACT, h, history[h]
        elif r < 0.16:
            h = int(rng.integers(0, len(history)))
            kind, src = HISTORY_NEAR, h
            text = " ".join(_near_copy(rng, history[h].split(" ")))
        else:
            kind, src = FRESH, -1
            text = " ".join(_random_tokens(rng, int(rng.integers(20, 301))))
        ids.append(doc_id)
        texts.append(text)
        kinds.append(kind)
        sources.append(src)
    return ids, texts, kinds, sources


def write_batch(path: str, ids: list[int], texts: list[str]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    pq.write_table(
        pa.table({"doc_id": pa.array(ids, pa.int64()), "text": texts}),
        os.path.join(path, "part-00000.parquet"),
    )


# -- cache ---------------------------------------------------------------


def dir_digest(path: str) -> str:
    """sha256 over every file's relative name and bytes, in name order."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for name in sorted(files):
            full = os.path.join(root, name)
            h.update(os.path.relpath(full, path).encode())
            with open(full, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def cached(cache_root: str, kind: str, seed: int, size: int, write) -> str:
    """Directory holding ``write(dir, seed, size)``'s output, built once
    per ``(kind, seed, size)`` and reused afterwards. Built under a
    temporary name and renamed, so an interrupted build is never used.
    Only the ``CACHE_ENTRIES`` most recently used entries are kept."""
    final = os.path.join(cache_root, f"{kind}-v{GENERATOR_VERSION}-s{seed}-n{size}")
    if os.path.isdir(final):
        os.utime(final)  # most recently used
        return final
    tmp = final + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    write(tmp, seed, size)
    os.rename(tmp, final)
    _evict(cache_root)
    return final


def _evict(cache_root: str) -> None:
    """Delete all but the ``CACHE_ENTRIES`` most recently used entries."""
    entries = sorted(
        (os.path.join(cache_root, d) for d in os.listdir(cache_root)
         if not d.endswith(".partial")),
        key=os.path.getmtime,
    )
    for path in entries[:-CACHE_ENTRIES]:
        shutil.rmtree(path, ignore_errors=True)
