"""Seeded inputs for the benchmark workloads.

Every input is a pure function of the workload seed and written as
parquet under the benchmark's work directory; the program under test
only ever sees that parquet. Nothing here uses Spark.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from topo2osm_spark.sources.fixtures import (ARROW_DOCUMENTS, Municipalities,
                                             gen_doc)

# sf0.1-shaped `documents` table for the dedup workload: the same
# 30-word vocabulary, 10-100 words per text, 20 sources of equal size
# and a few planted near-duplicates (text + " dup"), as in the sf0.1
# test-data tier that bench.py reads. Synthesized rather than read so the benchmark needs no
# file outside its checkout.
DEDUP_VOCAB = ("spark window merge table column vector stream value data "
               "small join filter big group hash customer sort order slow "
               "line part fast row the agg key query a scan batch").split()
DEDUP_LANGS = ("en", "en", "en", "zh", "es", "fr", "de")
DEDUP_SOURCES = 20
COHORT_SOURCE = "cohort"
DEDUP_SCHEMA = pa.schema([
    pa.field("doc_id", pa.int64()),
    pa.field("text", pa.string()),
    pa.field("lang", pa.string()),
    pa.field("source", pa.string()),
    pa.field("n_chars", pa.int64()),
])


def _write(table: pa.Table, path: str) -> None:
    """One parquet file inside a fresh directory (the `--input DIR`
    shape jobs/convert.py reads)."""
    os.makedirs(path, exist_ok=True)
    for fn in os.listdir(path):
        os.remove(os.path.join(path, fn))
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))


# The municipality layout (24 boxes, 30% coastal, Zipf document
# weights) is the generator's default one for every seed; the seed
# draws the documents. A layout drawn per seed moves the Zipf head and
# with it how many documents overlap in one area: on 300 documents that
# alone changed the conversion wall by a third between seeds.
LAYOUT = Municipalities(24, 42)


def fixture_documents(n_docs: int, seed: int, max_sosi: int) -> pa.Table:
    rows = [gen_doc(i, LAYOUT, seed, None, max_sosi) for i in range(n_docs)]
    return pa.Table.from_pylist(rows, schema=ARROW_DOCUMENTS)


def convert_corpus(path: str, n_docs: int, seed: int) -> pa.Table:
    """Self-contained N50 corpus: fixtures generator, max_sosi=3."""
    table = fixture_documents(n_docs, seed, max_sosi=3)
    _write(table, path)
    return table


def split_at_first_flate(text: str) -> tuple[str, str] | None:
    """Split one SOSI fragment into two spans at its first `.FLATE`.

    The generator emits every FLATE after all curves, so the second
    span holds only FLATEs whose ..REF ids all live in the first span.
    Both halves stay parseable: the first is closed with `.SLUTT`, the
    second repeats the `.HODE` block (coordinate system and unit)."""
    cut = text.find("\n.FLATE ")
    body = text.find("\n.", text.find("...ENHET"))
    if cut < 0 or body < 0 or body >= cut:
        return None
    return text[:cut] + "\n.SLUTT", text[:body] + text[cut:]


def xspan_corpus(split_path: str, n_docs: int, seed: int,
                 split_frac: float = 0.4) -> tuple[pa.Table, pa.Table]:
    """Single-span corpus (max_sosi=1) and its cross-span variant.

    A seeded `split_frac` of the documents have their SOSI span split
    at the first FLATE (see split_at_first_flate). Offsets are doubled
    so the new span slots in right after the one it came from. Returns
    the split corpus, written to `split_path`, and the unsplit twin,
    the assembly reference, which is not written."""
    twin = fixture_documents(n_docs, seed, max_sosi=1)
    rng = np.random.default_rng([seed, 4242])
    rows = twin.to_pylist()
    picked = set(rng.permutation(len(rows))[:round(split_frac * len(rows))])
    for i, row in enumerate(rows):
        spans = [dict(s, offset=2 * s["offset"]) for s in row["spans"]]
        if i in picked:
            for s in list(spans):
                halves = (split_at_first_flate(s["text"])
                          if s["kind"] == "sosi" else None)
                if halves is not None:
                    s["text"] = halves[0]
                    spans.append({"kind": "sosi", "text": halves[1],
                                  "media_ref": "",
                                  "offset": s["offset"] + 1})
        row["spans"] = spans
    table = pa.Table.from_pylist(rows, schema=ARROW_DOCUMENTS)
    _write(table, split_path)
    return table, twin


def dedup_corpus(path: str, n_base: int, n_cohort: int, seed: int,
                 boiler_words: int = 120) -> pa.Table:
    """sf0.1-shaped documents plus one boilerplate cohort.

    The cohort shares a `boiler_words`-word text; each member replaces
    the LAST word with its own token. Any two members then differ in
    one word shingle each (shingle Jaccard (L-3)/(L-1), token Jaccard
    near 1), so every cohort pair clears both dedup thresholds and the
    whole cohort lands in one LSH bucket per band: the hot bucket. The
    cohort sits in its own `source`, so token_jaccard_pairs sees it as
    one cohort of `n_cohort` documents (keep n_cohort <= its max_df)."""
    rng = np.random.default_rng([seed, 9001])
    vocab = np.array(DEDUP_VOCAB)
    texts: list[str] = []
    for i in range(n_base):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(vocab, int(rng.integers(10, 101)))))
    boiler = rng.choice(vocab, boiler_words).tolist()
    for j in range(n_cohort):
        texts.append(" ".join(boiler[:-1] + [f"edit{seed}x{j}"]))
    n = len(texts)
    langs = rng.choice(np.array(DEDUP_LANGS), n).tolist()
    sources = [f"src{i % DEDUP_SOURCES}" for i in range(n_base)] \
        + [COHORT_SOURCE] * n_cohort
    table = pa.Table.from_pydict({
        "doc_id": list(range(n)), "text": texts, "lang": langs,
        "source": sources, "n_chars": [len(t) for t in texts]},
        schema=DEDUP_SCHEMA)
    _write(table, path)
    return table
