"""Seeded, hermetic inputs for the benchmark.

Everything the program reads is generated here from ``--seed`` into the
benchmark's own data directory (``perfbench/.data/seed<n>/``), once per seed:

- the CDR-shaped corpus (documents_interleaved, mentions, gold_relations,
  mesh_dict, BPE merges/vocab, model weights) from
  ``bran_spark.fixtures.gen``. gen.py derives every table from its module
  constant ``SEED``; the benchmark sets that constant to ``--seed`` before
  calling it, so one seed gives one corpus and gen.py stays untouched. The
  corpus lands in the fixture root (``BRAN_SPARK_FIXTURES``) under
  ``sf<CORPUS_SF>``, which is also where the registry's fixture-derived
  queries (``_fx_mentions``) look for it.
- a plain ``documents`` table (doc_id, text, lang, source, n_chars) for the
  corpus-dedup and pipeline-twin registry queries, generated with the
  parameters measured on the read-only testdata ``documents`` tables (see
  ``_plain_documents``). Its directory is named ``sf<CORPUS_SF>`` so the
  registry's ``_fixture_sf_for`` resolves to the same corpus.

Generation time is excluded from every metric.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# 0.002 → scale_rows(0.002) = 1,000 docs. At this size the flagship pass is
# dominated by its fixed per-stage cost on 4 cores; see README.md.
CORPUS_SF = 0.002
N_PLAIN_DOCS = 500  # as the sf0.001 and sf0.01 testdata tables

# the 30 words of the testdata documents (each ~1/30 of all words): the 16
# plain KG surfaces (sources.interleave.PLAIN_CHEMICALS/DISEASES) plus 14
# fillers
PLAIN_VOCAB = [
    "spark", "hash", "join", "merge", "filter", "sort", "batch", "vector",
    "window", "stream", "table", "query", "group", "scan", "agg", "row",
    "column", "customer", "small", "slow", "order", "line", "data", "value",
    "key", "a", "part", "big", "fast", "the",
]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.4118, 0.1506, 0.1488, 0.1404, 0.1484]  # measured shares


def seed_root(data_root: str, seed: int) -> str:
    return os.path.join(data_root, f"seed{seed}")


def fixture_root(data_root: str, seed: int) -> str:
    """Value for BRAN_SPARK_FIXTURES (must be set before bran_spark import)."""
    return os.path.join(seed_root(data_root, seed), "fixtures")


def tables_dir(data_root: str, seed: int) -> str:
    """The registry's ``sf_dir`` argument."""
    return os.path.join(seed_root(data_root, seed), "tables", f"sf{CORPUS_SF}")


def _plain_documents(seed: int, n: int) -> pa.Table:
    """Documents shaped like the testdata ``documents`` tables, as measured
    on them (sf0.001 and sf0.01: 500 docs, sf0.1: 5,000):

    - words drawn uniformly from PLAIN_VOCAB, 10-99 per doc, uniformly;
    - exactly one doc in twenty is a near-duplicate: its text is replaced by
      another doc's (drawn from all docs, earlier or later) plus `` dup``.
      Replacements apply in turn, so a few bases are themselves replaced
      (sf0.1: 250 near-duplicates; 128 of an earlier doc, 115 of a later
      one, 7 of a doc replaced in turn);
    - ``lang`` by the measured shares, ``source`` = ``src{i % 20}``,
      ``n_chars`` = ``len(text)``.
    """
    rng = np.random.default_rng([seed, 7])
    texts = [
        " ".join(PLAIN_VOCAB[j] for j in rng.integers(0, len(PLAIN_VOCAB), int(k)))
        for k in rng.integers(10, 100, n)
    ]
    for i in rng.choice(n, size=n // 20, replace=False):
        j = int(rng.integers(0, n - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P).tolist(), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def ensure_inputs(data_root: str, seed: int) -> dict[str, str]:
    """Generate (or reuse) every input for ``seed``; returns their paths.

    Must run after BRAN_SPARK_FIXTURES points at ``fixture_root``."""
    from bran_spark.fixtures import gen

    if os.path.abspath(gen.DEFAULT_FIXTURE_ROOT) != os.path.abspath(fixture_root(data_root, seed)):
        raise RuntimeError("BRAN_SPARK_FIXTURES must be set before bran_spark is imported")
    gen.SEED = seed
    gen.ensure(CORPUS_SF)
    tdir = tables_dir(data_root, seed)
    docs = os.path.join(tdir, "documents.parquet")
    if not os.path.exists(docs):
        os.makedirs(tdir, exist_ok=True)
        tmp = docs + ".tmp"
        pq.write_table(_plain_documents(seed, N_PLAIN_DOCS), tmp)
        os.replace(tmp, docs)
    return {"corpus": gen.fixture_dir(CORPUS_SF), "tables": tdir}
