"""Seeded benchmark inputs, generated once into ``perfbench/.cache``.

Two kinds of input, both a pure function of the seed:

- corpus batches: rows from ``sources.corpus.synth_corpus_rows`` written
  as a multi-file parquet table (at least as many files as cores, so
  the scan is never capped at one task), with a ``_digest.json`` that
  records the row count and a content-sha digest;
- documents for MinHash near-duplicate detection, shaped after the
  ``documents`` table of the repository's sf0.1 test data (see
  ``make_docs``): random word texts plus planted near-copies.

Every run re-reads the cached files and checks them against the
recorded digest, and checks the generator itself against a pinned
canary digest, so a change to the corpus generator shows up as an
input change rather than as a speed-up.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

# Artifact rows per synthetic repo: model.bim, 9 DAX files, 2 M
# scripts, the report layout and the ontology sidecar.
ROWS_PER_REPO = 14

# Digest of synth_corpus_rows(n_repos=3, seed=0): changes whenever the
# generator's output changes.
CANARY_ARGS = {"n_repos": 3, "seed": 0}
CANARY_DIGEST = "8fa4a0ac34d9d0603de5448a6f7fec93bbe3877ea3abee123866430cef8cd244"

# The sf0.1 documents table, measured: 5,000 rows; 4,750 texts of
# 10-99 words drawn uniformly from these 30 words; 250 (5%) copies of
# another row's text with " dup" appended, giving 256 pairs at word-3-gram
# Jaccard >= 0.7 (8 of them identical texts, two copies of one source).
DOC_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
DOC_WORDS = (10, 99)
DOC_COPY_SHARE = 0.05


def corpus_digest(rows) -> str:
    """Order-insensitive digest over (repo, path, lang, content_sha256)."""
    h = hashlib.sha256()
    for key in sorted((r[0], r[1], r[3], r[5]) for r in rows):
        h.update("\t".join(key).encode())
        h.update(b"\n")
    return h.hexdigest()


def canary_ok() -> bool:
    from powerbi_ontology_extractor_spark.sources.corpus import synth_corpus_rows

    return corpus_digest(synth_corpus_rows(**CANARY_ARGS)) == CANARY_DIGEST


def _write_parts(path: str, columns: list[str], rows: list[tuple], parts: int,
                 key) -> None:
    """Write ``rows`` as ``parts`` parquet files, rows grouped by ``key``."""
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    buckets: list[list[tuple]] = [[] for _ in range(parts)]
    for r in rows:
        buckets[key(r) % parts].append(r)
    for j, part in enumerate(buckets):
        table = pa.table({c: [r[i] for r in part] for i, c in enumerate(columns)})
        pq.write_table(table, os.path.join(tmp, f"part-{j:03d}.parquet"))
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)


def read_rows(path: str, columns: list[str]) -> list[tuple]:
    t = pq.read_table(path, columns=columns)
    return list(zip(*(t.column(c).to_pylist() for c in columns)))


class CorpusBatch:
    """One cached corpus table: ``n_repos`` synthetic repos for ``seed``.

    The generator's mega-dashboard repo (50x the median measure count)
    is placed at ``seed % n_repos``, so seeds differ in which repo is
    skewed and in the parity-driven schema conflicts around it.
    """

    def __init__(self, cache_dir: str, n_repos: int, seed: int, parts: int):
        self.n_repos = n_repos
        self.seed = seed
        self.parts = min(parts, n_repos)
        self.path = os.path.join(cache_dir, "corpus", f"r{n_repos}-s{seed}")
        self.digest_path = os.path.join(self.path, "_digest.json")

    def ensure(self) -> None:
        from powerbi_ontology_extractor_spark.sources.corpus import (
            CORPUS_SCHEMA,
            synth_corpus_rows,
        )

        if os.path.exists(self.digest_path):
            return
        rows = synth_corpus_rows(
            self.n_repos, self.seed, mega_repo_idx=self.seed % self.n_repos
        )
        cols = [f.name for f in CORPUS_SCHEMA.fields]
        repo_ids = {r: i for i, r in enumerate(sorted({row[0] for row in rows}))}
        _write_parts(self.path, cols, rows, self.parts, lambda r: repo_ids[r[0]])
        with open(self.digest_path, "w") as f:
            json.dump({"rows": len(rows), "digest": corpus_digest(rows)}, f)

    def check(self) -> list[str]:
        """Re-read the cached table; compare with the recorded digest."""
        with open(self.digest_path) as f:
            want = json.load(f)
        rows = read_rows(
            self.path, ["repo", "path", "commit", "lang", "content", "content_sha256"]
        )
        errors = []
        if len(rows) != self.n_repos * ROWS_PER_REPO or len(rows) != want["rows"]:
            errors.append(f"corpus {self.path}: {len(rows)} rows")
        if corpus_digest(rows) != want["digest"]:
            errors.append(f"corpus {self.path}: content digest changed")
        files = [p for p in os.listdir(self.path) if p.endswith(".parquet")]
        if len(files) != self.parts:
            errors.append(f"corpus {self.path}: {len(files)} files")
        return errors

    def glob(self) -> str:
        return os.path.join(self.path, "*.parquet")


def make_docs(n_docs: int, seed: int) -> tuple[list[tuple[int, str]], list[tuple[int, int]]]:
    """Texts of ``DOC_WORDS`` uniform words from ``DOC_VOCAB``; then a
    ``DOC_COPY_SHARE`` sample of rows, in random order, each becomes
    another row's current text plus " dup" (so copies of copies occur,
    as in the sf0.1 table).  Returns (docs, planted (source, copy) pairs)."""
    rng = random.Random(f"docs:{seed}")
    texts = [" ".join(rng.choice(DOC_VOCAB) for _ in range(rng.randint(*DOC_WORDS)))
             for _ in range(n_docs)]
    planted: list[tuple[int, int]] = []
    for i in rng.sample(range(n_docs), round(n_docs * DOC_COPY_SHARE)):
        src = rng.randrange(n_docs - 1)
        src += src >= i
        texts[i] = texts[src] + " dup"
        planted.append((src, i))
    return list(enumerate(texts)), planted


class DocSet:
    """Cached document table for one seed."""

    def __init__(self, cache_dir: str, n_docs: int, seed: int, parts: int):
        self.n_docs = n_docs
        self.seed = seed
        self.parts = parts
        self.path = os.path.join(cache_dir, "docs", f"d{n_docs}-s{seed}")
        self.digest_path = os.path.join(self.path, "_digest.json")
        self.docs: list[tuple[int, str]] = []
        self.planted: list[tuple[int, int]] = []

    @staticmethod
    def _digest(docs) -> str:
        h = hashlib.sha256()
        for doc_id, text in sorted(docs):
            h.update(f"{doc_id}\t{text}\n".encode())
        return h.hexdigest()

    def ensure(self) -> None:
        self.docs, self.planted = make_docs(self.n_docs, self.seed)
        if os.path.exists(self.digest_path):
            return
        _write_parts(self.path, ["doc_id", "text"], self.docs, self.parts,
                     lambda r: r[0])
        with open(self.digest_path, "w") as f:
            json.dump({"rows": len(self.docs), "digest": self._digest(self.docs)}, f)

    def check(self) -> list[str]:
        rows = read_rows(self.path, ["doc_id", "text"])
        if len(rows) != self.n_docs or self._digest(rows) != self._digest(self.docs):
            return [f"docs {self.path}: content differs from the seed's documents"]
        return []
