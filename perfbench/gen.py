"""Seeded input generation: CDC change files and the LLM-operator corpus.

Everything here is a pure function of the seed and the sizes, written with
pyarrow only, so inputs exist before any Spark session starts and the
engine sees nothing but the generated files.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE = "public.documents"
AUTHORS = tuple(f"author{i:02d}" for i in range(16))
# insert and update shares of a change; the rest are deletes. Inserts
# outnumber deletes, so the keyspace and the live set grow.
MIX = (0.5, 0.35)

# flattened change-log layout the mapping in configs/*.yaml resolves
# (title/content/author/created_at → after_<name>)
CHANGE_SCHEMA = pa.schema(
    [
        ("op", pa.string()),
        ("tbl", pa.string()),
        ("pk", pa.string()),
        ("lsn", pa.int64()),
        ("after_title", pa.string()),
        ("after_content", pa.string()),
        ("after_author", pa.string()),
        ("after_created_at", pa.string()),
    ]
)


def _vocab(rng: random.Random, n: int = 400) -> list[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice(letters) for _ in range(rng.randint(3, 9))))
    return sorted(words)


class ChangeLog:
    """Seeded change stream over a growing keyspace.

    Each change is an insert of a new key, or an update or delete of a key
    that is live at that point of the log (keys inserted earlier in the same
    file included, so files carry several events per key). LSNs increase by
    one per change across all files."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.vocab = _vocab(self.rng)
        self.next_pk = 0
        self.lsn = 0
        self.live: list[int] = []
        self.pos: dict[int, int] = {}

    def _text(self, lo: int, hi: int) -> str:
        return " ".join(self.rng.choice(self.vocab) for _ in range(self.rng.randint(lo, hi)))

    def _add_live(self, pk: int) -> None:
        self.pos[pk] = len(self.live)
        self.live.append(pk)

    def _drop_live(self, pk: int) -> None:
        i = self.pos.pop(pk)
        last = self.live.pop()
        if last != pk:
            self.live[i] = last
            self.pos[last] = i

    def batch(self, n: int, inserts_only: bool = False) -> dict[str, list]:
        cols: dict[str, list] = {f.name: [] for f in CHANGE_SCHEMA}
        p_ins, p_upd = MIX
        for _ in range(n):
            r = 0.0 if inserts_only or len(self.live) < 8 else self.rng.random()
            if r < p_ins:
                op, pk = "c", self.next_pk
                self.next_pk += 1
                self._add_live(pk)
            else:
                op = "u" if r < p_ins + p_upd else "d"
                pk = self.live[self.rng.randrange(len(self.live))]
                if op == "d":
                    self._drop_live(pk)
            self.lsn += 1
            cols["op"].append(op)
            cols["tbl"].append(TABLE)
            cols["pk"].append(str(pk))
            cols["lsn"].append(self.lsn)
            if op == "d":
                for c in ("after_title", "after_content", "after_author", "after_created_at"):
                    cols[c].append(None)
            else:
                cols["after_title"].append(self._text(2, 6))
                cols["after_content"].append(self._text(8, 40))
                cols["after_author"].append(self.rng.choice(AUTHORS))
                cols["after_created_at"].append(
                    f"2026-{self.rng.randint(1, 12):02d}-{self.rng.randint(1, 28):02d}"
                )
        return cols


def change_files(seed: int, sizes: list[int], out_dir: str) -> list[str]:
    """Write one parquet file of the seed's change log per entry of
    ``sizes`` and return their paths in log order. The first file holds
    inserts only, so the keys it creates (0, 1, 2, ...) are the same for
    every seed."""
    os.makedirs(out_dir, exist_ok=True)
    log = ChangeLog(seed)
    paths = []
    for i, n in enumerate(sizes):
        p = os.path.join(out_dir, f"chg_{i:05d}.parquet")
        cols = log.batch(n, inserts_only=i == 0)
        pq.write_table(pa.Table.from_pydict(cols, schema=CHANGE_SCHEMA), p)
        paths.append(p)
    return paths


# The corpus has the shape of the sf0.01 fixture, the scale the registry
# queries' DuckDB oracles are checked at (TESTDATA.md): 500 documents of
# 10-99 tokens drawn from the same 30-word vocabulary, about 5% of them an
# earlier document plus a trailing "dup" token, en in 3 of 7 documents and
# zh/es/de/fr in the rest, 20 sources; 500 unit-norm 64-dimensional
# embeddings with 10 labels, spread like random directions (no planted
# near neighbours, as in the fixture). The registry queries read these
# tables, not the engine's CDC embedding path (768 dimensions by default).
CORPUS_DOCS = 500
CORPUS_DIM = 64


def corpus(seed: int, out_dir: str) -> str:
    """documents + embeddings tables in the fixture layout the registry
    queries read (FIXTURES.md), with the fixture's sizes and text
    statistics (see CORPUS_DOCS)."""
    n_docs, dim = CORPUS_DOCS, CORPUS_DIM
    rng = np.random.default_rng(seed)
    words = np.array(
        "join hash row batch scan column customer filter small slow merge order "
        "vector line table data agg value key stream window a spark part group "
        "big sort query fast the".split()
    )
    langs = np.array(["en", "en", "en", "zh", "es", "de", "fr"])
    texts = []
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(words, size=int(rng.integers(10, 100)))))
    docs = pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": texts,
            "lang": [str(x) for x in rng.choice(langs, size=n_docs)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    vecs = rng.standard_normal((n_docs, dim)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table(
        {
            "vec_id": pa.array(range(n_docs), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, size=n_docs), pa.int32()),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))
    return out_dir
