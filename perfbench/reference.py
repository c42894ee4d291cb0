"""Independent correctness references.

CDC: a pandas last-write-wins replay of the generated change log. Vectors
are recomputed from the text (SHAKE-128 bytes mapped to [-1, 1), then
L2-normalised) and Qdrant point ids with FNV-1a-64, both written here
rather than imported from the engine.

Queries are checked by ``tests/oracle_check.compare_one`` against each
query's DuckDB oracle (run.py loads that file read-only).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

PREFIX = 8  # leading vector components compared per point


def fnv1a64(s: str) -> int:
    h = 0xCBF29CE484222325
    for b in s.encode():
        h = ((h ^ b) * 0x100000001B3) % (1 << 64)
    return h


def embed(text: str, dim: int) -> np.ndarray:
    raw = np.frombuffer(hashlib.shake_128(text.encode()).digest(dim), dtype=np.uint8)
    v = ((raw.astype(np.float64) - 127.5) / 127.5).astype(np.float32).astype(np.float64)
    n = float(np.sqrt(np.dot(v, v)))
    return v / n if n else v


def _text(title, content) -> str:
    return " ".join(x for x in (title, content) if x is not None and x != "")


def replay(log: pd.DataFrame, dim: int) -> pd.DataFrame:
    """Live points after applying ``log`` last-write-wins by lsn: one row
    per live id with its text, author and first ``PREFIX`` vector
    components, indexed by id."""
    last = log.sort_values("lsn").drop_duplicates(["tbl", "pk"], keep="last")
    last = last[last["op"] != "d"]
    texts = [_text(t, c) for t, c in zip(last["after_title"], last["after_content"])]
    keep = [bool(t) for t in texts]  # empty-text upserts never reach a sink
    out = pd.DataFrame(
        {
            "id": (last["tbl"] + ":" + last["pk"]).to_numpy()[keep],
            "text": np.array(texts, dtype=object)[keep],
            "author": last["after_author"].to_numpy()[keep],
        }
    )
    out["prefix"] = [embed(t, dim)[:PREFIX] for t in out["text"]]
    return out.set_index("id")


def cdc_problems(
    want: pd.DataFrame, got: pd.DataFrame, qdrant_live: set[int] | None, dim: int
) -> tuple[list[str], set[str]]:
    """Compare the replay with the collection's live points (columns id,
    author, dim, prefix) and the external sink's live point ids. Returns
    one line per defect class found (empty means correct) and the ids of
    the points found wrong."""
    problems, bad = [], set()
    got = got.set_index("id")

    def report(ids, what: str) -> None:
        ids = sorted(ids)
        if ids:
            problems.append(f"{len(ids)} {what}, e.g. {ids[:3]}")
            bad.update(ids)

    report(want.index.difference(got.index), "live keys missing")
    report(got.index.difference(want.index), "dead or unknown keys live")
    both = want.index.intersection(got.index)
    w, g = want.loc[both], got.loc[both]
    report(both[(g["dim"] != dim).to_numpy()], "vectors with the wrong dimension")
    if len(both):
        wv = np.stack(w["prefix"].to_numpy())
        gv = np.stack([np.asarray(x, dtype=np.float64)[:PREFIX] for x in g["prefix"]])
        report(both[np.abs(wv - gv).max(axis=1) > 1e-9], "stale or wrong vectors")
    report(both[w["author"].to_numpy() != g["author"].to_numpy()], "points with stale metadata")
    if qdrant_live is not None:
        by_point = {fnv1a64(i): i for i in want.index}
        report([by_point[p] for p in set(by_point) - qdrant_live], "live points missing in qdrant")
        extra = qdrant_live - set(by_point)
        if extra:
            problems.append(f"{len(extra)} dead or unknown points live in qdrant")
    return problems, bad

