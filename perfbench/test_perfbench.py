"""Self-tests of the benchmark: the self-time arithmetic, the metric names
it prints, and that its correctness checks reject corrupted output.

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import json
import os
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import reference  # noqa: E402
from spans import Span, self_times, union_length  # noqa: E402

DIM = 16


# ------------------------------------------------------------ span arithmetic


def test_union_length_merges_overlaps():
    assert union_length([]) == 0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4)
    assert union_length([(0, 10), (2, 3)]) == pytest.approx(10)


def test_self_time_is_duration_minus_union_of_children():
    spans = [
        Span("batch", 0.0, 10.0, None),
        Span("a", 1.0, 4.0, 0),
        Span("b", 3.0, 6.0, 0),  # overlaps a: the overlap counts once
        Span("c", 1.5, 2.0, 1),  # a grandchild is a's, not the batch's
    ]
    assert self_times(spans) == pytest.approx([5.0, 2.5, 3.0, 0.5])


def test_batch_accounting_catches_a_call_outside_every_span():
    import run

    spans = [Span("batch", 0.0, 9.0, None), Span("x", 0.5, 4.0, 0), Span("y", 4.2, 8.0, 0)]
    selfs = self_times(spans)
    # the tracer's own work between and after the layers: 0.5 + 0.2 + 1.0 s
    overhead = {0: 1.7}
    assert run.batch_residual(spans, selfs, overhead, 0) == pytest.approx(0.0)
    assert run.check_batches(spans, selfs, overhead, [0]) == pytest.approx(0.0)
    # a 1 s call between x and y that no span covers
    gap = [Span("batch", 0.0, 10.0, None), Span("x", 0.5, 4.0, 0), Span("y", 5.2, 9.0, 0)]
    with pytest.raises(AssertionError):
        run.check_batches(gap, self_times(gap), overhead, [0])


# ------------------------------------------------------------- metric names


def test_benchmark_json_names_and_units_match_the_output():
    import run

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {w["name"] for w in bench["workloads"]} == set(run.WORKLOADS)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}

    result = {
        "e2e": dict.fromkeys(run.E2E_UNITS, 1.0),
        "trace": {"layers": {}, "counts": dict.fromkeys(run.COUNT_UNITS, 0.0),
                  "diag": dict.fromkeys(run.DIAG_UNITS, 0.0)},
    }
    printed = run.metrics_of(result, trace=False)
    assert {k: v["unit"] for k, v in printed.items()} == e2e
    printed = run.metrics_of(result, trace=True)
    assert {k: v["unit"] for k, v in printed.items()} == layer


# ------------------------------------------------------------- CDC checker


@pytest.fixture(scope="module")
def cdc_case():
    log = gen.ChangeLog(7)
    frames = [pd.DataFrame(log.batch(40, inserts_only=True))]
    frames += [pd.DataFrame(log.batch(60)) for _ in range(3)]
    changes = pd.concat(frames, ignore_index=True)
    want = reference.replay(changes, DIM)
    got = pd.DataFrame({
        "id": want.index,
        "author": want["author"].to_numpy(),
        "dim": DIM,
        "prefix": list(want["prefix"]),
    })
    qdrant = {reference.fnv1a64(i) for i in want.index}
    return changes, want, got, qdrant


def test_cdc_checker_accepts_the_engine_answer(cdc_case):
    _, want, got, qdrant = cdc_case
    assert reference.cdc_problems(want, got, qdrant, DIM) == ([], set())


def test_cdc_checker_rejects_a_dropped_key(cdc_case):
    _, want, got, qdrant = cdc_case
    dropped = got.iloc[1:]
    problems, bad = reference.cdc_problems(want, dropped, qdrant, DIM)
    assert problems and bad == {got["id"].iloc[0]}
    lost = set(qdrant) - {reference.fnv1a64(got["id"].iloc[0])}
    assert reference.cdc_problems(want, got, lost, DIM)[0]


def test_cdc_checker_rejects_a_stale_vector(cdc_case):
    changes, want, got, qdrant = cdc_case
    # a live key updated at least once: its vector from the earlier text is stale
    ups = changes[changes["op"] == "u"]["pk"]
    pk = next(p for p in ups if "public.documents:" + p in want.index)
    key = "public.documents:" + pk
    first = changes[changes["pk"] == pk].iloc[0]
    old = reference.embed(reference._text(first["after_title"], first["after_content"]), DIM)
    stale = got.copy()
    stale.loc[stale["id"] == key, "prefix"] = pd.Series(
        [old[: reference.PREFIX]], index=stale.index[stale["id"] == key])
    problems, bad = reference.cdc_problems(want, stale, qdrant, DIM)
    assert problems and key in bad


def test_cdc_checker_rejects_a_resurrected_delete(cdc_case):
    changes, want, got, qdrant = cdc_case
    last = changes.sort_values("lsn").drop_duplicates("pk", keep="last")
    pk = last[last["op"] == "d"]["pk"].iloc[0]
    key = "public.documents:" + pk
    assert key not in want.index
    back = pd.concat([got, pd.DataFrame(
        {"id": [key], "author": ["x"], "dim": [DIM], "prefix": [got["prefix"].iloc[0]]})])
    problems, bad = reference.cdc_problems(want, back, qdrant, DIM)
    assert problems and key in bad
    assert reference.cdc_problems(want, got, qdrant | {reference.fnv1a64(key)}, DIM)[0]


def test_reference_vectors_match_the_deterministic_provider():
    import numpy as np

    from cdc2vec_spark.embed.provider import DeterministicHashProvider

    text = "alpha beta gamma"
    raw = DeterministicHashProvider(DIM).embed_one(text).astype(np.float64)
    assert np.abs(reference.embed(text, DIM) - raw / np.linalg.norm(raw)).max() < 1e-12


def test_reference_fnv_matches_known_values():
    # FNV-1a-64 test vectors
    assert reference.fnv1a64("") == 0xCBF29CE484222325
    assert reference.fnv1a64("a") == 0xAF63DC4C8601EC8C


# ----------------------------------------------------------- query checker


class _Result:
    """What compare_one reads from a query's DataFrame."""

    def __init__(self, columns, rows):
        self.columns, self.rows = columns, rows

    def collect(self):
        return self.rows


def test_query_checker_rejects_a_perturbed_result():
    import duckdb

    import run

    oc = run.oracle_check_module()
    con = duckdb.connect()
    sql = ("SELECT * FROM (VALUES (1, CAST(0.5 AS DOUBLE)), (2, CAST(0.25 AS DOUBLE)),"
           " (3, CAST(0.125 AS DOUBLE))) t(doc_id, score)")
    cols = ["doc_id", "score"]
    rows = [(1, 0.5), (2, 0.25), (3, 0.125)]

    def check(columns, got):
        return oc.compare_one(None, con, "q", lambda *_: _Result(columns, got), sql, "")

    assert check(cols, list(reversed(rows))) == []
    assert check(cols, [(1, 0.5), (2, 0.25), (3, 0.126)])
    assert check(cols, rows[:2])
    assert check(cols, rows + [rows[0]])
    assert check(["doc_id", "s"], rows)
