"""Tests of the benchmark's input oracles that need no Spark session.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import inputs  # noqa: E402
from layers import per_layer_metrics  # noqa: E402

WORDS = "alpha bravo delta echo foxtrot golf hotel india juliet kilo lima mike".split()


def doc(n: int, shift: int = 0) -> str:
    return " ".join(WORDS[(i + shift) % len(WORDS)] for i in range(n))


def table(texts: list[str], ids: list[int] | None = None) -> pa.Table:
    return pa.table({
        "doc_id": ids or list(range(len(texts))),
        "source": ["s"] * len(texts),
        "text": texts,
    })


def test_same_seed_same_docs_and_planted_copies():
    a, pa_ = inputs.make_docs(5, 400)
    b, pb = inputs.make_docs(5, 400)
    assert a.equals(b) and (pa_ == pb).all()
    assert a.num_rows == 400 and sorted(a.column("doc_id").to_pylist()) == list(range(400))
    assert (pa_ >= 0).sum() == int(400 * inputs.NEAR_FRAC)
    assert not inputs.make_docs(6, 400)[0].equals(a)


def test_quality_floor_and_exact_dups_by_normalized_fingerprint():
    texts = [
        doc(60),                       # kept
        doc(60).upper() + " !!",       # same fingerprint: exact dup
        doc(40),                       # under 50 tokens: rejected
        doc(40),                       # rejected, so never a dup
        "alpha " * 60,                 # one token is all of it: rejected
        doc(60, shift=3),              # kept, distinct
    ]
    exp = inputs.expected_counters(table(texts), np.full(len(texts), -1))
    assert exp == {"n_quality_rejected": 3, "n_exact_dups": 1, "min_near_dups": 0}


def test_near_copy_counts_only_when_both_survive_and_similar():
    base = doc(80)
    near = base.replace("golf", "zulu", 1)
    unlike = " ".join("zulu yankee xray whiskey uniform papa".split() * 14)
    texts = [base, near, doc(30), doc(30) + " x", unlike]
    parent = np.array([-1, 0, -1, 2, 0])
    exp = inputs.expected_counters(table(texts), parent)
    # row 1: similar to its kept source; row 3: rejected, as is its source;
    # row 4: planted as a copy but its shingles differ too much
    assert exp["min_near_dups"] == 1


def test_near_copy_that_is_an_exact_dup_loses_to_the_smaller_id():
    base = doc(80)
    near = base.replace("golf", "zulu", 1)
    texts = [base, near, near + "."]
    exp = inputs.expected_counters(table(texts, ids=[0, 9, 1]), np.array([-1, 0, 0]))
    assert exp["n_exact_dups"] == 1
    # row 2 (id 1) survives for the shared fingerprint; row 1 (id 9) does not
    assert exp["min_near_dups"] == 1


def test_per_layer_metrics_come_from_benchmark_json():
    metrics = per_layer_metrics()
    names = [n for n, _ in metrics]
    assert len(names) == len(set(names)) > 0
    assert ("extract.extract_mentions.task_s", "s") in metrics


IDENTS = {
    "f1": ("echo", "echo_worker"),
    "f2": ("echo", "echoWorker"),
    "f3": ("kilo", "kilo_worker"),
    "f4": ("golf", "golf_worker"),
}


def test_defines_unified_per_stem_with_smallest_spelling():
    rows = [("f1", "ident:echoWorker"), ("f2", "ident:echoWorker"),
            ("f3", "ident:kilo_worker"), ("f4", "ident:golf_worker")]
    assert inputs.check_defines(rows, IDENTS) == []
    # two stems sharing one id is allowed when the id is the smallest of both
    merged = [(s, "ident:echoWorker" if s != "f4" else o) for s, o in rows]
    assert inputs.check_defines(merged, IDENTS) == []


def test_defines_split_spellings_wrong_canonical_and_missing_rows_fail():
    split = [("f1", "ident:echo_worker"), ("f2", "ident:echoWorker"),
             ("f3", "ident:kilo_worker"), ("f4", "ident:golf_worker")]
    assert any("several ids" in p for p in inputs.check_defines(split, IDENTS))
    not_min = [("f1", "ident:echo_worker"), ("f2", "ident:echo_worker"),
               ("f3", "ident:kilo_worker"), ("f4", "ident:golf_worker")]
    assert any("smallest spelling" in p for p in inputs.check_defines(not_min, IDENTS))
    assert inputs.check_defines(not_min[:3], IDENTS)
    assert inputs.check_defines(not_min + [("f4", "ident:x")], IDENTS)
