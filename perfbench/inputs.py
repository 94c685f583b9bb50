"""Seeded input generators for the product-path benchmark.

Every input is a parquet directory derived only from ``--seed``; the
product code under test reads nothing else.
"""

from __future__ import annotations

import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scheduler_spark.synth import (
    IDENT_WORDS,
    alias_rows,
    expected_links,
    subject_id,
    synth_files,
)
from tools.make_sf import DOC_VOCAB

# -- KG corpus -------------------------------------------------------------


def kg_params(seed: int, n_files: int) -> dict:
    """synth_files parameters chosen by the seed: 38..42 small repos,
    with half the rows in the mega-repo."""
    rng = np.random.default_rng([seed, 1])
    return {"n_files": n_files, "n_repos": int(rng.integers(38, 43)), "mega_pct": 50}


def write_kg_inputs(spark: SparkSession, root: str, params: dict) -> dict:
    """Write the synth_files corpus and the alias dictionary as parquet.

    Returns their paths, the number of source partitions, the digests of
    the links_to and in_lang triples a cold sync must produce, and each
    file's planted identifier as {subj: (stem, spelling)}.
    """
    files_path = os.path.join(root, "files")
    synth_files(spark, partitions=8, **params).write.parquet(files_path)
    alias_path = os.path.join(root, "aliases")
    write_parquet(
        alias_path, pa.table(dict(zip(["alias", "entity_id"], map(list, zip(*alias_rows()))))), 1
    )
    files = spark.read.parquet(files_path)
    links = expected_links(spark, params["n_files"], params["n_repos"], params["mega_pct"])
    return {
        "files": files_path,
        "aliases": alias_path,
        # every small repo holds files at the benchmark's sizes
        "n_sources": params["n_repos"] + 1,
        "expected": triples_digests(expected_triples(files, links)),
        "idents": file_idents(files),
    }


def expected_triples(files: DataFrame, links: DataFrame) -> DataFrame:
    """The links_to and in_lang (subj, pred, obj) rows a cold sync of
    `files` must produce: synth.expected_links, the closed-form link
    oracle, and one in_lang row per file with its language."""
    subj = subject_id(F.col("repo"), F.col("path"), F.col("commit")).alias("subj")
    return links.select(
        "subj", F.lit("links_to").alias("pred"), F.col("entity_id").alias("obj")
    ).unionByName(files.select(subj, F.lit("in_lang").alias("pred"), F.col("lang").alias("obj")))


# the planted identifier: `def alpha_worker(`, `func alphaWorker(`, `int alphaWorker(`
IDENT_RE = r"(?:def|func|int) (([a-z]+)(?:_worker|Worker))\("


def file_idents(files: DataFrame) -> dict[str, tuple[str, str]]:
    """{subj: (stem, spelling)} of the identifier synth planted in each file."""
    rows = files.select(
        subject_id(F.col("repo"), F.col("path"), F.col("commit")).alias("subj"),
        F.regexp_extract("content", IDENT_RE, 2).alias("stem"),
        F.regexp_extract("content", IDENT_RE, 1).alias("ident"),
    ).collect()
    out = {r["subj"]: (r["stem"], r["ident"]) for r in rows}
    stems = {stem for stem, _ in out.values()}
    if not stems <= set(IDENT_WORDS):
        raise ValueError(f"identifier stems {sorted(stems)} are not all IDENT_WORDS")
    return out


def check_defines(rows: list[tuple[str, str]], idents: dict[str, tuple[str, str]]) -> list[str]:
    """Check a cold sync's (subj, obj) defines rows against the planted
    identifiers, the contract synth documents for them:

    - every file has exactly one defines row;
    - the snake and camel spellings of a stem resolve to one id;
    - an id is ``ident:`` + the smallest spelling among the files it
      stands for (the canonical id is the minimum of its component).

    Whether two different stems share an id is left to the product: at
    the identifier Jaccard threshold, stems like ``echo_worker`` and
    ``kilo_worker`` are similar enough to be linked.
    """
    obj_of = dict(rows)
    if len(obj_of) != len(rows) or obj_of.keys() != idents.keys():
        return [f"{len(rows)} defines rows over {len(obj_of)} subjects, "
                f"want one for each of {len(idents)} files"]
    problems = []
    ids_of_stem: dict[str, set[str]] = {}
    members: dict[str, set[str]] = {}
    for subj, (stem, ident) in idents.items():
        ids_of_stem.setdefault(stem, set()).add(obj_of[subj])
        members.setdefault(obj_of[subj], set()).add(ident)
    split = {stem: sorted(ids) for stem, ids in ids_of_stem.items() if len(ids) > 1}
    if split:
        problems.append(f"spellings of one stem got several ids: {sorted(split.items())[:3]}")
    wrong = {obj: min(m) for obj, m in members.items() if obj != "ident:" + min(m)}
    if wrong:
        problems.append(f"ids that are not the smallest spelling they stand for: "
                        f"{sorted(wrong.items())[:3]}")
    return problems


def triples_digests(triples: DataFrame) -> dict[str, tuple[int, str]]:
    """Per predicate, (row count, sha256 over the sorted distinct
    (subj, pred, obj) rows joined by newlines)."""
    rows = triples.groupBy("pred").agg(
        F.collect_set(F.concat_ws("\t", "subj", "pred", "obj")).alias("rows")
    ).select(
        "pred", F.size("rows").alias("n"), F.sha2(F.array_join(F.array_sort("rows"), "\n"), 256).alias("sha")
    ).collect()
    return {r["pred"]: (r["n"], r["sha"]) for r in rows}


# -- training-corpus documents ----------------------------------------------

EXACT_FRAC, NEAR_FRAC, NEAR_EDIT_FRAC = 0.04, 0.06, 0.05
N_SOURCES = 20


def make_docs(seed: int, n_docs: int) -> tuple[pa.Table, np.ndarray]:
    """Documents (doc_id, source, text) with planted duplicates, and for
    each row the row index of the doc it is a near copy of (-1 if none).

    Base docs are drawn as tools/make_sf.py draws the documents table it
    measured from the sf0.1 testdata: 10..100 words uniform over its
    31-word DOC_VOCAB, 20 sources.  So about 45 % fall under the
    50-token quality floor.  On top, 4 % of rows are exact copies of a
    base doc, half verbatim and half re-cased with trailing punctuation
    (same normalized fingerprint).  6 % are near copies of a base or
    near doc with 5 % of the words replaced by other words.  Ids are a
    seeded permutation of [0, n_docs).
    """
    rng = np.random.default_rng([seed, 2])
    vocab = np.array(DOC_VOCAB)
    n_exact = int(n_docs * EXACT_FRAC)
    n_near = int(n_docs * NEAR_FRAC)
    n_base = n_docs - n_exact - n_near

    toks = [rng.integers(0, len(vocab), int(n)) for n in rng.integers(10, 101, n_base)]
    parent = np.full(n_docs, -1)
    for i in range(n_base, n_base + n_near):
        parent[i] = int(rng.integers(0, i))
        src = toks[parent[i]].copy()
        pos = rng.choice(len(src), max(1, int(len(src) * NEAR_EDIT_FRAC)), replace=False)
        src[pos] = (src[pos] + rng.integers(1, len(vocab), len(pos))) % len(vocab)
        toks.append(src)
    texts = [" ".join(vocab[t]) for t in toks]
    for k, i in enumerate(rng.integers(0, n_base, n_exact)):
        t = texts[int(i)]
        texts.append(t if k % 2 else t[:1].upper() + t[1:] + ".")

    table = pa.table(
        {
            "doc_id": rng.permutation(n_docs).astype(np.int64),
            "source": [f"src{k}" for k in rng.integers(0, N_SOURCES, n_docs)],
            "text": texts,
        }
    )
    return table, parent


def expected_counters(table: pa.Table, parent: np.ndarray, threshold: float = 0.7) -> dict:
    """What prepare_training_corpus must report for `table`, worked out
    in plain Python from the documented rules, not from the product.

    ``n_quality_rejected`` and ``n_exact_dups`` are exact: the Gopher keep
    rule (>= 50 word tokens, top token <= 20 %, distinct ratio >= 0.03,
    mean word length 2..10) and one survivor per normalized fingerprint.
    ``min_near_dups`` is a lower bound: the planted near copies that
    survive both passes and whose char-3-gram Jaccard with the survivor
    standing for their source clears `threshold` by 0.05.  Each such copy
    has an edge to a doc planted before it, so those edges form a forest,
    and removing all but one doc per connected component removes at
    least one doc per forest edge.
    """
    ids = table.column("doc_id").to_pylist()
    texts = table.column("text").to_pylist()
    kept = [_quality_keep(t) for t in texts]
    fps = [" ".join(re.findall("[a-z0-9]+", t.lower())) for t in texts]
    survivor: dict[str, int] = {}  # fingerprint -> row of its min doc_id among kept
    for i in range(len(texts)):
        if kept[i] and (fps[i] not in survivor or ids[i] < ids[survivor[fps[i]]]):
            survivor[fps[i]] = i
    n_near = 0
    for i in np.flatnonzero(parent >= 0):
        p = int(parent[i])
        if kept[i] and kept[p] and survivor[fps[i]] == i:
            rep = texts[survivor[fps[p]]]
            n_near += _jaccard3(texts[i], rep) >= threshold + 0.05
    return {
        "n_quality_rejected": kept.count(False),
        "n_exact_dups": sum(kept) - len(survivor),
        "min_near_dups": n_near,
    }


def _quality_keep(text: str) -> bool:
    toks = re.findall("[a-z]+", text.lower())
    n = len(toks)
    if n < 50:
        return False
    top = max(toks.count(t) for t in set(toks))
    mean_len = sum(map(len, toks)) / n
    return round(top / n, 6) <= 0.2 and round(len(set(toks)) / n, 6) >= 0.03 and (
        2.0 <= round(mean_len, 6) <= 10.0
    )


def _jaccard3(a: str, b: str) -> float:
    sa = {a[i:i + 3] for i in range(max(len(a) - 2, 1))}
    sb = {b[i:i + 3] for i in range(max(len(b) - 2, 1))}
    return len(sa & sb) / len(sa | sb)


def write_parquet(path: str, table: pa.Table, n_files: int = 8) -> None:
    os.makedirs(path, exist_ok=True)
    step = max(1, -(-table.num_rows // n_files))
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"))
