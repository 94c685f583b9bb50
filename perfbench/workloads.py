"""The benchmark's workloads: closed loops over the product entry points.

Each workload sets up (inputs plus one full-size warm-up iteration, never timed),
then repeats an iteration of timed ops until the run's
measuring time is used up.  Every op's output is checked after the
clock stops; an op that raises or fails a check counts as failed.

Op kinds, each timed in process around one product call:
- ``op``: the full job (KG cold sync into an empty catalog; corpus prep
  of the full document batch);
- ``noop``: a job with nothing new (KG rerun on an unchanged corpus;
  corpus prep of an empty batch).
"""

from __future__ import annotations

import os
import shutil
import time
import traceback
from dataclasses import asdict
from typing import Callable

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

import inputs
from scheduler_spark import pipeline
from scheduler_spark.catalog import Catalog
from scheduler_spark.operators import canonicalize, corpus

KINDS = ("op", "noop")


class SetupError(RuntimeError):
    """The warm-up produced a wrong result; the run reports nothing."""


class Workload:
    """Shared loop state: timed samples, attempt and failure counts."""

    name = ""
    op_span = ""

    def __init__(self, spark: SparkSession, work: str, seed: int) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = None
        self.samples: dict[str, list[float]] = {k: [] for k in KINDS}
        self.rows_per_op = 0
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.warming = False

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def catalog(self, name: str) -> Catalog:
        cat = Catalog(self.path("catalogs", name), self.spark)
        if self.tracer is not None:
            for method in ("overwrite_partitions", "append", "overwrite"):
                self.tracer.wrap_method(cat, method, f"catalog.{method}", table_arg=1)
        return cat

    def run_op(self, kind: str, label: str, fn: Callable, check: Callable[[object], list[str]]) -> None:
        """Time one product call, then check its result untimed.  While
        warming up, nothing is recorded and a failure ends the run."""
        if self.warming:
            problems = check(fn())
            if problems:
                raise SetupError(f"warm-up {label}: {problems}")
            return
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            if self.tracer is not None:
                res = self.tracer.call(self.op_span, fn)
            else:
                res = fn()
        except Exception:  # the loop reports a failed op and goes on
            traceback.print_exc()
            self.failed += 1
            self.failures.append(f"{label}: raised")
            return
        self.samples[kind].append(time.perf_counter() - t0)
        problems = check(res)
        if problems:
            self.failed += 1
            self.failures.append(f"{label}: " + "; ".join(problems))

    def install_tracing(self, tracer) -> None:
        self.tracer = tracer

    def setup(self) -> None:
        raise NotImplementedError

    def warm_up(self) -> None:
        """One untimed iteration at full size."""
        self.warming = True
        try:
            self.iteration("warm")
        finally:
            self.warming = False

    def iteration(self, i: int | str) -> None:
        raise NotImplementedError


class KgCold(Workload):
    """Cold sync of a synth_files corpus through run_pipeline.

    Each iteration cold-syncs the corpus into a fresh catalog (``op``)
    and reruns it unchanged (``noop``).
    """

    name = "kg_cold"
    op_span = "pipeline.run_pipeline"
    n_files = 2000

    def setup(self) -> None:
        params = inputs.kg_params(self.seed, self.n_files)
        data = inputs.write_kg_inputs(self.spark, self.path("inputs"), params)
        self.rows_per_op = self.n_files
        self.n_sources = data["n_sources"]
        self.expected = data["expected"]
        self.idents = data["idents"]
        self.files = self.spark.read.parquet(data["files"])
        self.aliases = self.spark.read.parquet(data["aliases"])

    def sync(self, cat: Catalog, run_id: str):
        return pipeline.run_pipeline(self.spark, self.files, self.aliases, cat, run_id=run_id)

    def check(self, res, cat: Catalog, noop: bool) -> list[str]:
        """A no-op rerun is skipped.  A cold sync processes every source,
        its links_to and in_lang rows are the ones inputs.expected_triples
        works out from the corpus, and its defines rows pass
        inputs.check_defines."""
        if noop:
            return [] if res.skipped else ["no-op rerun was not skipped"]
        problems = []
        if res.skipped or res.n_partitions_processed != self.n_sources:
            problems.append(
                f"processed {res.n_partitions_processed} partitions, want {self.n_sources}"
            )
        triples = cat.read(pipeline.TRIPLES_TABLE)
        digests = inputs.triples_digests(triples.filter(F.col("pred") != "defines"))
        if digests != self.expected:
            differ = sorted(p for p in self.expected.keys() | digests.keys()
                            if self.expected.get(p) != digests.get(p))
            problems.append(f"triples differ from the expected ones in predicates {differ}")
        defines = triples.filter(F.col("pred") == "defines").select("subj", "obj").collect()
        return problems + inputs.check_defines([tuple(r) for r in defines], self.idents)

    def iteration(self, i: int | str) -> None:
        cat = self.catalog(f"cold-{i}")
        self.run_op("op", "cold sync", lambda: self.sync(cat, f"cold-{i}"),
                    lambda r: self.check(r, cat, noop=False))
        self.run_op("noop", "no-op rerun", lambda: self.sync(cat, f"noop-{i}"),
                    lambda r: self.check(r, cat, noop=True))
        shutil.rmtree(cat.root, ignore_errors=True)

    def install_tracing(self, tracer) -> None:
        super().install_tracing(tracer)
        for attr, layer, rows_in, rows_out in [
            ("fingerprint_partitions", "checkpoint", False, False),
            ("dirty_partitions", "checkpoint", True, True),
            ("updated_checkpoint", "checkpoint", False, False),
            ("extract_mentions", "extract", True, True),
            ("link_by_alias", "linking", False, True),
            ("lsh_candidate_pairs", "linking", False, True),
            ("canonicalize_values", "canonicalize", False, False),
            ("build_triples", "materialize", False, True),
            ("stage_counters", "lineage", False, False),
        ]:
            tracer.wrap(pipeline, attr, f"{layer}.{attr}", rows_in=rows_in, rows_out=rows_out)
        tracer.wrap(canonicalize, "connected_components", "components.connected_components")


class CorpusPrep(Workload):
    """Training-corpus preparation through prepare_training_corpus.

    Each iteration prepares the full batch into a fresh catalog (``op``),
    then appends an empty batch (``noop``).
    """

    name = "corpus_prep"
    op_span = "corpus.prepare_training_corpus"
    n_docs = 2000

    def setup(self) -> None:
        full, parent = inputs.make_docs(self.seed, self.n_docs)
        batches = {"full": full, "empty": full.slice(0, 0)}
        self.docs = {}
        for name, table in batches.items():
            inputs.write_parquet(self.path("inputs", name), table, 1 if name == "empty" else 8)
            self.docs[name] = self.spark.read.parquet(self.path("inputs", name))
        self.n_rows = {name: t.num_rows for name, t in batches.items()}
        self.rows_per_op = self.n_docs
        self.expected = inputs.expected_counters(full, parent)
        # a full batch's counters must repeat the warm-up's
        self.ref: dict | None = None

    def prepare(self, batch: str, cat: Catalog, run_id: str):
        return corpus.prepare_training_corpus(self.docs[batch], cat, run_id=run_id)

    def check(self, res, batch: str) -> list[str]:
        """Counters add up to n_input.  An empty batch's are all zero.  A
        full batch's repeat the warm-up's, match the quality and
        exact-dup counts of inputs.expected_counters, and find at least
        its planted near duplicates."""
        counters = {k: v for k, v in asdict(res).items() if k not in ("run_id", "snapshot_id")}
        problems = []
        if counters["n_input"] != self.n_rows[batch]:
            problems.append(f"n_input {counters['n_input']} != {self.n_rows[batch]} docs given")
        if counters["n_input"] != sum(v for k, v in counters.items() if k != "n_input"):
            problems.append(f"counters do not add up to n_input: {counters}")
        if batch == "empty":
            if any(counters.values()):
                problems.append(f"empty batch counted {counters}")
            return problems
        exp = self.expected
        for k in ("n_quality_rejected", "n_exact_dups"):
            if counters[k] != exp[k]:
                problems.append(f"{k} {counters[k]}, want {exp[k]}")
        if counters["n_near_dups"] < exp["min_near_dups"]:
            problems.append(f"n_near_dups {counters['n_near_dups']}, "
                            f"want at least {exp['min_near_dups']} planted")
        if self.ref is None:
            self.ref = counters
        elif counters != self.ref:
            problems.append(f"counters {counters} differ from the warm-up's {self.ref}")
        return problems

    def iteration(self, i: int | str) -> None:
        cat = self.catalog(f"prep-{i}")
        self.run_op("op", "full batch", lambda: self.prepare("full", cat, f"full-{i}"),
                    lambda r: self.check(r, "full"))
        self.run_op("noop", "empty batch", lambda: self.prepare("empty", cat, f"empty-{i}"),
                    lambda r: self.check(r, "empty"))
        shutil.rmtree(cat.root, ignore_errors=True)

    def install_tracing(self, tracer) -> None:
        super().install_tracing(tracer)
        tracer.wrap(corpus, "minhash_lsh_pairs", "dedup.minhash_lsh_pairs", rows_out=True)
        tracer.wrap(corpus, "connected_components", "components.connected_components")


WORKLOADS = {w.name: w for w in (KgCold, CorpusPrep)}
