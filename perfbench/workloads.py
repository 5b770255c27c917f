"""The benchmark's workloads: one closed-loop operation each, its inputs and
its correctness check.

An operation is submitted only after the previous one completed (one
client). Each workload also names the transcript corpus and the vector set
its traced run replays the layers on: its own input for the layers its
operation exercises, and a small side input generated from the same seed
for the others, so every traced run measures every layer.
"""

from __future__ import annotations

import statistics
from dataclasses import replace

from deduplicate_spark.config import DedupConfig
from deduplicate_spark.pipeline import run_pipeline

import inputs
from tracing import similarity_calls

# the batch operation's config; process_batch runs the same cascade, so the
# streamed partition must equal the program's
CASCADE_CONFIG = DedupConfig(exclude_roles=("system",))
# the traced run's extra substring span (process_batch has no substring pass)
SUBSTRING_CONFIG = replace(CASCADE_CONFIG, enable_substring_pass=True)

# (full, smoke) sizes
SIDE_CORPUS = {"n_base": (60, 15), "dup_fraction": 1.0}
SIDE_VECTORS = {"n_base": (2000, 300), "dim": (128, 16), "n_queries": (20, 4), "n_dup_pairs": (50, 5)}
IVF = {"n_cells": (64, 8), "nprobe": (8, 2)}


def _pick(sizes: dict, smoke: bool) -> dict:
    return {k: (v[1] if smoke else v[0]) if isinstance(v, tuple) else v for k, v in sizes.items()}


class BatchHighDup:
    """``run_pipeline`` over a corpus where every base conversation has a
    planted duplicate of some kind."""

    name = "batch_small_highdup"
    side = "vectors"  # the traced run's similarity calls use side_vectors
    sizes = {"n_base": (1000, 30), "dup_fraction": 1.0}

    def __init__(self, seed: int, smoke: bool) -> None:
        self.seed, self.smoke = seed, smoke
        self.ivf = _pick(IVF, smoke)

    def generate(self) -> None:
        self.corpus = inputs.make_corpus(self.seed, config=CASCADE_CONFIG, **_pick(self.sizes, self.smoke))
        self.side_vectors = inputs.make_vectors(self.seed, **_pick(SIDE_VECTORS, self.smoke))

    def load(self, spark) -> None:
        self.turns = self.corpus.spark_df(spark).cache()
        self.turns.count()

    def stats(self) -> dict:
        return {"corpus": inputs.corpus_stats(self.corpus), "side_vectors": inputs.vector_stats(self.side_vectors)}

    def prepare_reference(self, cache_dir: str) -> None:
        self.oracle = inputs.oracle_pairs(self.corpus, CASCADE_CONFIG, cache_dir)

    def op(self, spark, tr, name: str):
        with tr.span(name):
            res = run_pipeline(spark, self.turns, CASCADE_CONFIG)
            res.clusters.count()
            res.actions.count()
        return res

    def check(self, res) -> dict:
        rows = [(r.conv_id, r.cluster_id) for r in res.clusters.collect()]
        acts = [
            (r.conv_id, r.cluster_id, r.canonical_conv_id, r.action)
            for r in res.actions.select("conv_id", "cluster_id", "canonical_conv_id", "action").collect()
        ]
        found = inputs.pairs_from_partition(rows)
        out = inputs.check_pairs(found, self.oracle)
        out["actions_ok"] = inputs.check_actions(rows, acts)
        out["ok"] = out["ok"] and out["actions_ok"]
        out["planted"] = inputs.planted_recall(self.corpus, found)
        out["rows"] = rows
        return out

    def end_to_end(self, walls: list[float], checks: list[dict]) -> tuple[dict, dict]:
        p50 = statistics.median(walls)
        turns = len(self.corpus.turns)
        metrics = {
            "items_per_s": (turns / p50, "items/s"),
            "op_p50_s": (p50, "s"),
            "planted_recall": (min(min(c["planted"].values()) for c in checks), "ratio"),
        }
        telemetry = {"turns_per_s": turns / p50, "op_walls_s": walls, "samples": len(walls)}
        return metrics, telemetry

    @property
    def trace_corpus(self) -> inputs.Corpus:
        return self.corpus


class VectorSimilarity:
    """One query set per operation over seeded vectors: embedding duplicate
    pairs, SRP-LSH top-k, the IVF quantizer fit and IVF top-k."""

    name = "vector_similarity"
    side = "transcripts"  # the traced run's cascade replay uses side_corpus
    sizes = {"n_base": (10000, 500), "dim": (128, 16), "n_queries": (100, 5), "n_dup_pairs": (500, 10)}

    def __init__(self, seed: int, smoke: bool) -> None:
        self.seed, self.smoke = seed, smoke
        self.ivf = _pick(IVF, smoke)

    def generate(self) -> None:
        self.vectors = inputs.make_vectors(self.seed, **_pick(self.sizes, self.smoke))
        self.side_corpus = inputs.make_corpus(
            self.seed, config=CASCADE_CONFIG, **_pick(SIDE_CORPUS, self.smoke)
        )

    def load(self, spark) -> None:
        self.vec, self.queries = self.vectors.spark_dfs(spark)
        self.vec = self.vec.cache()
        self.queries = self.queries.cache()
        self.vec.count()
        self.queries.count()

    def stats(self) -> dict:
        return {"vectors": inputs.vector_stats(self.vectors), "side_corpus": inputs.corpus_stats(self.side_corpus)}

    def prepare_reference(self, cache_dir: str) -> None:
        self.truth = inputs.cosine_truth(self.vectors)

    def op(self, spark, tr, name: str):
        with tr.span(name):
            return similarity_calls(tr, self.vec, self.queries, self.vectors, **self.ivf)

    def check(self, out) -> dict:
        return check_vectors(self.vectors, self.truth, out)

    def end_to_end(self, walls: list[float], checks: list[dict]) -> tuple[dict, dict]:
        n = len(self.vectors.ids)
        per_call = {k: [c["walls"][k] for c in checks] for k in checks[0]["walls"]}
        dup_p50 = statistics.median(per_call["dup_pairs"])
        query_p50 = statistics.median(a + b for a, b in zip(per_call["ann_topk"], per_call["ivf_topk"]))
        metrics = {
            "items_per_s": (n / dup_p50, "items/s"),
            "op_p50_s": (statistics.median(walls), "s"),
            "planted_recall": (min(c["planted_recall"] for c in checks), "ratio"),
        }
        telemetry = {
            "embed_vectors_per_s": n / dup_p50,
            "ann_queries_per_s": 2 * len(self.vectors.query_ids) / query_p50,
            "ann_recall_at10": min(min(c["ann_recall"], c["ivf_recall"]) for c in checks),
            "op_walls_s": walls,
            "call_walls_s": per_call,
            "samples": len(walls),
        }
        return metrics, telemetry

    @property
    def trace_corpus(self) -> inputs.Corpus:
        return self.side_corpus


def check_vectors(v: inputs.Vectors, truth, out: dict) -> dict:
    """Duplicate pairs must equal the numpy cosine truth; both top-k paths
    must recover the planted neighbours."""
    found = {(min(a, b), max(a, b)) for a, b in out["dup_pairs"]}
    planted = len(found & v.planted_pairs) / len(v.planted_pairs)
    ann = inputs.neighbour_recall(v, out["ann"])
    ivf = inputs.neighbour_recall(v, out["ivf"])
    return {
        "ok": found == truth and min(ann, ivf) >= inputs.ANN_GATE,
        "dup_pairs_exact": found == truth,
        "planted_pair_recall": planted,
        "ann_recall": ann,
        "ivf_recall": ivf,
        "planted_recall": min(planted, ann, ivf),
        "walls": out["walls"],
    }


WORKLOADS = {w.name: w for w in (BatchHighDup, VectorSimilarity)}
