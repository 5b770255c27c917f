"""Seeded inputs and the correctness checks run against them.

Transcripts come from ``deduplicate_spark.datagen.generate_transcripts``;
vectors from seeded numpy with planted near-duplicate pairs and planted
top-k neighbours. The program under test only ever receives the Spark
DataFrames built here. The reference answers (the pure-Python oracle's
pair set, the numpy cosine truth) are computed driver-side and outside
every timed region.
"""

from __future__ import annotations

import hashlib
import json
import os
import zlib
from collections import defaultdict
from dataclasses import dataclass

import numpy as np
import pandas as pd

from deduplicate_spark.config import DedupConfig
from deduplicate_spark.datagen import generate_transcripts, manifest_df
from deduplicate_spark.oracle import assemble_docs_pandas, oracle_dup_pairs, pair_recall
from deduplicate_spark.schema import TRANSCRIPTS_SCHEMA

# the bar bench/recall_gate.py and tests/test_pipeline.py hold the
# pipeline to, in both directions
ORACLE_GATE = 0.99
# planted-neighbour recall@10 bar of tests/test_similarity.py
ANN_GATE = 0.95

Pairs = set[tuple[str, str]]


# --------------------------------------------------------------- transcripts


@dataclass
class Corpus:
    seed: int
    config: DedupConfig
    turns: pd.DataFrame
    manifest: pd.DataFrame
    docs: pd.DataFrame  # driver-side assembly at ``config`` (oracle input)

    def spark_df(self, spark):
        return spark.createDataFrame(self.turns, schema=TRANSCRIPTS_SCHEMA)

    def micro_batches(self, k: int) -> list[pd.DataFrame]:
        """Equal-ish split by a deterministic conv_id hash (whole
        conversations per batch, like the streaming equivalence test)."""
        bucket = self.turns["conv_id"].map(lambda c: zlib.crc32(c.encode()) % k)
        return [self.turns[bucket == i] for i in range(k)]


def make_corpus(seed: int, n_base: int, dup_fraction: float, config: DedupConfig) -> Corpus:
    turns, manifest = generate_transcripts(n_base=n_base, seed=seed, dup_fraction=dup_fraction)
    return Corpus(seed, config, turns, manifest_df(manifest), assemble_docs_pandas(turns, config))


def corpus_stats(c: Corpus) -> dict:
    nonempty = c.docs[c.docs["total_len"] > 0]
    planted = c.manifest.groupby("kind").size().to_dict()
    return {
        "seed": c.seed,
        "turns": int(len(c.turns)),
        "docs": int(len(c.docs)),
        "text_bytes": int(c.turns["text"].str.encode("utf-8").str.len().sum()),
        "exact_distinct_share": round(nonempty["exact_sha"].nunique() / max(len(nonempty), 1), 4),
        "planted_pairs": {k: int(v) for k, v in sorted(planted.items())},
        "config_hash": c.config.config_hash(),
    }


def _package_digest() -> str:
    """Digest of the package sources: a cached oracle answer is reused only
    for the exact code that produced it."""
    import deduplicate_spark

    root = os.path.dirname(deduplicate_spark.__file__)
    h = hashlib.sha1()
    for dirpath, dirnames, filenames in sorted(os.walk(root)):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".py"):
                with open(os.path.join(dirpath, name), "rb") as fh:
                    h.update(name.encode() + fh.read())
    return h.hexdigest()


def oracle_pairs(c: Corpus, config: DedupConfig, cache_dir: str) -> Pairs:
    """The reference-semantics pair set at ``config``, cached on disk per
    (package sources, config hash, corpus content): the oracle is
    single-threaded Python and costs seconds per corpus."""
    docs = c.docs if config == c.config else assemble_docs_pandas(c.turns, config)
    h = hashlib.sha1(_package_digest().encode() + config.config_hash().encode())
    for conv_id, sha in sorted(zip(docs["conv_id"], docs["exact_sha"])):
        h.update(f"{conv_id}\0{sha}\n".encode())
    path = os.path.join(cache_dir, f"oracle-{h.hexdigest()}.json")
    if os.path.exists(path):
        with open(path) as fh:
            return {tuple(p) for p in json.load(fh)}
    pairs = oracle_dup_pairs(docs, config)
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as fh:
        json.dump(sorted(pairs), fh)
    os.replace(tmp, path)
    return pairs


def pairs_from_partition(rows) -> Pairs:
    """(conv_id, cluster_id) rows -> all co-cluster pairs (a < b)."""
    members = defaultdict(list)
    for conv_id, cluster_id in rows:
        members[cluster_id].append(conv_id)
    out = set()
    for ms in members.values():
        ms.sort()
        out.update((a, b) for i, a in enumerate(ms) for b in ms[i + 1 :])
    return out


def partition(rows) -> frozenset:
    members = defaultdict(set)
    for conv_id, cluster_id in rows:
        members[cluster_id].add(conv_id)
    return frozenset(frozenset(m) for m in members.values())


def planted_recall(c: Corpus, found: Pairs) -> dict[str, float]:
    """found / expected planted pairs per expected level the config can
    detect (substring only when the substring pass is on)."""
    levels = ["exact", "near"] + (["substring"] if c.config.enable_substring_pass else [])
    out = {}
    for level in levels:
        rows = c.manifest[c.manifest["expected_level"] == level]
        exp = {tuple(sorted(p)) for p in zip(rows["conv_a"], rows["conv_b"])}
        out[level] = pair_recall(found, exp)
    return out


def check_pairs(found: Pairs, oracle: Pairs) -> dict:
    rec, cont = pair_recall(found, oracle), pair_recall(oracle, found)
    return {
        "recall_vs_oracle": rec,
        "oracle_containment": cont,
        "ok": rec >= ORACLE_GATE and cont >= ORACLE_GATE,
    }


def check_actions(cluster_rows, action_rows) -> bool:
    """One action per clustered doc, exactly one keep per cluster, and every
    delete points at its cluster's kept doc."""
    clusters = dict(cluster_rows)
    if sorted(a[0] for a in action_rows) != sorted(clusters):
        return False
    keeps = defaultdict(list)
    for conv_id, cluster_id, canonical, action in action_rows:
        if clusters[conv_id] != cluster_id:
            return False
        if action == "keep":
            keeps[cluster_id].append(conv_id)
    if set(keeps) != set(clusters.values()) or any(len(k) != 1 for k in keeps.values()):
        return False
    return all(canonical == keeps[cid][0] for _, cid, canonical, _ in action_rows)


# -------------------------------------------------------------------- vectors


@dataclass
class Vectors:
    seed: int
    ids: np.ndarray
    mat: np.ndarray  # float32, one row per id
    query_ids: np.ndarray
    neighbours: dict[int, set[int]]  # planted top-k per query
    planted_pairs: set[tuple[int, int]]
    threshold: float
    k: int

    @property
    def dim(self) -> int:
        return int(self.mat.shape[1])

    def spark_dfs(self, spark):
        schema = "vec_id long, embedding array<float>"
        vec = spark.createDataFrame(
            pd.DataFrame({"vec_id": self.ids, "embedding": list(self.mat)}), schema
        )
        q = spark.createDataFrame(
            # ids are row positions
            pd.DataFrame({"q_id": self.query_ids, "embedding": list(self.mat[self.query_ids])}),
            "q_id long, embedding array<float>",
        )
        return vec, q


def make_vectors(
    seed: int, n_base: int, dim: int, n_queries: int, n_dup_pairs: int, k: int = 10
) -> Vectors:
    """Gaussian background plus two planted structures:

    * ``n_dup_pairs`` copies at 1% relative noise (cosine ~0.99995), the
      only pairs above the 0.998 duplicate threshold;
    * ``k`` copies of each query at 14% relative noise (cosine ~0.99), its
      planted top-k: background cosines in 128-d stay below ~0.4, and these
      copies stay below the duplicate threshold.
    """
    rng = np.random.default_rng(seed)
    base = rng.standard_normal((n_base, dim)).astype(np.float32)
    picks = rng.choice(n_base, size=n_queries + n_dup_pairs, replace=False)
    queries, dup_src = picks[:n_queries], picks[n_queries:]

    def noisy(rows: np.ndarray, rel: float) -> np.ndarray:
        scale = rel * np.linalg.norm(rows, axis=1, keepdims=True) / np.sqrt(dim)
        return (rows + rng.standard_normal(rows.shape) * scale).astype(np.float32)

    nb = noisy(np.repeat(base[queries], k, axis=0), 0.14)
    dp = noisy(base[dup_src], 0.01)
    mat = np.concatenate([base, nb, dp])
    ids = np.arange(len(mat), dtype=np.int64)
    nb_ids = (n_base + np.arange(n_queries * k)).reshape(n_queries, k)
    dp_ids = n_base + n_queries * k + np.arange(n_dup_pairs)
    return Vectors(
        seed=seed,
        ids=ids,
        mat=mat,
        query_ids=queries.astype(np.int64),
        neighbours={int(q): set(map(int, nb_ids[i])) for i, q in enumerate(queries)},
        planted_pairs={(int(a), int(b)) for a, b in zip(dup_src, dp_ids)},
        threshold=0.998,
        k=k,
    )


def vector_stats(v: Vectors) -> dict:
    return {
        "seed": v.seed,
        "vectors": int(len(v.ids)),
        "dim": v.dim,
        "queries": int(len(v.query_ids)),
        "planted_neighbours": int(sum(len(s) for s in v.neighbours.values())),
        "planted_dup_pairs": len(v.planted_pairs),
        "dup_threshold": v.threshold,
    }


def cosine_truth(v: Vectors) -> set[tuple[int, int]]:
    """Every pair with cosine >= threshold, by blocked float64 numpy."""
    m = v.mat.astype(np.float64)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    out = set()
    for s in range(0, len(m), 2048):
        cos = m[s : s + 2048] @ m.T
        for i, j in zip(*np.nonzero(cos >= v.threshold)):
            a, b = int(v.ids[s + i]), int(v.ids[j])
            if a < b:
                out.add((a, b))
    return out


def neighbour_recall(v: Vectors, rows) -> float:
    """Planted-neighbour recall@k of (q_id, neighbor_id) rows."""
    got = {(int(q), int(n)) for q, n in rows}
    want = {(q, n) for q, ns in v.neighbours.items() for n in ns}
    return len(got & want) / len(want)
