"""Spans, Spark event-log counters and the per-layer replays.

Spans are recorded only here, in the benchmark, around calls into each
layer's public functions; the package itself is not instrumented. A span
has a name, start, end, parent and the run id, and is kept in memory until
the run writes them all out. While tracing is on, each span also sets the
Spark job group to its own name, so the event log (read after the session
stops) attributes every job, stage and task to the innermost span that
submitted it. Self time is a span's duration minus the part of it that its
child spans cover.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import replace

from pyspark.sql import functions as F

from host import tree_cpu_s

# ---------------------------------------------------------------------- spans


class Tracer:
    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = None  # set while job groups and CPU sampling are on
        self.cached_bytes_peak = 0

    def enable(self, spark) -> None:
        self._sc = spark.sparkContext

    def disable(self) -> None:
        self._sc = None

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "traced": self._sc is not None,
            "start": time.time(),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        if self._sc is not None:
            rec["cpu0"] = tree_cpu_s()
            self._sc.setJobGroup(name, name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._sc is not None:
                rec["cpu_s"] = tree_cpu_s() - rec.pop("cpu0")
                if self._stack:
                    parent = self.spans[self._stack[-1]]["name"]
                    self._sc.setJobGroup(parent, parent)
                else:
                    self._sc._jsc.clearJobGroup()

    def sample_cached_bytes(self) -> None:
        """Cached and checkpointed block bytes held right now (SparkContext
        storage info); the run keeps the peak."""
        if self._sc is None:
            return
        infos = self._sc._jsc.sc().getRDDStorageInfo()
        held = sum(i.memSize() + i.diskSize() for i in infos)
        self.cached_bytes_peak = max(self.cached_bytes_peak, held)

    def by_name(self, name: str) -> dict:
        """The one span of this name recorded while tracing was on."""
        (rec,) = [s for s in self.spans if s["name"] == name and s["traced"]]
        return rec

    def subtree(self, name: str) -> list[dict]:
        root = self.by_name(name)
        out, todo = [], [root["id"]]
        while todo:
            sid = todo.pop()
            out.append(self.spans[sid])
            todo.extend(s["id"] for s in self.spans if s["parent"] == sid)
        return out

    def wall(self, name: str) -> float:
        s = self.by_name(name)
        return s["end"] - s["start"]

    def self_s(self, name: str) -> float:
        s = self.by_name(name)
        kids = sorted(
            (c["start"], c["end"]) for c in self.spans if c["parent"] == s["id"]
        )
        return (s["end"] - s["start"]) - union_length(kids)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def union_length(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


def spans_nest(spans: list[dict]) -> bool:
    """Every parent id resolves to a span of the same run whose interval
    contains the child's."""
    ids = {s["id"]: s for s in spans}
    for s in spans:
        if s["parent"] is None:
            continue
        p = ids.get(s["parent"])
        if p is None or p["run_id"] != s["run_id"]:
            return False
        if s["start"] < p["start"] or s["end"] > p["end"]:
            return False
    return True


# ------------------------------------------------------------------ event log


class EventLog:
    """Per-job-group Spark counters read offline from one event log."""

    def __init__(self, log_dir: str) -> None:
        (name,) = os.listdir(log_dir)
        self.jobs: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        self.stage_tasks: dict[int, dict] = {}
        with open(os.path.join(log_dir, name)) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    self.jobs[jid] = {
                        "group": props.get("spark.jobGroup.id"),
                        "start": ev["Submission Time"] / 1000,
                        "end": None,
                    }
                    for sid in ev["Stage IDs"]:
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    t = self.stage_tasks.setdefault(
                        ev["Stage ID"],
                        dict.fromkeys(("tasks", "cpu_ns", "gc_ms", "shuffle_write", "spill", "input"), 0),
                    )
                    t["tasks"] += 1
                    t["cpu_ns"] += m.get("Executor CPU Time", 0)
                    t["gc_ms"] += m.get("JVM GC Time", 0)
                    t["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    t["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    t["input"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        self.stage_group = {sid: self.jobs[jid]["group"] for sid, jid in stage_job.items()}

    def stats(self, groups) -> dict:
        groups = set(groups)
        jobs = [j for j in self.jobs.values() if j["group"] in groups]
        stages = [s for s, g in self.stage_group.items() if g in groups and s in self.stage_tasks]
        tot = lambda key: sum(self.stage_tasks[s][key] for s in stages)  # noqa: E731
        return {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": tot("tasks"),
            "job_wall_s": union_length((j["start"], j["end"]) for j in jobs if j["end"]),
            "executor_cpu_s": tot("cpu_ns") / 1e9,
            "gc_s": tot("gc_ms") / 1e3,
            "shuffle_write_bytes": tot("shuffle_write"),
            "spill_bytes": tot("spill"),
            "input_bytes": tot("input"),
        }


# ------------------------------------------------------------ layer replays


def replay_cascade(tr: Tracer, turns, config, substring_config) -> dict:
    """The batch cascade rebuilt from the layers' public functions, one span
    per call, each ending in an eager ``cut_lineage``. Mirrors
    ``run_pipeline``'s store-less path (long internal ids, measured gates)
    so that its clusters must equal the program's at ``config``. The
    substring pass runs as one more span on the same representatives at
    ``substring_config``; its pairs are counted, not clustered. Returns the
    final (conv_id, cluster_id) rows and the per-layer counts."""
    from deduplicate_spark.lineage import cut_lineage as cut
    from deduplicate_spark.operators.assembly import assemble_docs
    from deduplicate_spark.operators.components import connected_components
    from deduplicate_spark.operators.lsh import bucket_stats, candidate_pairs
    from deduplicate_spark.operators.minhash import compute_signatures
    from deduplicate_spark.operators.resolve import actions
    from deduplicate_spark.operators.simhash import confirm_pairs
    from deduplicate_spark.operators.skew import measured_forced_smj, measured_small_corpus
    from deduplicate_spark.operators.substring import substring_pairs
    from deduplicate_spark.pipeline import (
        assert_no_id_collisions,
        corpus_stats,
        exact_representatives,
        exact_star_edges,
        relabel_components,
    )

    def kid(df):
        return df.withColumn("conv_id", F.xxhash64("conv_id"))

    cfg = config
    with tr.span("replay"):
        with tr.span("assembly"):
            docs = cut(assemble_docs(turns, cfg), spill_only=True)
            meta = cut(docs.drop("doc_text"))
        tr.sample_cached_bytes()
        with tr.span("pipeline.gates"):
            st = corpus_stats(meta, verify_ids=cfg.verify_long_ids)
            if cfg.verify_long_ids:
                assert_no_id_collisions(meta, stats=st)
            big = measured_forced_smj(st.n, st.total_bytes, cfg)
            cfg = replace(
                cfg,
                forced_smj=big,
                rescue_short_circuit=big,
                kernel_small_corpus=measured_small_corpus(st.total_bytes, cfg),
            )
        smj, salt = cfg.forced_smj, cfg.band_salt_buckets
        kmeta = kid(meta)
        with tr.span("pipeline.exact"):
            exact = cut(exact_star_edges(kmeta, salt_buckets=salt, forced_smj=smj))
            reps = cut(exact_representatives(kid(docs), salt_buckets=salt, forced_smj=smj))
        tr.sample_cached_bytes()
        with tr.span("minhash"):
            kin = reps.repartition(cfg.shuffle_partitions) if cfg.kernel_small_corpus else reps
            sigs = cut(compute_signatures(kin, cfg))
        tr.sample_cached_bytes()
        with tr.span("lsh"):
            cand = cut(candidate_pairs(sigs, cfg))
            bs = bucket_stats(sigs, cfg).first()
        with tr.span("simhash"):
            sim = cut(sigs.select("conv_id", "simhash"))
            confirmed = cut(
                confirm_pairs(cand, sigs, docs=kmeta, config=cfg, sim_signatures=sim).select(
                    "a", "b", "evidence"
                )
            )
        with tr.span("substring"):
            sub = cut(substring_pairs(reps, substring_config))
        tr.sample_cached_bytes()
        edges = exact.select("a", "b", "evidence").unionByName(confirmed)
        if cfg.enable_substring_pass:
            edges = edges.unionByName(sub)
        with tr.span("components"):
            comps = cut(
                connected_components(
                    edges, max_rounds=cfg.cc_max_rounds, assume_deduped=True, forced_smj=smj
                )
            )
        with tr.span("pipeline.relabel"):
            clusters = cut(relabel_components(comps, meta, salt_buckets=salt, forced_smj=smj))
        with tr.span("resolve"):
            acts = cut(actions(clusters, meta, forced_smj=smj))
        tr.sample_cached_bytes()

    # counts read back from the checkpointed blocks, outside every span
    rows = [(r.conv_id, r.cluster_id) for r in clusters.collect()]
    counts = {
        "docs": meta.count(),
        "nonempty_docs": meta.filter(F.col("total_len") > 0).count(),
        "reps": reps.count(),
        "signatures": sigs.count(),
        "candidates": cand.count(),
        "max_bucket": bs.max_bucket or 0,
        "star_fallbacks": bs.n_star_fallback or 0,
        "confirmed": confirmed.count(),
        "substring_pairs": sub.count(),
        "edges": edges.count(),
        "clusters": len({c for _, c in rows}),
        "actions": acts.count(),
    }
    return {"rows": rows, "counts": counts}


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, filenames in os.walk(path):
        for name in filenames:
            total += os.path.getsize(os.path.join(dirpath, name))
    return total


def trace_incremental(tr: Tracer, spark, batches: list, config, state_root: str) -> dict:
    """Closed-loop micro-batches through ``process_batch`` with parquet state
    in a fresh directory, then ``current_clusters``."""
    from deduplicate_spark.schema import TRANSCRIPTS_SCHEMA
    from deduplicate_spark.streaming.incremental import (
        IncrementalState,
        current_clusters,
        process_batch,
    )

    state = IncrementalState(
        docs_path=os.path.join(state_root, "docs"),
        signatures_path=os.path.join(state_root, "sigs"),
        pairs_path=os.path.join(state_root, "pairs"),
    )
    walls, stats = [], []
    with tr.span("incremental"):
        for i, part in enumerate(batches):
            df = spark.createDataFrame(part, schema=TRANSCRIPTS_SCHEMA)
            with tr.span(f"incremental.batch{i}") as s:
                stats.append(process_batch(spark, df, state, config, first_batch=(i == 0)))
            walls.append(s["end"] - s["start"])
        with tr.span("incremental.cc"):
            rows = [(r.conv_id, r.cluster_id) for r in current_clusters(spark, state, config).collect()]
    # state_root starts empty, so its size is what the batches wrote
    return {"rows": rows, "walls": walls, "bytes_written": dir_bytes(state_root), "batch_stats": stats}


def similarity_calls(tr: Tracer, vec, queries, v, n_cells: int, nprobe: int) -> dict:
    """One query set: embedding duplicate pairs, SRP-LSH top-k, the IVF
    quantizer fit and IVF top-k with kernel cell assignment. Each call's
    result is collected inside its span."""
    from deduplicate_spark.functions.similarity import (
        ann_topk,
        embedding_dup_pairs,
        ivf_centroids_kmeans,
        ivf_topk,
    )

    out, walls = {}, {}
    with tr.span("similarity.dup_pairs") as s:
        out["dup_pairs"] = [
            (r.a, r.b) for r in embedding_dup_pairs(vec, v.dim, threshold=v.threshold).collect()
        ]
    walls["dup_pairs"] = s["end"] - s["start"]
    with tr.span("similarity.ann_topk") as s:
        out["ann"] = [(r.q_id, r.neighbor_id) for r in ann_topk(vec, queries, v.dim, k=v.k).collect()]
    walls["ann_topk"] = s["end"] - s["start"]
    with tr.span("similarity.ivf_fit") as s:
        cents = ivf_centroids_kmeans(vec, n_cells=n_cells, seed=42)
    walls["ivf_fit"] = s["end"] - s["start"]
    with tr.span("similarity.ivf_topk") as s:
        out["ivf"] = [
            (r.q_id, r.neighbor_id)
            for r in ivf_topk(
                vec, queries, n_cells=n_cells, nprobe=nprobe, k=v.k,
                centroids=cents, assign_via_kernel=True,
            ).collect()
        ]
    walls["ivf_topk"] = s["end"] - s["start"]
    out["walls"] = walls
    return out


# ------------------------------------------------------------ layer metrics


def layer_metrics(tr: Tracer, ev: EventLog, replay: dict, incr: dict, n_incr_turns: int) -> dict:
    """Every per-layer metric, from the spans, the event log and the
    replay / incremental counts."""
    def groups(name):
        return [s["name"] for s in tr.subtree(name)]

    def ev_of(name):
        return ev.stats(groups(name))

    prog = ev_of("program")
    c = replay["counts"]
    m = {
        "session.jobs": (prog["jobs"], "count"),
        "session.stages": (prog["stages"], "count"),
        "session.tasks": (prog["tasks"], "count"),
        "session.job_wall_s": (prog["job_wall_s"], "s"),
        "session.driver_gap_s": (tr.wall("program") - prog["job_wall_s"], "s"),
        "session.executor_cpu_s": (prog["executor_cpu_s"], "s"),
        "session.gc_s": (prog["gc_s"], "s"),
        "session.shuffle_write_bytes": (prog["shuffle_write_bytes"], "bytes"),
        "session.spill_bytes": (prog["spill_bytes"], "bytes"),
        "assembly.self_s": (tr.self_s("assembly"), "s"),
        "assembly.cpu_s": (tr.by_name("assembly")["cpu_s"], "s"),
        "assembly.shuffle_write_bytes": (ev_of("assembly")["shuffle_write_bytes"], "bytes"),
        "assembly.docs": (c["docs"], "count"),
        "pipeline.exact_self_s": (tr.self_s("pipeline.exact"), "s"),
        "pipeline.exact_shuffle_write_bytes": (ev_of("pipeline.exact")["shuffle_write_bytes"], "bytes"),
        "pipeline.kernel_input_ratio": (c["reps"] / max(c["nonempty_docs"], 1), "ratio"),
        "pipeline.relabel_self_s": (tr.self_s("pipeline.relabel"), "s"),
        "minhash.self_s": (tr.self_s("minhash"), "s"),
        "minhash.cpu_s": (tr.by_name("minhash")["cpu_s"], "s"),
        "minhash.cpu_ms_per_doc": (1e3 * tr.by_name("minhash")["cpu_s"] / max(c["signatures"], 1), "ms/doc"),
        "minhash.docs": (c["signatures"], "count"),
        "lsh.self_s": (tr.self_s("lsh"), "s"),
        "lsh.shuffle_write_bytes": (ev_of("lsh")["shuffle_write_bytes"], "bytes"),
        "lsh.candidates": (c["candidates"], "count"),
        "lsh.candidates_per_doc": (c["candidates"] / max(c["signatures"], 1), "ratio"),
        "lsh.max_bucket": (c["max_bucket"], "count"),
        "lsh.star_fallbacks": (c["star_fallbacks"], "count"),
        "simhash.self_s": (tr.self_s("simhash"), "s"),
        "simhash.confirmed": (c["confirmed"], "count"),
        "simhash.yield": (c["confirmed"] / max(c["candidates"], 1), "ratio"),
        "substring.self_s": (tr.self_s("substring"), "s"),
        "substring.cpu_s": (tr.by_name("substring")["cpu_s"], "s"),
        "substring.pairs": (c["substring_pairs"], "count"),
        "components.self_s": (tr.self_s("components"), "s"),
        "components.jobs": (ev_of("components")["jobs"], "count"),
        "components.edges_in": (c["edges"], "count"),
        "components.clusters": (c["clusters"], "count"),
        "resolve.self_s": (tr.self_s("resolve"), "s"),
        "resolve.actions": (c["actions"], "count"),
        "lineage.cached_bytes_peak": (tr.cached_bytes_peak, "bytes"),
    }

    nb = len(incr["walls"])
    batch_ev = [ev.stats([f"incremental.batch{i}"]) for i in range(nb)]
    q = max(1, nb // 4)
    st = incr["batch_stats"]
    m.update(
        {
            "incremental.jobs_per_batch": (statistics.mean(b["jobs"] for b in batch_ev), "count"),
            "incremental.state_bytes_written_per_turn": (incr["bytes_written"] / max(n_incr_turns, 1), "bytes/turn"),
            # the first batch starts from empty state and reads none
            "incremental.state_bytes_read_per_batch": (
                statistics.mean(b["input_bytes"] for b in batch_ev[1:] or batch_ev), "bytes"),
            "incremental.exact_fastpath_share": (
                sum(s["instant_exact_dupes"] for s in st) / max(sum(s["batch_docs"] for s in st), 1), "ratio"),
            "incremental.history_slope": (
                statistics.median(incr["walls"][-q:]) / statistics.median(incr["walls"][:q]), "ratio"),
            "incremental.cc_s": (tr.wall("incremental.cc"), "s"),
        }
    )

    sim_names = ["similarity.dup_pairs", "similarity.ann_topk", "similarity.ivf_fit", "similarity.ivf_topk"]
    m.update(
        {
            "similarity.dup_pairs_self_s": (tr.self_s("similarity.dup_pairs"), "s"),
            "similarity.ann_topk_self_s": (tr.self_s("similarity.ann_topk"), "s"),
            "similarity.ivf_fit_self_s": (tr.self_s("similarity.ivf_fit"), "s"),
            "similarity.ivf_topk_self_s": (tr.self_s("similarity.ivf_topk"), "s"),
            "similarity.cpu_s": (sum(tr.by_name(n)["cpu_s"] for n in sim_names), "s"),
        }
    )
    return m
