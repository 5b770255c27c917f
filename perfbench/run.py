#!/usr/bin/env python3
"""The repository benchmark: one closed-loop workload per run.

    python3 perfbench/run.py --workload batch_small_highdup --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke

``--trace 0`` times the workload's operation with tracing off and prints
the end-to-end metrics. ``--trace 1`` is the separate traced run: with a
Spark event log on, it runs the real operation once under a job group,
then replays every layer through its public functions, one span per call,
and prints the per-layer metrics and the tracing overhead against the
untraced runs made in the same checkout. Every run checks the program's outputs
and counts a wrong or failed operation in ``failed``. The last stdout line
is one JSON object: ``correct``, ``attempted``, ``failed``, ``metrics``.

``--smoke`` runs both workloads at minimal size, traced and untraced, in
one process, and prints one JSON object with all four results.

Everything the run writes stays under ``.perfbench_work/`` in the checkout
that holds this file; Python workers import ``deduplicate_spark`` from that
checkout, whatever the working directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK_ROOT = os.path.join(REPO, ".perfbench_work")
MICRO_BATCHES = 2  # traced runs stream their corpus in this many micro-batches
SETUP_REPEATS = (3, 1)  # (full, smoke) input set-ups whose median setup_s keeps
# the cold first op costs about twice a warm one (JIT, code generation,
# Python worker start) and the op after it still runs 15-40% slow; a second
# warm-up would cost another 6-10 s op in every run, which the run budget
# (two sets of ten fresh-JVM runs per workload plus traced runs, within the
# hour, on a host that slows by a quarter at busy times) cannot spare. At
# --seconds 10 every run times the same op, the second, so runs compare alike.
WARMUP_OPS = 1


def import_package():
    """Import the package from this checkout, or exit non-zero."""
    sys.path.insert(0, REPO)
    try:
        import deduplicate_spark
    except ImportError as exc:
        sys.exit(f"perfbench: cannot import deduplicate_spark from {REPO}: {exc}")
    if not os.path.abspath(deduplicate_spark.__file__).startswith(REPO + os.sep):
        sys.exit(f"perfbench: deduplicate_spark resolved outside {REPO}: {deduplicate_spark.__file__}")


class Session:
    """Owns the SparkSession and the JVM behind it."""

    def __init__(self, work: str, cores: int) -> None:
        self.work, self.cores, self.spark = work, cores, None

    def start(self, event_log_dir: str | None = None):
        from deduplicate_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work}/tmp -XX:-UsePerfData",
        }
        if event_log_dir:
            os.makedirs(event_log_dir, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + event_log_dir,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        self.spark = get_spark(
            "perfbench",
            master=f"local[{self.cores}]",
            shuffle_partitions=max(self.cores, 16),
            extra_conf=conf,
        )
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop the context and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


class Ledger:
    """Counts operations and failed correctness checks."""

    def __init__(self) -> None:
        self.attempted = self.failed = 0
        self.notes: list[str] = []

    def record(self, what: str, ok: bool) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(f"check failed: {what}")
        return ok

    def error(self, what: str) -> None:
        self.attempted += 1
        self.failed += 1
        self.notes.append(f"error: {what}")
        traceback.print_exc(file=sys.stderr)


def setup(wl, sess: Session, tr, repeats: int, event_log_dir: str | None = None) -> tuple:
    """Session start, input generation + caching (repeated; median kept),
    and the warm-up operations (cold JVM, codegen, Python worker start)."""
    t0 = time.perf_counter()
    spark = sess.start(event_log_dir)
    session_s = time.perf_counter() - t0
    prep = []
    for _ in range(repeats):
        spark.catalog.clearCache()
        t = time.perf_counter()
        wl.generate()
        wl.load(spark)
        prep.append(time.perf_counter() - t)
    t = time.perf_counter()
    warm = [wl.op(spark, tr, f"warmup{i}") for i in range(WARMUP_OPS)]
    warm_s = time.perf_counter() - t
    info = {"session_s": session_s, "inputs_s": prep, "warmup_s": warm_s}
    return spark, warm, session_s + statistics.median(prep) + warm_s, info


def untraced_history(wl, smoke: bool, p50: float | None = None) -> list[float]:
    """``op_p50_s`` of the untraced runs made in this checkout; appends
    ``p50`` when given. The traced run reports its overhead against them."""
    path = os.path.join(WORK_ROOT, "untraced.jsonl")
    if p50 is not None:
        with open(path, "a") as fh:
            fh.write(json.dumps({"workload": wl.name, "smoke": smoke, "op_p50_s": p50}) + "\n")
    if not os.path.exists(path):
        return []
    with open(path) as fh:
        rows = [json.loads(line) for line in fh]
    return [r["op_p50_s"] for r in rows if r["workload"] == wl.name and r["smoke"] == smoke]


def run_untraced(wl, sess: Session, tr, seconds: float, smoke: bool, ledger: Ledger) -> tuple[dict, dict]:
    from host import RssPeak

    spark, warm, setup_s, info = setup(wl, sess, tr, SETUP_REPEATS[smoke])
    wl.prepare_reference(os.path.join(WORK_ROOT, "cache"))
    for i, out in enumerate(warm):
        ledger.record(f"warmup{i} output", wl.check(out)["ok"])
    walls, checks, errors = [], [], 0
    with RssPeak() as rss:
        t_start = time.perf_counter()
        # start another operation only while it is expected to end in time
        while not walls or time.perf_counter() - t_start + walls[-1] <= seconds:
            try:
                t = time.perf_counter()
                out = wl.op(spark, tr, f"op{len(walls)}")
                wall = time.perf_counter() - t
                chk = wl.check(out)
            except Exception:  # one failed operation; the loop goes on
                ledger.error(f"op{len(walls)}")
                errors += 1
                if errors == 3:
                    break  # the program is failing, not slow
                continue
            # a wrong output still took its time: it counts in failed, and
            # the result reports correct=false
            ledger.record(f"op{len(walls)} output", chk["ok"])
            walls.append(wall)
            checks.append(chk)
    if not walls:
        raise RuntimeError("every operation raised")
    metrics, telemetry = wl.end_to_end(walls, checks)
    metrics["setup_s"] = (setup_s, "s")
    telemetry["peak_rss_mb"] = rss.peak_mb
    telemetry["setup"] = info
    telemetry["checks"] = [{k: v for k, v in c.items() if k not in ("rows", "walls")} for c in checks]
    untraced_history(wl, smoke, metrics["op_p50_s"][0])
    sess.stop()
    return metrics, telemetry


def run_traced(wl, sess: Session, tr, work: str, smoke: bool, ledger: Ledger) -> tuple[dict, dict]:
    """Event log on from the start; spans get job groups once the warm-up
    is done. The real operation runs once as span ``program``, then the
    layer replay, the micro-batches and (batch workload) the similarity
    calls on the side vectors."""
    import inputs
    from deduplicate_spark.pipeline import run_pipeline
    from host import RssPeak
    from tracing import (
        EventLog,
        layer_metrics,
        replay_cascade,
        similarity_calls,
        trace_incremental,
    )
    from workloads import SUBSTRING_CONFIG, check_vectors

    log_dir = os.path.join(work, "eventlog")
    spark, warm, _, info = setup(wl, sess, tr, 1, event_log_dir=log_dir)
    wl.prepare_reference(os.path.join(WORK_ROOT, "cache"))
    for i, out in enumerate(warm):
        ledger.record(f"warmup{i} output", wl.check(out)["ok"])
    corpus = wl.trace_corpus
    if wl.side == "transcripts":
        # the cascade's reference partition for the replay and streaming
        # checks, on the side corpus (this also warms the JVM for the cascade)
        turns = corpus.spark_df(spark).cache()
        res = run_pipeline(spark, turns, corpus.config)
        program_rows = [(r.conv_id, r.cluster_id) for r in res.clusters.collect()]

    tr.enable(spark)
    with RssPeak() as rss:
        out = wl.op(spark, tr, "program")
    tr.sample_cached_bytes()
    chk = wl.check(out)
    ledger.record("program output", chk["ok"])
    if wl.side == "vectors":
        turns, program_rows = wl.turns, chk["rows"]

    expected = inputs.partition(program_rows)
    replay = replay_cascade(tr, turns, corpus.config, SUBSTRING_CONFIG)
    fidelity = inputs.partition(replay["rows"]) == expected
    ledger.record("replay fidelity", fidelity)

    batches = corpus.micro_batches(MICRO_BATCHES)
    incr = trace_incremental(tr, spark, batches, corpus.config, os.path.join(work, "state"))
    # the streaming contract: the final partition equals a clean batch run's
    streamed = inputs.partition(incr["rows"]) == expected
    ledger.record("incremental partition", streamed)

    if wl.side == "vectors":
        v = wl.side_vectors
        vec, q = v.spark_dfs(spark)
        with tr.span("similarity"):
            sim = similarity_calls(tr, vec.cache(), q.cache(), v, **wl.ivf)
        ledger.record("similarity side output", check_vectors(v, inputs.cosine_truth(v), sim)["ok"])
    tr.disable()
    sess.stop()

    metrics = layer_metrics(tr, EventLog(log_dir), replay, incr, len(corpus.turns))
    metrics["session.peak_rss_mb"] = (rss.peak_mb, "MiB")
    untraced = untraced_history(wl, smoke)
    telemetry = {
        "setup": info,
        "replay_fidelity": fidelity,
        "incremental_equals_batch": streamed,
        "replay_counts": replay["counts"],
        "incremental_batch_walls_s": incr["walls"],
        "traced_program_wall_s": tr.wall("program"),
        # traced wall minus the untraced median of this checkout's runs
        "trace_overhead_s": tr.wall("program") - statistics.median(untraced) if untraced else None,
        "untraced_runs": len(untraced),
    }
    return metrics, telemetry


def run_workload(sess: Session, name: str, seed: int, seconds: float, trace: int, smoke: bool) -> dict:
    """One run; returns the result object and writes the spans file."""
    from tracing import Tracer, spans_nest
    from workloads import WORKLOADS

    run_id = f"{name}-s{seed}-t{trace}-{os.getpid()}-{int(time.time() * 1000)}"
    work = os.path.join(sess.work, run_id)
    os.makedirs(work, exist_ok=True)
    wl = WORKLOADS[name](seed, smoke)
    tr = Tracer(run_id)
    ledger = Ledger()
    if trace:
        metrics, telemetry = run_traced(wl, sess, tr, work, smoke, ledger)
    else:
        metrics, telemetry = run_untraced(wl, sess, tr, seconds, smoke, ledger)
    trace_dir = os.path.join(WORK_ROOT, "traces")
    os.makedirs(trace_dir, exist_ok=True)
    spans_path = os.path.join(trace_dir, f"{run_id}.jsonl")
    tr.write(spans_path)
    shutil.rmtree(work, ignore_errors=True)

    print(f"# perfbench workload={name} seed={seed} trace={trace} run_id={run_id}")
    print("inputs " + json.dumps(wl.stats()))
    for key, (value, unit) in sorted(metrics.items()):
        print(f"metric {key} = {value} {unit}")
    telemetry.update({"spans_file": spans_path, "spans_nest": spans_nest(tr.spans), "notes": ledger.notes})
    print("telemetry " + json.dumps(telemetry, default=str))
    return {
        "correct": ledger.failed == 0,
        "attempted": ledger.attempted,
        "failed": ledger.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="both workloads, minimal size, traced and untraced")
    args = ap.parse_args()

    import_package()
    sys.path.insert(0, HERE)
    from host import host_stamp, nproc
    from workloads import WORKLOADS

    if not args.smoke and args.workload not in WORKLOADS:
        sys.exit(f"perfbench: --workload must be one of {sorted(WORKLOADS)}")
    sess_work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    os.makedirs(os.path.join(sess_work, "tmp"), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [REPO, os.environ.get("PYTHONPATH")]))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(sess_work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(sess_work, "tmp")
    sess = Session(sess_work, nproc())
    try:
        if args.smoke:
            runs = {
                name: {str(t): run_workload(sess, name, args.seed, 0, t, True) for t in (0, 1)}
                for name in WORKLOADS
            }
            result = {"smoke": runs, "correct": all(r["correct"] for w in runs.values() for r in w.values())}
        else:
            result = run_workload(sess, args.workload, args.seed, args.seconds, args.trace, False)
    finally:
        sess.close()
        shutil.rmtree(sess_work, ignore_errors=True)
    print("host " + json.dumps(host_stamp(REPO)))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
