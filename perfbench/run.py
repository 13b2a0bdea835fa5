#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload suite_dense --seed 1 --seconds 12 --trace 0

Run from the repository root. One process is one closed-loop client: a
single driver on ``local[nproc]`` runs one iteration at a time, each after
the previous one has finished. The run

1. sets up a Spark session once: JVM launch and session start, load of the
   inputs, one warm-up job (``setup_s``);
2. between the session start and the load, generates the workload's inputs
   from ``--seed`` (cached under ``.perfbench_cache/``, timed apart as
   ``datagen.write_s``) and computes the expected results with DuckDB;
3. times the first iteration (``first_run_s``), runs ``WARMUP`` more
   untimed, then times warm iterations for ``--seconds``, at least
   ``MIN_SAMPLES`` of them (median ``run_s`` and ``cpu_s``);
4. checks every iteration's output; an iteration that raises or disagrees
   counts as failed.

With ``--trace 1`` the warm iterations alternate between the traced form
with spans and Spark job groups around each public engine call, and the
same form without them; one call per rule family follows (and, on
``suite_dense``, the corpus leg). The per-layer metrics are printed instead
of the end-to-end ones. ``--rows`` changes the input size, for size sweeps.
The second-to-last stdout line is a JSON object with host facts, samples and
errors; the last line is the result.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import tempfile
import statistics
import sys
import time
import traceback
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_DIR = ".perfbench_cache"
MIN_SAMPLES = 3  # timed warm iterations of an untraced run, at least
# untimed, checked iterations after the first: the JIT's compile burst that
# follows the first run would otherwise weigh on the first timed samples
WARMUP = 1
MAX_FAILED = 3

END_TO_END = {
    "setup_s": "s",
    "first_run_s": "s",
    "run_s": "s",
    "docs_per_s": "docs/s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
}

# per-layer metric -> unit; layers are the engine's module names. A metric
# of a layer a workload does not touch reads 0.
PER_LAYER = {
    "session.start_s": "s",
    "datagen.write_s": "s",
    "trace.run_s": "s",
    "trace.overhead_ratio": "ratio",
    "trace.spill_mb": "MB",
    "iteration.self_s": "s",
    "suite.validate_s": "s",
    "suite.validate.task_s": "s",
    "suite.verdicts_s": "s",
    "suite.verdicts.task_s": "s",
    "suite.violations_s": "s",
    "suite.violations.task_s": "s",
    "suite.stats_s": "s",
    "suite.stats.task_s": "s",
    "suite.violation_rows": "count",
    "suite.scan_rows_per_doc": "ratio",
    "rules.row_s": "s",
    "rules.row.task_s": "s",
    "rules.refint_s": "s",
    "rules.refint.task_s": "s",
    "rules.refint.bloom_build_s": "s",
    "rules.unique_s": "s",
    "rules.unique.task_s": "s",
    "rules.unique.shuffle_write_mb": "MB",
    "rules.invariant_s": "s",
    "rules.invariant.task_s": "s",
    "rules.invariant.shuffle_write_mb": "MB",
    "rules.drift_s": "s",
    "rules.drift.task_s": "s",
    "rules.drift.baseline_from_manifest_s": "s",
    "rules.drift.gate_s": "s",
    "rules.drift.gate.task_s": "s",
    "stats_s": "s",
    "stats.task_s": "s",
    "checkpoint.completed_s": "s",
    "checkpoint.append_s": "s",
    "checkpoint.entries_read": "count",
    "sources.catalog.partition_snapshots_s": "s",
    "functions.kll.profile_s": "s",
    "functions.kll.profile.task_s": "s",
    "runner.run_s": "s",
    "runner.run.self_s": "s",
    "runner.run.task_s": "s",
    "runner.run.shuffle_write_mb": "MB",
    "runner.rows_read_per_pending_row": "ratio",
    "runner.pending_partitions": "count",
    "runner.skipped_partitions": "count",
    "sources.warc.read_s": "s",
    "sources.warc.read.task_s": "s",
    "sources.warc.records": "count",
    "sources.warc.malformed": "count",
    "operators.quality.filter_s": "s",
    "operators.quality.filter.task_s": "s",
    "operators.quality.keep_ratio": "ratio",
    "operators.dedup.candidates_s": "s",
    "operators.dedup.candidates.task_s": "s",
    "operators.dedup.candidates.shuffle_write_mb": "MB",
    "operators.dedup.jaccard_s": "s",
    "operators.dedup.jaccard.task_s": "s",
    "operators.dedup.candidate_pairs": "count",
    "operators.dedup.verified_per_candidate": "ratio",
    "operators.similarity.lsh_topk_s": "s",
    "operators.similarity.lsh_topk.task_s": "s",
}


def _median(xs) -> float:
    xs = [x for x in xs if x is not None]
    return float(statistics.median(xs)) if xs else 0.0


class _Runner:
    """Runs iterations of one workload and keeps the tallies."""

    def __init__(self, wl):
        self.wl = wl
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def _fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what)

    def iteration(self, tr):
        """One timed iteration: (wall s, tree CPU s, output or None)."""
        from perfbench.procstat import tree_cpu_s

        self.wl.prepare()
        self.attempted += 1
        cpu0, t0 = tree_cpu_s(), time.monotonic()
        try:
            with tr.span("iteration"):
                out = self.wl.iteration(tr)
        except Exception:  # a failed operation is a result, not a crash
            traceback.print_exc(file=sys.stderr)
            self._fail(traceback.format_exc(limit=1).strip().splitlines()[-1])
            return time.monotonic() - t0, tree_cpu_s() - cpu0, None
        wall, cpu = time.monotonic() - t0, tree_cpu_s() - cpu0
        try:
            errs = self.wl.check(out)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            errs = ["output check raised: " + traceback.format_exc(limit=1).strip().splitlines()[-1]]
        if errs:
            print("[check] " + "; ".join(errs[:5]), file=sys.stderr)
            self._fail("; ".join(errs[:3]))
        self.wl.after()
        return wall, cpu, out

    def loop(self, tracers, seconds: float, min_samples: int):
        """Rounds of one iteration per tracer, for ``seconds``: at least
        ``min_samples`` rounds, and more while one more of median length
        still ends in time. Every other round runs the tracers in reverse
        order, so none is always the warmer one. Stops early after
        ``MAX_FAILED`` failed iterations. Returns per tracer (walls, cpus,
        outputs)."""
        walls = [[] for _ in tracers]
        cpus = [[] for _ in tracers]
        outs = [[] for _ in tracers]
        start = time.monotonic()
        while not walls[0] or self.failed < MAX_FAILED and (
            len(walls[0]) < min_samples
            or time.monotonic() - start + sum(statistics.median(w) for w in walls) <= seconds
        ):
            order = range(len(tracers)) if len(walls[0]) % 2 == 0 else reversed(range(len(tracers)))
            for i in order:
                w, c, o = self.iteration(tracers[i])
                walls[i].append(w)
                cpus[i].append(c)
                if o is not None:
                    outs[i].append(o)
        return list(zip(walls, cpus, outs))


def _host_facts(spark, wl, seed: int) -> dict:
    import pyspark

    from perfbench import sparkproc
    from perfbench.inputs import input_bytes

    jvm = spark.sparkContext._jvm
    return {
        "nproc": os.cpu_count(),
        "master": sparkproc.master(),
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "split_size": spark.conf.get("spark.sql.files.maxPartitionBytes"),
        "pyspark": pyspark.__version__,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "seed": seed,
        "rows_generated": wl.rows,
        "docs_per_iteration": wl.n_docs,
        "input_bytes": input_bytes(wl.paths),
        "load": "closed loop, 1 driver, no client threads",
    }


def _per_layer(tracer, outs: list[dict], n_docs: int, extra: dict) -> dict[str, float]:
    from perfbench.spans import TASK_FIELDS

    spans = tracer.spans
    by_name: dict[str, list[int]] = {}
    for i, s in enumerate(spans):
        by_name.setdefault(s.name, []).append(i)
    v: dict[str, float] = dict(extra)
    for name, idxs in by_name.items():
        v[f"{name}_s"] = _median(spans[i].wall_s for i in idxs)
        v[f"{name}.self_s"] = _median(tracer.self_s(i) for i in idxs)
        for k in TASK_FIELDS:
            v[f"{name}.{k}"] = _median(spans[i].metrics.get(k, 0.0) for i in idxs)
    v["trace.run_s"] = v.get("iteration_s", 0.0)
    v["trace.spill_mb"] = sum(s.metrics.get("spill_mb", 0.0) for s in spans)

    # per traced iteration: input records of its suite.* actions per doc
    scans = []
    for i in by_name.get("iteration", []):
        kids = [s for s in spans if s.parent == i and s.name.startswith("suite.")]
        if any(s.name == "suite.validate" for s in kids):
            scans.append(sum(s.metrics["records_in"] for s in kids) / n_docs)
    v["suite.scan_rows_per_doc"] = _median(scans)
    if "runner.run" in by_name:
        reads = [s.metrics["records_in"] for s in spans if s.name in ("runner.run", "functions.kll.profile")]
        v["runner.rows_read_per_pending_row"] = sum(reads) / len(by_name["runner.run"]) / n_docs

    def med(values):
        return _median(values(o) for o in outs if o)

    v["runner.pending_partitions"] = med(lambda o: len(o["processed"]) if "processed" in o else None)
    v["runner.skipped_partitions"] = med(lambda o: len(o["skipped"]) if "skipped" in o else None)
    for metric, key in (
        ("checkpoint.entries_read", "entries_read"),
        ("suite.violation_rows", "violation_rows"),
        ("sources.warc.records", "records"),
        ("sources.warc.malformed", "malformed"),
        ("operators.dedup.candidate_pairs", "candidates"),
    ):
        v[metric] = med(lambda o: o.get(key))
    v["operators.quality.keep_ratio"] = med(
        lambda o: o["keep"] / (o["keep"] + o["drop"]) if o.get("keep") is not None else None
    )
    v["operators.dedup.verified_per_candidate"] = med(
        lambda o: o["pairs"] / o["candidates"] if o.get("candidates") else None
    )
    return {name: float(v.get(name, 0.0)) for name in PER_LAYER}


def _set_up(wl, scratch: str, event_dir: str | None, tamper):
    """Returns (session, set-up time, session start time, input generation
    time). Input generation and the expected results run between the
    session start and the load, outside the timed set-up."""
    from perfbench import sparkproc
    from perfbench.procstat import reset_peak_rss

    t0 = time.monotonic()
    spark = sparkproc.start(ROOT, scratch, event_log_dir=event_dir)
    try:
        t1 = time.monotonic()
        wl.make_inputs(lambda fn: fn(spark))
        datagen_s = time.monotonic() - t1
        wl.expect()
        if tamper is not None:
            tamper(wl)
        reset_peak_rss()  # the memory of input generation is not the engine's
        t2 = time.monotonic()
        wl.load(spark)
        setup_s = (t1 - t0) + (time.monotonic() - t2)
    except BaseException:
        sparkproc.stop(spark)
        raise
    return spark, setup_s, t1 - t0, datagen_s


def run(name: str, seed: int, seconds: float, trace: bool, *, rows: int | None = None, tamper=None):
    """Run one workload; returns (info, result) as printed. ``rows``
    overrides the workload's input size; ``tamper(workload)`` may alter the
    expected results after they are computed (the smoke test uses it to
    prove that the checks can fail)."""
    from perfbench import sparkproc
    from perfbench.procstat import tree_peak_rss_mb
    from perfbench.spans import Tracer
    from perfbench.workloads import NO_TRACE, SERIAL, WORKLOADS

    work = os.path.join(ROOT, WORK_DIR)
    os.makedirs(work, exist_ok=True)
    cls = WORKLOADS[name]
    run_id = f"{name}-s{seed}-{uuid.uuid4().hex[:8]}"
    # Spark scratch space, the event log and the live manifest of this run
    scratch = tempfile.mkdtemp(prefix=f"run-{run_id}-", dir=work)
    event_dir = os.path.join(scratch, "eventlog") if trace else None
    try:
        wl = cls(rows or cls.default_rows, seed, work, scratch)
        spark, setup_s, session_start_s, datagen_s = _set_up(wl, scratch, event_dir, tamper)
        runner = _Runner(wl)
        try:
            host = _host_facts(spark, wl, seed)
            first_s, _, _ = runner.iteration(NO_TRACE)
            for _ in range(WARMUP):
                runner.iteration(NO_TRACE)
            if not trace:
                [(walls, cpus, _)] = runner.loop([NO_TRACE], seconds, MIN_SAMPLES)
            else:
                tracer = Tracer(spark.sparkContext, run_id)
                # at least two rounds, so each form runs once first and once second
                (walls, cpus, _), (t_walls, _, t_outs) = runner.loop([SERIAL, tracer], seconds, 2)
                runner.attempted += 1
                try:
                    t_outs.append(wl.families(tracer))
                except Exception:
                    traceback.print_exc(file=sys.stderr)
                    runner._fail("families: " + traceback.format_exc(limit=1).strip().splitlines()[-1])
            peak_mb = tree_peak_rss_mb()
        finally:
            sparkproc.stop(spark)

        run_s = _median(walls)
        info = {
            "workload": name,
            "seed": seed,
            "seconds": seconds,
            "trace": int(trace),
            "host": host,
            "datagen.write_s": datagen_s,
            "samples": {"run_s": walls, "cpu_s": cpus, "n_run_s": len(walls)},
            "failed_ops_ratio": runner.failed / runner.attempted,
            "errors": runner.errors,
        }
        if trace:
            tracer.fold(event_dir)
            trace_path = os.path.join(work, f"trace-{run_id}.json")
            tracer.dump(trace_path)
            info["trace_file"] = os.path.relpath(trace_path, ROOT)
            extra = {
                "session.start_s": session_start_s,
                "datagen.write_s": datagen_s,
                "trace.overhead_ratio": _median(t_walls) / run_s,
            }
            values = _per_layer(tracer, t_outs, wl.n_docs, extra)
            units = PER_LAYER
        else:
            values = {
                "setup_s": setup_s,
                "first_run_s": first_s,
                "run_s": run_s,
                "docs_per_s": wl.n_docs / run_s,
                "cpu_s": _median(cpus),
                "peak_rss_mb": peak_mb,
            }
            units = END_TO_END
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    result = {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }
    return info, result


def main(argv=None) -> int:
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--rows", type=int, help="input rows (default: the workload's size); for size sweeps")
    args = p.parse_args(argv)

    try:
        import slower_whisper_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    info, result = run(args.workload, args.seed, args.seconds, bool(args.trace), rows=args.rows)
    print(json.dumps(info))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    sys.exit(main())
