"""The workloads, driven through the engine's public API.

Each workload has the same life cycle, which ``run.py`` times:

* ``make_inputs`` — seeded files in the cache (timed as ``datagen.write_s``);
* ``expect`` — the expected results, computed without Spark (untimed);
* ``load`` — read the inputs in a fresh session and run one warm-up job
  (part of ``setup_s``);
* ``prepare`` / ``iteration`` / ``check`` / ``after`` — ``iteration`` is the
  timed unit; the rest runs between iterations, untimed;
* ``families`` — the traced run's extra calls: one per rule family, and
  for ``suite_dense`` the corpus leg (``CorpusLeg``).

``iteration`` takes a tracer: ``NO_TRACE`` for the measured runs, or a
``spans.Tracer`` for the traced run, whose spans carry the layer names.
``SERIAL`` runs an iteration in the traced form without spans; the traced
run compares the two to report the overhead of tracing.
"""

from __future__ import annotations

import json
import os
from contextlib import contextmanager, nullcontext

from perfbench import inputs, oracle

VIOLATION_LIMIT = 100  # the suite's first-N-errors limit (bench.py's value)
CLI_VIOLATION_LIMIT = 20  # ``sws validate --violation-limit`` default
PARTITION_COL = "warc_day"
N_QUERIES, TOP_K = 16, 10
CORPUS_MAX_ROWS = 2000  # docs of the traced run's corpus leg, at most


class _NoTrace:
    def span(self, name):
        return nullcontext()

    def job_span(self, name):
        pass


NO_TRACE = _NoTrace()
SERIAL = _NoTrace()


def build_suite(expected_df, ref_df, versions: dict[str, str]):
    """The 10-rule webtext suite of ``bench.py:build_suite``. The
    dimension tables are versioned by their file snapshot ids, as a caller
    with a catalog would pass them, so building the suite runs no job."""
    from slower_whisper_spark import (
        ConstraintSuite,
        Expr,
        ForeignKey,
        HashInvariant,
        Length,
        NotNull,
        Pattern,
        Range,
        Unique,
    )
    from slower_whisper_spark.rules.drift import Baseline, Drift

    base = Baseline(
        column="text_len", kind="hist", counts=[1] * (oracle.DRIFT_BUCKETS + 2),
        lo=oracle.DRIFT_LO, hi=oracle.DRIFT_HI, n_buckets=oracle.DRIFT_BUCKETS,
    )
    return ConstraintSuite(
        "webtext-full",
        [
            NotNull("url"),
            NotNull("lang", rule_id="not_null(lang)"),
            Pattern("lang", "^" + oracle.LANG_RE + "$"),
            Range("warc_ts", min=inputs.utc(2026, 7, 1), max=inputs.utc(2026, 7, 31)),
            Length("text", min=1),
            Expr("length(html) >= 16", rule_id="html_min_bytes", expected="html >= 16 bytes"),
            Unique("url"),
            ForeignKey(
                "parse_url(url, 'HOST')", ref_df, "host", rule_id="host_known", mode="bloom",
                dim_version=versions["ref_domains"],
            ),
            HashInvariant(
                "text", expected_df, rule_id="text_bytes",
                expected_version=versions["expected_text"],
            ),
            Drift(
                "length(text)", base, metric="psi", threshold=oracle.DRIFT_THRESHOLD,
                min_rows=oracle.DRIFT_MIN_ROWS, rule_id="drift(text_len)",
            ),
        ],
    )


def _versions(paths: dict[str, str]) -> dict[str, str]:
    from slower_whisper_spark.sources.catalog import snapshot_id

    return {k: snapshot_id(paths[k]) for k in ("ref_domains", "expected_text")}


def check_verdicts(rows, exp: dict, fp_rate: float) -> list[str]:
    """Every (partition, rule) verdict against the DuckDB expectation."""
    errs = []
    want = exp["partitions"]
    rule_ids = [k for k in next(iter(want.values())) if k not in ("rows", "nulls")]
    got = {(r["partition"], r["rule_id"]): r for r in rows}
    missing = {(p, rid) for p in want for rid in rule_ids} - set(got)
    extra = set(got) - {(p, rid) for p in want for rid in rule_ids}
    if missing or extra:
        errs.append(f"verdict keys: missing {sorted(missing)[:3]}, unexpected {sorted(extra)[:3]}")
    slack = oracle.bloom_slack_rows(exp, fp_rate)
    for (part, rid), r in got.items():
        w = want.get(part)
        if w is None or rid not in w:
            continue
        if r["rows"] != w["rows"]:
            errs.append(f"{part}/{rid}: rows {r['rows']} != {w['rows']}")
        if rid == "host_known":
            if not w[rid] - slack <= r["violations"] <= w[rid]:
                errs.append(f"{part}/{rid}: {r['violations']} outside exact {w[rid]} - {slack}")
        elif r["violations"] != w[rid]:
            errs.append(f"{part}/{rid}: violations {r['violations']} != {w[rid]}")
        want_pass = exp["drift_passed"][part] if rid == "drift(text_len)" else r["violations"] == 0
        if bool(r["passed"]) != want_pass:
            errs.append(f"{part}/{rid}: passed={r['passed']}")
    return errs


def expected_violation_rows(rows, exp: dict, limit: int) -> int:
    """Rows of ``SuiteResult.violations``: per rule, the first ``limit``.
    Row rules (and the folded Bloom FK) list violating rows, ``Unique``
    lists duplicated keys, ``HashInvariant`` mismatching rows."""
    totals: dict[str, int] = {}
    for r in rows:
        totals[r["rule_id"]] = totals.get(r["rule_id"], 0) + r["violations"]
    n = sum(min(limit, totals.get(rid, 0)) for rid in [*oracle.ROW_RULES, "host_known"])
    return n + min(limit, exp["dup_keys"]) + min(limit, exp["hash_mismatch"])


class _SuiteWorkload:
    """Shared by the two workloads that validate the webtext suite."""

    # the largest size whose gated runs (4 + 22 per workload) fit their
    # 3,420 s with room for a 1.7x slower host (LAYERS.md, "Input size")
    default_rows = 100_000

    def __init__(self, rows: int, seed: int, work_dir: str, scratch_dir: str):
        """Inputs are cached under ``work_dir``; files this run alone
        writes go to ``scratch_dir``."""
        self.rows, self.seed, self.work_dir, self.scratch_dir = rows, seed, work_dir, scratch_dir

    @property
    def fp_rate(self) -> float:
        return next(r.fp_rate for r in self.suite.table_rules if type(r).__name__ == "ForeignKey")

    def families(self, tr, df, global_df=None) -> None:
        """Each rule family's public entry point on the same DataFrame."""
        from pyspark.sql import functions as F

        from slower_whisper_spark import ConstraintSuite, ForeignKey
        from slower_whisper_spark.stats import profile

        table = {type(r).__name__: r for r in self.suite.table_rules}
        kw = dict(key_col="url", partition_col=PARTITION_COL, violation_limit=VIOLATION_LIMIT)
        rows_only = ConstraintSuite("webtext-rows", self.suite.row_rules)
        persisted: list = []
        with tr.span("rules.row"):
            res = rows_only.validate(df, **kw)
            res.verdicts.collect()
            res.violations.count()
        persisted += res.persisted or []
        for family, rule, scope in (
            ("rules.unique", table["Unique"], global_df if global_df is not None else df),
            ("rules.invariant", table["HashInvariant"], df),
        ):
            with tr.span(family):
                verdicts, violations = rule.evaluate(scope, **kw, persisted=persisted)
                verdicts.collect()
                violations.collect()
        fk = table["ForeignKey"]
        fresh = ForeignKey(
            fk.fk_expr, fk.dim_df, fk.dim_col, rule_id=fk.rule_id, mode="bloom",
            fp_rate=fk.fp_rate, dim_version=self.versions["ref_domains"],
        )
        with tr.span("rules.refint.bloom_build"):
            ok = fresh.row_predicate(df)
        with tr.span("rules.refint"):
            df.select(F.sum(F.when(~ok, 1).otherwise(0))).collect()
        with tr.span("rules.drift"):
            table["Drift"].evaluate(df, **kw)[0].collect()
        with tr.span("stats"):
            profile(df, partition_col=PARTITION_COL, columns=oracle.STATS_COLS).collect()
        for p in persisted:
            p.unpersist()
        df.sparkSession.catalog.clearCache()


# --------------------------------------------------------------------- #
class SuiteDense(_SuiteWorkload):
    name = "suite_dense"

    def make_inputs(self, with_spark) -> None:
        out = inputs.cache_dir(self.work_dir, self.name, self.seed, self.rows)
        self.paths = inputs.suite_dense(out, self.rows, self.seed)
        self.versions = _versions(self.paths)

    def expect(self) -> None:
        self.exp = oracle.suite_expectations(self.paths)
        self.n_docs = sum(p["rows"] for p in self.exp["partitions"].values())

    def load(self, spark) -> None:
        self.spark = spark
        self.docs = spark.read.parquet(self.paths["docs"])
        self.suite = build_suite(
            spark.read.parquet(self.paths["expected_text"]),
            spark.read.parquet(self.paths["ref_domains"]),
            self.versions,
        )
        self.docs.count()  # warm-up job

    def prepare(self) -> None:
        pass

    def iteration(self, tr) -> dict:
        kw = dict(
            key_col="url", partition_col=PARTITION_COL, violation_limit=VIOLATION_LIMIT,
            stats_columns=oracle.STATS_COLS,
        )
        if tr is NO_TRACE:
            res = self.suite.validate(self.docs, **kw)
            out = res.materialize()
        else:
            # serial actions: materialize()'s worker threads would not
            # inherit the job groups
            with tr.span("suite.validate"):
                res = self.suite.validate(self.docs, **kw)
            with tr.span("suite.verdicts"):
                verdicts = res.verdicts.collect()
            with tr.span("suite.violations"):
                n_viol = res.violations.count()
            with tr.span("suite.stats"):
                stats = res.stats.collect()
            out = {"verdicts": verdicts, "n_violations": n_viol, "stats": stats}
        self._last = res
        out["violation_rows"] = out["n_violations"]
        return out

    def check(self, out: dict) -> list[str]:
        errs = check_verdicts(out["verdicts"], self.exp, self.fp_rate)
        want = expected_violation_rows(out["verdicts"], self.exp, VIOLATION_LIMIT)
        if out["n_violations"] != want:
            errs.append(f"violation rows {out['n_violations']} != {want}")
        parts = self.exp["partitions"]
        if len(out["stats"]) != len(parts) * len(oracle.STATS_COLS):
            errs.append(f"stats rows {len(out['stats'])}")
        for r in out["stats"]:
            w = parts.get(r["partition"])
            if w is None or r["rows"] != w["rows"] or r["nulls"] != w["nulls"][r["column"]]:
                errs.append(f"stats {r['partition']}/{r['column']}: rows {r['rows']} nulls {r['nulls']}")
        return errs

    def after(self) -> None:
        self._last.unpersist()
        self.spark.catalog.clearCache()

    def families(self, tr) -> dict:
        super().families(tr, self.docs)
        corpus_rows = min(CORPUS_MAX_ROWS, max(300, self.rows // 10))
        return CorpusLeg(corpus_rows, self.seed, self.work_dir).run(self.spark, tr)


# --------------------------------------------------------------------- #
class AppendResume(_SuiteWorkload):
    name = "append_resume"

    def make_inputs(self, with_spark) -> None:
        out = inputs.cache_dir(self.work_dir, self.name, self.seed, self.rows)
        self.paths = inputs.append_resume(
            out, self.rows, self.seed,
            lambda p: build_suite(None, None, _versions(p)).suite_hash,
        )
        self.versions = _versions(self.paths)
        self.manifest_dir = os.path.join(self.scratch_dir, "manifest")

    def expect(self) -> None:
        from slower_whisper_spark.sources.catalog import list_partitions

        self.exp = oracle.suite_expectations(self.paths, only_partition=inputs.NEWEST_DAY)
        self.n_docs = self.exp["partitions"][inputs.NEWEST_DAY]["rows"]
        if not self.exp["partitions"][inputs.NEWEST_DAY]["unique(url)"]:
            raise RuntimeError("the pending day repeats no history url")
        self.all_parts = list_partitions(self.paths["docs"], PARTITION_COL)
        self.template_files = sorted(os.listdir(self.paths["manifest_template"]))

    def load(self, spark) -> None:
        from slower_whisper_spark.sources.catalog import read

        self.spark = spark
        self.df = read(spark, self.paths["docs"])
        self.suite = build_suite(
            spark.read.parquet(self.paths["expected_text"]),
            spark.read.parquet(self.paths["ref_domains"]),
            self.versions,
        )
        self.df.count()  # warm-up job

    def prepare(self) -> None:
        inputs.restore_manifest(self.paths["manifest_template"], self.manifest_dir)

    def iteration(self, tr) -> dict:
        """The ``sws validate --manifest --incremental --sketch-col
        --drift-col`` flow, in the CLI's order."""
        from slower_whisper_spark.rules.drift import Drift, kll_baseline_from_manifest
        from slower_whisper_spark.runner import ValidationRunner
        from slower_whisper_spark.sources.catalog import partition_snapshots, snapshot_id

        col = inputs.DRIFT_COL
        runner = ValidationRunner(
            self.suite, self.manifest_dir, key_col="url", partition_col=PARTITION_COL,
            violation_limit=CLI_VIOLATION_LIMIT, sketch_columns=[col],
        )
        entries = _count_manifest_reads(runner.manifest, tr)
        with tr.span("rules.drift.baseline_from_manifest"):
            baseline = kll_baseline_from_manifest(runner.manifest, col)
        gate = Drift(col, baseline, metric="psi", threshold=0.25, rule_id=f"drift_manifest({col})")
        with tr.span("rules.drift.gate"):
            verdicts, _ = gate.evaluate(
                self.df, key_col="url", partition_col=PARTITION_COL,
                violation_limit=CLI_VIOLATION_LIMIT,
            )
            gate_rows = verdicts.orderBy("partition").collect()
        with tr.span("sources.catalog.partition_snapshots"):
            snaps = partition_snapshots(self.paths["docs"], PARTITION_COL)
            snap = snapshot_id(self.paths["docs"])
        with tr.span("runner.run"), _kll_job_span(tr):
            rr = runner.run(self.df, snapshot_id=snap, mode="report", partition_snapshots=snaps)
        with tr.span("suite.violations"):
            viol = rr.result.violations.limit(CLI_VIOLATION_LIMIT).collect()
        self._last = rr
        return {
            "gate_rows": len(gate_rows),
            "processed": rr.processed_partitions,
            "skipped": rr.skipped_partitions,
            "docs": rr.rows_validated,
            "violation_rows": len(viol),
            "entries_read": entries[0],
        }

    def check(self, out: dict) -> list[str]:
        errs = []
        newest = inputs.NEWEST_DAY
        if out["processed"] != [newest] or out["docs"] != self.n_docs:
            errs.append(f"processed {out['processed']}, {out['docs']} rows")
        if out["skipped"] != [p for p in self.all_parts if p != newest]:
            errs.append(f"skipped {len(out['skipped'])} of {len(self.all_parts) - 1}")
        if out["gate_rows"] != len(self.all_parts):
            errs.append(f"drift gate rows {out['gate_rows']}")
        files = sorted(os.listdir(self.manifest_dir))
        added = [f for f in files if f not in self.template_files]
        if len(files) != len(self.template_files) + 1 or len(added) != 1:
            errs.append(f"manifest gained {len(added)} files")
        else:
            with open(os.path.join(self.manifest_dir, added[0])) as f:
                parts = [json.loads(line)["partition"] for line in f if line.strip()]
            if parts != [newest]:
                errs.append(f"new manifest file lists {parts}")
        rows = self._last.result.verdicts.collect()
        errs += check_verdicts(rows, self.exp, self.fp_rate)
        want = min(CLI_VIOLATION_LIMIT, expected_violation_rows(rows, self.exp, CLI_VIOLATION_LIMIT))
        if out["violation_rows"] != want:
            errs.append(f"violation rows {out['violation_rows']} != {want}")
        return errs

    def after(self) -> None:
        self._last.result.unpersist()
        self.spark.catalog.clearCache()

    def families(self, tr) -> dict:
        from pyspark.sql import functions as F

        pending = self.df.filter(F.col(PARTITION_COL).cast("string") == inputs.NEWEST_DAY)
        super().families(tr, pending, global_df=self.df)
        return {}


def _count_manifest_reads(manifest, tr) -> list[int]:
    """Count manifest entries read; in a traced run also give the
    manifest's resume check and append their own spans. Wraps the methods
    of this one manifest object only."""
    count = [0]
    load = manifest.load

    def counted_load():
        entries = load()
        count[0] += len(entries)
        return entries

    manifest.load = counted_load
    if not isinstance(tr, _NoTrace):
        for name, span in (
            ("completed_partitions_versioned", "checkpoint.completed"),
            ("append", "checkpoint.append"),
        ):
            method = getattr(manifest, name)

            def timed(*a, _m=method, _s=span, **kw):
                with tr.span(_s):
                    return _m(*a, **kw)

            setattr(manifest, name, timed)
    return count


@contextmanager
def _kll_job_span(tr):
    """In a traced run, put the jobs of the runner's KLL sketch pass in
    their own span: ``kll_profile`` returns a lazy DataFrame the runner
    collects, so the span opens when it is built."""
    if isinstance(tr, _NoTrace):
        yield
        return
    from slower_whisper_spark.functions import kll

    real = kll.kll_profile

    def traced(*a, **kw):
        tr.job_span("functions.kll.profile")
        return real(*a, **kw)

    kll.kll_profile = traced
    try:
        yield
    finally:
        kll.kll_profile = real


# --------------------------------------------------------------------- #
class CorpusLeg:
    """The training-corpus leg: ``read_warc`` -> ``quality_filter`` ->
    ``minhash_lsh_candidates`` + ``jaccard_pairs`` on the kept docs, then
    ``lsh_bucketed_topk`` over a seeded embedding table. The suite never
    calls this code. It runs in ``suite_dense``'s traced run, where it
    measures the ``sources.warc`` and ``operators`` layers."""

    def __init__(self, rows: int, seed: int, work_dir: str):
        self.rows, self.seed, self.work_dir = rows, seed, work_dir

    def run(self, spark, tr) -> dict:
        """Make (or reuse) the inputs, run the leg once cold and untraced,
        then once traced; return the traced pass's counts. Raises
        ``ValueError`` when an output check fails."""
        from pyspark.sql import functions as F

        out = inputs.cache_dir(self.work_dir, "corpus", self.seed, self.rows)
        self.paths = inputs.corpus_ops(out, self.rows, self.seed, lambda fn: fn(spark))
        n_docs = oracle.count_rows(self.paths["docs"])
        emb = spark.read.parquet(self.paths["embeddings"])
        queries = emb.filter(F.col("vec_id") < N_QUERIES)
        outs = []
        for t in (NO_TRACE, tr):
            o = self._pass(spark, emb, queries, t)
            errs = []
            if o["records"] != n_docs or o["malformed"] != 0:
                errs.append(f"WARC records {o['records']} (malformed {o['malformed']}) != {n_docs}")
            if o["keep"] + o["drop"] != o["records"] - o["malformed"]:
                errs.append(f"quality keep {o['keep']} + drop {o['drop']} != records")
            if o["topk"] != N_QUERIES * TOP_K:
                errs.append(f"top-k rows {o['topk']} != {N_QUERIES * TOP_K}")
            if outs and o["pairs"] != outs[0]["pairs"]:
                errs.append(f"near-dup pairs {o['pairs']} != first pass's {outs[0]['pairs']}")
            if errs:
                raise ValueError("corpus leg: " + "; ".join(errs))
            outs.append(o)
        return outs[-1]

    def _pass(self, spark, emb, queries, tr) -> dict:
        from pyspark.sql import functions as F

        from slower_whisper_spark.operators import (
            jaccard_pairs,
            lsh_bucketed_topk,
            minhash_lsh_candidates,
        )
        from slower_whisper_spark.operators.quality import quality_filter
        from slower_whisper_spark.sources.warc import read_warc

        persisted = []
        with tr.span("sources.warc.read"):
            recs = read_warc(spark, self.paths["warc"]).select(
                F.concat_ws(":", "file", F.col("offset").cast("string")).alias("id"),
                F.col("payload").cast("string").alias("text"),
                F.col("verdict").alias("warc_verdict"),
            ).persist()
            persisted.append(recs)
            by_verdict = {r[0]: r[1] for r in recs.groupBy("warc_verdict").count().collect()}
        with tr.span("operators.quality.filter"):
            ok = recs.filter(F.col("warc_verdict") == "ok").drop("warc_verdict")
            filtered = quality_filter(ok, text_col="text", lang_col=None).persist()
            persisted.append(filtered)
            q = {r[0]: r[1] for r in filtered.groupBy("verdict").count().collect()}
        kept = filtered.filter(F.col("verdict") == "keep").select("id", "text")
        with tr.span("operators.dedup.candidates"):
            n_cand = minhash_lsh_candidates(kept, "text", "id", num_hashes=64, bands=16).count()
        with tr.span("operators.dedup.jaccard"):
            cand = minhash_lsh_candidates(kept, "text", "id", num_hashes=64, bands=16)
            n_pairs = jaccard_pairs(
                kept, "text", "id", threshold=0.8, candidates=cand,
                hashed_shingles=True, persisted=persisted,
            ).count()
        with tr.span("operators.similarity.lsh_topk"):
            n_topk = lsh_bucketed_topk(
                emb, queries, k=TOP_K, n_planes=6, n_tables=4, dim=inputs.EMBED_DIM
            ).count()
        for p in persisted:
            p.unpersist()
        records = sum(by_verdict.values())
        return {
            "records": records,
            "malformed": records - by_verdict.get("ok", 0),
            "keep": q.get("keep", 0),
            "drop": q.get("drop", 0),
            "candidates": n_cand,
            "pairs": n_pairs,
            "topk": n_topk,
        }


WORKLOADS = {w.name: w for w in (SuiteDense, AppendResume)}
