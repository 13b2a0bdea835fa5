"""Distribution-drift rules: PSI / KS against a checkpointed baseline.

Ancestor: the reference's baseline regression gate — per-metric regression
``(current - baseline) / baseline`` compared to a threshold (default 0.10),
``overall_passed = all(...)``, report vs gate mode
(ref: transcription/benchmark_cli.py:191,476-540). Here the "metric" is a
whole distribution: we bucket the column with fixed edges, compare the
per-partition histogram to the checkpointed baseline histogram with PSI
(Population Stability Index) or KS (max CDF distance), and fail partitions
whose statistic exceeds the threshold.

Everything is declarative Spark: ``width_bucket`` → ``groupBy(partition,
bucket).count()`` → broadcast-join the (tiny) baseline histogram → windowed
cumulative sums for KS. The baseline itself is a small JSON-able dict that
lives in the checkpoint manifest (mergeable across runs by summing counts).
"""

from __future__ import annotations

from dataclasses import dataclass, field, asdict
from typing import Any

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from slower_whisper_spark.rules.base import TableRule, sql_ident, sql_str

_EPS = 1e-6


def _expr_or_col(name: str):
    """Column reference for rule/baseline specs: strings with a '(' parse as
    SQL expressions ('length(text)'); everything else — including names with
    hyphens, dots or spaces that F.expr would mis-parse as operators — stays
    a plain column lookup, preserving pre-expression behavior."""
    return F.expr(name) if "(" in name else F.col(name)


def _sql_ref(name: str) -> str:
    """SQL text for the same reference `_expr_or_col` builds: expressions
    pass through, plain names are backtick-quoted."""
    return name if "(" in name else sql_ident(name)


def _dlit(v: float) -> str:
    """Exact double literal: repr round-trips the float and CAST(string AS
    DOUBLE) parses with Double.parseDouble, so the SQL-text plan computes on
    bit-identical constants to the old F.lit(float) Column path."""
    return f"CAST('{float(v)!r}' AS DOUBLE)"


@dataclass
class Baseline:
    """Checkpointed distribution snapshot for one column.

    Kinds:
      * ``hist``     — fixed-edge equal-width histogram (lo/hi/n_buckets).
      * ``cat``      — top-N categorical counts.
      * ``quantile`` — equi-depth buckets whose ``edges`` come from a merged
        KLL sketch (``baseline_from_kll``): the baseline store is the ~5 KB
        mergeable sketch in the checkpoint manifest, so baselines accumulate
        across runs WITHOUT rescanning history, and bucket edges adapt to
        the data instead of needing lo/hi guessed up front.
    """

    column: str
    kind: str  # "hist" | "cat" | "quantile"
    counts: list[int]
    lo: float | None = None
    hi: float | None = None
    n_buckets: int | None = None
    categories: list[str] = field(default_factory=list)
    edges: list[float] = field(default_factory=list)

    def to_dict(self) -> dict[str, Any]:
        return asdict(self)

    @staticmethod
    def from_dict(d: dict[str, Any]) -> "Baseline":
        return Baseline(**d)


def compute_baseline(
    df: DataFrame, column: str, kind: str = "hist", n_buckets: int = 20,
    lo: float | None = None, hi: float | None = None, max_categories: int = 100,
) -> Baseline:
    """One aggregation job → a small driver-side Baseline."""
    if kind == "hist":
        if lo is None or hi is None:
            mm = df.agg(
                F.min(_expr_or_col(column).cast("double")).alias("lo"),
                F.max(_expr_or_col(column).cast("double")).alias("hi"),
            ).first()
            lo = float(mm["lo"]) if lo is None else lo
            hi = float(mm["hi"]) if hi is None else hi
            if hi <= lo:
                hi = lo + 1.0
        rows = (
            df.select(
                F.width_bucket(_expr_or_col(column).cast("double"), F.lit(lo), F.lit(hi), F.lit(n_buckets)).alias("b")
            )
            .groupBy("b")
            .count()
            .collect()
        )
        counts = [0] * (n_buckets + 2)  # width_bucket: 0=underflow, n+1=overflow
        for r in rows:
            if r["b"] is not None:
                counts[int(r["b"])] = int(r["count"])
        return Baseline(column=column, kind="hist", counts=counts, lo=lo, hi=hi, n_buckets=n_buckets)

    rows = (
        df.groupBy(_expr_or_col(column).cast("string").alias("c"))
        .count()
        .orderBy(F.desc("count"), F.asc("c"))
        .limit(max_categories)
        .collect()
    )
    cats = [r["c"] if r["c"] is not None else "<NULL>" for r in rows]
    counts = [int(r["count"]) for r in rows]
    return Baseline(column=column, kind="cat", counts=counts, categories=cats)


def baseline_from_kll(sketch, column: str, n_buckets: int = 20) -> Baseline:
    """Equi-depth Baseline from a (merged) KLL sketch: edges are the
    sketch's interior quantiles, expected mass is uniform by construction.
    Duplicate edges (heavy ties) collapse, so degenerate distributions get
    fewer, wider buckets instead of empty ones."""
    qs = [i / n_buckets for i in range(1, n_buckets)]
    raw_edges = sketch.quantiles(qs)
    edges: list[float] = []
    for e in raw_edges:
        if not edges or e > edges[-1]:
            edges.append(float(e))
    k = len(edges) + 1
    per = max(1, int(round(sketch.n / k)))
    return Baseline(column=column, kind="quantile", counts=[per] * k, edges=edges)


def kll_baseline_from_manifest(
    manifest, column: str, *, n_buckets: int = 20, k: int = 200
) -> Baseline:
    """Merge every partition's checkpointed KLL sketch for ``column`` (the
    latest manifest entry per partition THAT CARRIES the column's sketch,
    across however many runs produced them) into one table-level baseline —
    no data rescan; the manifest IS the baseline store. A later run executed
    WITHOUT sketch_columns must not erase the accumulated baseline, so
    sketch-less entries are skipped when picking the per-partition latest.
    Raises if no sketches were persisted."""
    import base64

    from slower_whisper_spark.functions.kll import merge_sketch_rows

    latest: dict[str, str] = {}
    for e in manifest.load():  # files are time-ordered; later overwrites
        if column in (e.sketches or {}):
            latest[e.partition] = e.sketches[column]
    raws = [base64.b64decode(b64) for b64 in latest.values()]
    if not raws:
        raise ValueError(f"no KLL sketches for column {column!r} in manifest")
    return baseline_from_kll(merge_sketch_rows(raws, k=k), column, n_buckets=n_buckets)


class Drift(TableRule):
    def __init__(
        self,
        column: str,
        baseline: Baseline,
        metric: str = "psi",  # "psi" | "ks"
        threshold: float = 0.25,
        min_rows: int = 100,
        rule_id: str | None = None,
    ):
        """min_rows: partitions smaller than this pass vacuously — a
        distribution statistic over a handful of rows is noise, and at
        10^12-doc scale a partition that small signals an ingest anomaly
        better caught by a Range/NotNull rule."""
        if metric == "ks" and baseline.kind == "cat":
            raise ValueError("KS drift requires an ordered (hist/quantile) baseline")
        self.column = column
        self.baseline = baseline
        self.metric = metric
        self.threshold = threshold
        self.min_rows = min_rows
        self.rule_id = rule_id or f"drift({column},{metric})"

    def spec(self) -> dict[str, Any]:
        return {
            "type": "drift",
            "column": self.column,
            "metric": self.metric,
            "threshold": self.threshold,
            "min_rows": self.min_rows,
            "baseline": self.baseline.to_dict(),
            "rule_id": self.rule_id,
        }

    # ------------------------------------------------------------------ #
    # fold-into-scan path: bucket counts become pass-1 aggregates; PSI/KS
    # are then pure projections over the (tiny, cached) wide row — the
    # drift check costs ZERO extra scans of the table.
    # ------------------------------------------------------------------ #
    def _bucket_ids(self) -> list[int]:
        b = self.baseline
        if b.kind == "hist":
            return list(range(len(b.counts)))  # width_bucket: 0..n+1
        if b.kind == "quantile":
            return list(range(len(b.counts))) + [-1]  # -1 = NULL value
        ids = list(range(len(b.categories)))
        return ids + [-1]  # -1 = unseen category

    def _row_bucket_sql(self) -> str:
        """The per-row bucket id as SQL TEXT — the fold path ships one parsed
        string per bucket aggregate instead of a py4j round-trip per Column
        operator (plan construction for a 40-rule suite is driver-SERIAL at
        both ends of a scaling run, so it is sized like any other phase)."""
        b = self.baseline
        if b.kind == "hist":
            x = f"CAST({_sql_ref(self.column)} AS DOUBLE)"
            return f"width_bucket({x}, {_dlit(b.lo)}, {_dlit(b.hi)}, {int(b.n_buckets)})"
        if b.kind == "quantile":
            # equi-depth bucket = #edges strictly below the value (0..k-1);
            # a ~20-element literal-array HOF, stays in codegen
            x = f"CAST({_sql_ref(self.column)} AS DOUBLE)"
            edges = ", ".join(_dlit(e) for e in b.edges)
            return (
                f"CASE WHEN {x} IS NULL THEN -1 "
                f"ELSE size(filter(array({edges}), e -> {x} > e)) END"
            )
        known = f"CAST({_sql_ref(self.column)} AS STRING)"
        cats = list(b.categories)
        null_idx = cats.index("<NULL>") if "<NULL>" in cats else -1
        arr = ", ".join(sql_str(c) for c in cats)
        # array_position returns 0 (not NULL) when absent → -1 after the
        # shift; coalesce keeps the old Column path's NULL belt-and-braces
        return (
            f"CASE WHEN {known} IS NULL THEN {null_idx} "
            f"ELSE coalesce(array_position(array({arr}), {known}) - 1, -1) END"
        )

    def _row_bucket_expr(self):
        return F.expr(self._row_bucket_sql())

    def fold_agg_exprs(self) -> list:
        bucket = self._row_bucket_sql()
        return [
            F.expr(
                f"sum(CASE WHEN ({bucket}) = {i} THEN 1 ELSE 0 END) "
                f"AS {sql_ident(f'drift__{self.rule_id}__{i}')}"
            )
            for i in self._bucket_ids()
        ]

    def fold_verdict(self, wide: DataFrame) -> DataFrame:
        """Compute the per-partition verdict from the wide pass-1 row.

        Intermediates (total, per-bucket probabilities, KS cumulative sums)
        are materialized as NAMED columns step by step — inlining them would
        nest each cumulative sum inside the next and blow the expression
        tree up quadratically (Catalyst analysis then takes minutes for a
        20-bucket histogram)."""
        ids = self._bucket_ids()
        base_counts = {i: float(c) for i, c in enumerate(self.baseline.counts)}
        if self.baseline.kind in ("cat", "quantile"):
            base_counts[-1] = 0.0
        qtot = sum(base_counts.values()) or 1.0

        # Every projection ships as SQL TEXT (one selectExpr = one py4j
        # round-trip, parsed JVM-side) instead of per-operator Column calls;
        # arithmetic keeps the exact shape/association of the old Column
        # plan ('a + b + c' parses left-assoc like reduce(+)), and _dlit
        # round-trips constants, so results are bit-identical.
        ks = range(len(ids))
        rid = self.rule_id
        w = wide.selectExpr(
            "partition",
            *[
                f"CAST({sql_ident(f'drift__{rid}__{i}')} AS DOUBLE) AS __c{k}"
                for k, i in enumerate(ids)
            ],
        )
        tot = " + ".join(f"__c{k}" for k in ks)
        w = w.selectExpr("partition", *[f"__c{k}" for k in ks], f"{tot} AS __tot")
        eps = _dlit(_EPS)
        w = w.selectExpr(
            "partition",
            "__tot",
            *[f"(__c{k} + {eps}) / (__tot + {eps}) AS __p{k}" for k in ks],
        )

        if self.metric == "psi":
            contribs = []
            for k, i in enumerate(ids):
                q = _dlit((base_counts[i] + _EPS) / (qtot + _EPS))
                contribs.append(f"((__p{k} - {q}) * ln(__p{k} / {q}))")
            stat = " + ".join(contribs)
        else:  # ks over ascending bucket order, cumulative sums stay NAMED
            # (inlining them would nest quadratically; the cum TEXT reuses
            # the previous step's parenthesized sum, matching the old
            # left-assoc column chain)
            order = sorted(range(len(ids)), key=lambda k: ids[k])
            cq = 0.0
            diffs = []
            cum = None
            for k in order:
                cum = f"__p{k}" if cum is None else f"({cum} + __p{k})"
                cq += (base_counts[ids[k]] + _EPS) / (qtot + _EPS)
                diffs.append(f"abs(({cum}) - {_dlit(cq)})")
            stat = f"greatest({', '.join(diffs)})" if len(diffs) > 1 else diffs[0]

        w = w.selectExpr("partition", "__tot", f"{stat} AS __stat")
        small = f"(__tot < {_dlit(float(self.min_rows))})"
        obs_small = (
            "concat('skipped: n=', CAST(CAST(__tot AS BIGINT) AS STRING), "
            + sql_str(f" < min_rows={self.min_rows}")
            + ")"
        )
        obs_stat = f"concat({sql_str(self.metric + '=')}, CAST(round(__stat, 6) AS STRING))"
        return w.selectExpr(
            "partition",
            f"{sql_str(rid)} AS rule_id",
            f"({small} OR (__stat <= {_dlit(self.threshold)})) AS passed",
            "CAST(0 AS BIGINT) AS violations",
            f"CASE WHEN {small} THEN {obs_small} ELSE {obs_stat} END AS observed",
            f"{sql_str(f'{self.metric} <= {self.threshold}')} AS expected",
        )

    def _bucketed(self, df: DataFrame, partition_col: str) -> DataFrame:
        b = self.baseline
        if b.kind in ("hist", "quantile"):
            bucket = self._row_bucket_expr()
        else:
            known = _expr_or_col(self.column).cast("string")
            cats = list(b.categories)
            # unseen categories collapse into one drift bucket
            bucket = (
                F.when(known.isNull(), F.lit(cats.index("<NULL>") if "<NULL>" in cats else -1))
                .otherwise(
                    F.coalesce(
                        F.array_position(F.lit(cats), known) - 1, F.lit(-1)
                    )
                )
            )
        return (
            df.select(F.col(partition_col).cast("string").alias("__part"), bucket.alias("__bucket"))
            .groupBy("__part", "__bucket")
            .agg(F.count(F.lit(1)).alias("__cnt"))
        )

    def _baseline_df(self, spark) -> DataFrame:
        b = self.baseline
        rows = [(int(i), int(c)) for i, c in enumerate(b.counts)]
        if b.kind in ("cat", "quantile"):
            rows.append((-1, 0))  # unseen-category / NULL bucket, zero baseline mass
        return spark.createDataFrame(rows, "__bucket int, __base long")

    def statistic_df(self, df: DataFrame, partition_col: str) -> DataFrame:
        """Per-partition drift statistic as DATA: (__part, __stat, __n).
        This is the numeric core of ``evaluate`` — exposed so callers (e.g.
        drift dashboards, oracle-checked queries) can consume the statistic
        directly instead of parsing it back out of the verdict string."""
        spark = df.sparkSession
        cur = self._bucketed(df, partition_col)
        base = F.broadcast(self._baseline_df(spark))

        # full (partition × bucket) grid so zero-count buckets still contribute
        parts = cur.select("__part").distinct()
        grid = parts.crossJoin(base)
        joined = grid.join(cur, ["__part", "__bucket"], "left").fillna({"__cnt": 0})

        tot = Window.partitionBy("__part")
        joined = joined.withColumn("__p", (F.col("__cnt") + _EPS) / (F.sum("__cnt").over(tot) + _EPS))
        joined = joined.withColumn("__q", (F.col("__base") + _EPS) / (F.sum("__base").over(tot) + _EPS))

        if self.metric == "psi":
            contrib = (F.col("__p") - F.col("__q")) * F.log(F.col("__p") / F.col("__q"))
            return joined.groupBy("__part").agg(
                F.sum(contrib).alias("__stat"), F.sum("__cnt").alias("__n")
            )
        # ks: max |CDF_p - CDF_q| over ordered buckets
        w = Window.partitionBy("__part").orderBy("__bucket")
        cdf = joined.withColumn("__cp", F.sum("__p").over(w)).withColumn("__cq", F.sum("__q").over(w))
        return cdf.groupBy("__part").agg(
            F.max(F.abs(F.col("__cp") - F.col("__cq"))).alias("__stat"),
            F.sum("__cnt").alias("__n"),
        )

    def evaluate(
        self,
        df: DataFrame,
        *,
        key_col: str,
        partition_col: str,
        violation_limit: int,
        persisted: list[DataFrame] | None = None,
    ) -> tuple[DataFrame, DataFrame | None]:
        stat = self.statistic_df(df, partition_col)
        small = F.col("__n") < F.lit(self.min_rows)
        verdicts = stat.select(
            F.col("__part").alias("partition"),
            F.lit(self.rule_id).alias("rule_id"),
            (small | (F.col("__stat") <= F.lit(self.threshold))).alias("passed"),
            F.lit(0).cast("long").alias("violations"),
            F.when(
                small,
                F.concat(F.lit("skipped: n="), F.col("__n").cast("string"), F.lit(f" < min_rows={self.min_rows}")),
            )
            .otherwise(F.concat(F.lit(f"{self.metric}="), F.round(F.col("__stat"), 6).cast("string")))
            .alias("observed"),
            F.lit(f"{self.metric} <= {self.threshold}").alias("expected"),
        )
        return verdicts, None
