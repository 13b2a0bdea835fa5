"""Seeded input generation, cached on disk by (workload, seed, rows).

The engine only ever sees the files written here. Everything is a pure
function of the seed: the same seed gives byte-identical parquet, the same
WARC records and the same embeddings.
"""

from __future__ import annotations

import base64
import datetime
import glob
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# the newest crawl day of the append workload; history covers the days before
NEWEST_DAY = "2026-07-30"
# the column the append workload sketches into the manifest and drift-gates
DRIFT_COL = "length(text)"
WARC_FILES = 8
EMBED_DIM = 32
# near-duplicates planted into the corpus: one per this many docs
PLANT_EVERY = 50


KEEP_CACHED = 4  # input sets kept per workload; older ones are deleted


def cache_dir(work_dir: str, workload: str, seed: int, rows: int) -> str:
    """The input directory for (workload, seed, rows). Deletes all but the
    ``KEEP_CACHED`` most recently made input sets of the workload, so a
    sweep over many seeds does not fill the disk."""
    out = os.path.join(work_dir, f"{workload}-s{seed}-n{rows}")
    older = sorted(
        (os.path.getmtime(os.path.join(d, "_DONE")), d)
        for d in glob.glob(os.path.join(work_dir, f"{workload}-s*-n*"))
        if d != out and _ready(d)
    )
    for _, d in older[: max(0, len(older) - KEEP_CACHED + 1)]:
        shutil.rmtree(d, ignore_errors=True)
    return out


def _ready(out: str) -> bool:
    return os.path.exists(os.path.join(out, "_DONE"))


def _fresh(out: str) -> None:
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)


def _mark_done(out: str) -> None:
    with open(os.path.join(out, "_DONE"), "w") as f:
        f.write("ok\n")


def n_hosts(rows: int) -> int:
    return max(20, rows // 200)


# --------------------------------------------------------------------- #
# suite_dense: one day-partitioned table, default corruption everywhere
# --------------------------------------------------------------------- #
def suite_dense(out: str, rows: int, seed: int) -> dict[str, str]:
    from slower_whisper_spark.datagen import write_docs_dataset_chunked

    paths = {
        "docs": os.path.join(out, "docs"),
        "expected_text": os.path.join(out, "expected_text.parquet"),
        "ref_domains": os.path.join(out, "ref_domains.parquet"),
    }
    if not _ready(out):
        _fresh(out)
        write_docs_dataset_chunked(out, rows, seed=seed, n_hosts=n_hosts(rows))
        _mark_done(out)
    return paths


# --------------------------------------------------------------------- #
# append_resume: clean history days + one newest day with corruption,
# and a manifest template in which every history day is done
# --------------------------------------------------------------------- #
def _host_of(urls: pd.Series) -> pd.Series:
    return urls.str.extract(r"^[a-z]+://([^/]+)/", expand=False)


def _write_day_files(docs: pd.DataFrame, root: str, tag: str) -> None:
    docs = docs.copy()
    docs["warc_day"] = docs["warc_ts"].dt.date.astype(str)
    pq.write_to_dataset(
        pa.Table.from_pandas(docs, preserve_index=False),
        root_path=root,
        partition_cols=["warc_day"],
        basename_template=f"{tag}-part-{{i}}.parquet",
        row_group_size=50_000,
    )


def append_resume(out: str, rows: int, seed: int, suite_hash_fn) -> dict[str, str]:
    """``rows`` history rows spread over the days before ``NEWEST_DAY``,
    plus about one day's worth of rows on ``NEWEST_DAY``.

    History days are generated with no corruption and without the hosts
    the reference table lacks, so each history day passed the suite when
    its run recorded ``success`` in the template. The newest day carries
    datagen's default corruption (except out-of-window timestamps, which
    would land in another partition), and a few of its rows re-crawl a
    history url: duplicates only a whole-table ``Unique`` finds.

    ``suite_hash_fn(paths)`` returns the hash of the suite the workload
    validates with; the template's entries are recorded under it."""
    from slower_whisper_spark.checkpoint import CheckpointManifest, ManifestEntry
    from slower_whisper_spark.datagen import CorruptionPlan, generate_docs
    from slower_whisper_spark.functions.kll import KLLSketch
    from slower_whisper_spark.sources.catalog import partition_snapshots

    paths = {
        "docs": os.path.join(out, "docs"),
        "expected_text": os.path.join(out, "expected_text.parquet"),
        "ref_domains": os.path.join(out, "ref_domains.parquet"),
        "manifest_template": os.path.join(out, "manifest_template"),
    }
    if _ready(out):
        return paths
    _fresh(out)
    hosts = n_hosts(rows)
    n_new = max(200, rows // 29)
    new_docs, new_expected, ref = generate_docs(
        n_new, seed=seed + 1, n_hosts=hosts, plan=CorruptionPlan(out_of_window_ts=0.0),
        fast_text=True, path_offset=rows,
    )
    day0 = pd.Timestamp(NEWEST_DAY, tz="UTC")
    new_docs["warc_ts"] = day0 + (new_docs["warc_ts"] - new_docs["warc_ts"].dt.floor("D"))

    clean = CorruptionPlan(0.0, 0.0, 0.0, 0.0, 0.0, 0.0)
    hist, hist_expected, _ = generate_docs(
        rows, seed=seed, n_hosts=hosts, plan=clean, fast_text=True
    )
    known = set(ref["host"])
    keep = (hist["warc_ts"] < day0) & _host_of(hist["url"]).isin(known)
    hist = hist[keep].reset_index(drop=True)
    # re-crawled pages: a few newest-day rows repeat a history row's url and
    # text, so only a Unique over the whole table sees them as duplicates
    rng = np.random.RandomState(seed + 3)
    n_recrawl = max(3, n_new // 100)
    dst = rng.choice(len(new_docs), size=n_recrawl, replace=False)
    src = rng.choice(len(hist), size=n_recrawl, replace=False)
    cols = [new_docs.columns.get_loc(c) for c in ("url", "text")]
    new_docs.iloc[dst, cols] = hist[["url", "text"]].iloc[src].to_numpy()

    _write_day_files(hist, paths["docs"], "hist")
    _write_day_files(new_docs, paths["docs"], "new")
    expected = pd.concat([hist_expected, new_expected], ignore_index=True)
    pq.write_table(pa.Table.from_pandas(expected, preserve_index=False), paths["expected_text"])
    pq.write_table(pa.Table.from_pandas(ref, preserve_index=False), paths["ref_domains"])

    # one manifest file per earlier daily run, each accepting its day with
    # the day's KLL sketch (built exactly as kll_profile builds it)
    snaps = partition_snapshots(paths["docs"], "warc_day")
    rule_hash = suite_hash_fn(paths)
    manifest = CheckpointManifest(paths["manifest_template"])
    hist["day"] = hist["warc_ts"].dt.date.astype(str)
    for i, (day, part) in enumerate(sorted(hist.groupby("day"), key=lambda kv: kv[0])):
        sk = KLLSketch(k=200, seed=1)
        sk.update_batch(part["text"].str.len().to_numpy(dtype=np.float64))
        run_id = f"run-history-{i:03d}"
        manifest.append(
            [
                ManifestEntry(
                    partition=day,
                    snapshot_id=snaps[day],
                    partition_spec="warc_day",
                    rule_hash=rule_hash,
                    status="success",
                    metrics={"rows": float(len(part)), "violations": 0.0, "rules_failed": 0.0},
                    completed_at=f"{day}T23:00:00+00:00",
                    run_id=run_id,
                    sketches={DRIFT_COL: base64.b64encode(sk.serialize()).decode("ascii")},
                )
            ],
            run_id,
        )
    _mark_done(out)
    return paths


def restore_manifest(template: str, dest: str) -> None:
    shutil.rmtree(dest, ignore_errors=True)
    shutil.copytree(template, dest)


# --------------------------------------------------------------------- #
# corpus_ops: gzip WARC files of the seeded docs + a seeded embedding table
# --------------------------------------------------------------------- #
def corpus_ops(out: str, rows: int, seed: int, with_spark) -> dict[str, str]:
    """``with_spark(fn)`` returns ``fn(spark)`` for the run's Spark
    session; it is called only when the WARC files must be rendered."""
    from slower_whisper_spark.datagen import generate_docs

    paths = {
        "docs": os.path.join(out, "docs.parquet"),
        "warc": os.path.join(out, "warc"),
        "embeddings": os.path.join(out, "embeddings.parquet"),
    }
    if _ready(out):
        return paths
    _fresh(out)
    docs, _, _ = generate_docs(rows, seed=seed, fast_text=True)
    docs = docs[["url", "text"]].copy()
    # plant exact-superset near-duplicates: doc i = doc i-1 plus one word,
    # a word-shingle Jaccard of at least 0.94 against its source
    rng = np.random.RandomState(seed + 7)
    planted = rng.choice(np.arange(1, rows), size=max(1, rows // PLANT_EVERY), replace=False)
    text = docs["text"].to_numpy(dtype=object)
    for i in np.sort(planted):
        text[i] = text[i - 1] + " news"
    docs["text"] = text
    pq.write_table(pa.Table.from_pandas(docs, preserve_index=False), paths["docs"])

    n_vec = max(4000, rows * 2)  # enough that every query has k neighbours
    vecs = np.random.RandomState(seed + 11).standard_normal((n_vec, EMBED_DIM)).astype(np.float32)
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
            "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), EMBED_DIM).cast(
                pa.list_(pa.float32())
            ),
        }
    )
    pq.write_table(emb, paths["embeddings"], row_group_size=max(1, n_vec // 8))

    from pyspark.sql import functions as F

    from slower_whisper_spark.sources.warc import write_warc_files

    written = with_spark(
        lambda spark: write_warc_files(
            spark.read.parquet(paths["docs"]),
            paths["warc"],
            file_key=F.pmod(F.xxhash64("url"), F.lit(WARC_FILES)),
            compress=True,
        ).collect()
    )
    if sum(r["n_records"] for r in written) != rows:
        raise RuntimeError("WARC render wrote a different number of records than docs")
    _mark_done(out)
    return paths


def input_bytes(paths: dict[str, str]) -> int:
    total = 0
    for p in paths.values():
        if os.path.isfile(p):
            total += os.path.getsize(p)
        else:
            for d, _, names in os.walk(p):
                total += sum(os.path.getsize(os.path.join(d, n)) for n in names)
    return total


def utc(y: int, m: int, d: int) -> datetime.datetime:
    return datetime.datetime(y, m, d, tzinfo=datetime.timezone.utc)
