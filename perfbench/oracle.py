"""Expected results computed without Spark: DuckDB over the same files.

Each suite rule gets an independent SQL restatement of its semantics, so a
verdict count the engine gets wrong disagrees here.
"""

from __future__ import annotations

import math

import duckdb

LANG_RE = "[a-z]{2}(-[A-Z]{2})?"
# Drift rule of the benchmark suite: fixed 20-bucket histogram of text
# length over [100, 500) against a flat 22-bucket baseline (with the
# under- and overflow buckets), PSI threshold 10, min_rows 100
DRIFT_LO, DRIFT_HI, DRIFT_BUCKETS, DRIFT_THRESHOLD, DRIFT_MIN_ROWS = 100.0, 500.0, 20, 10.0, 100
_EPS = 1e-6

ROW_RULES = {
    "not_null(url)": "url IS NULL",
    "not_null(lang)": "lang IS NULL",
    "pattern(lang)": f"lang IS NULL OR NOT regexp_full_match(lang, '{LANG_RE}')",
    "range(warc_ts)": (
        "warc_ts IS NULL OR warc_ts < TIMESTAMPTZ '2026-07-01 00:00:00+00' "
        "OR warc_ts > TIMESTAMPTZ '2026-07-31 00:00:00+00'"
    ),
    "length(text)": "text IS NULL OR length(text) < 1",
    "html_min_bytes": "html IS NULL OR octet_length(html) < 16",
}
STATS_COLS = ["url", "warc_ts", "html", "text", "lang"]


def _connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.execute("SET TimeZone = 'UTC'")
    return con


def _psi(counts: list[int]) -> float:
    tot = float(sum(counts))
    q = (1.0 + _EPS) / (len(counts) + _EPS)
    out = 0.0
    for c in counts:
        p = (c + _EPS) / (tot + _EPS)
        out += (p - q) * math.log(p / q)
    return out


def suite_expectations(paths: dict[str, str], only_partition: str | None = None) -> dict:
    """Per-partition expected verdicts of the benchmark suite.

    Returns ``{"partitions": {part: {"rows": n, "<rule_id>": violations,
    ..., "nulls": {col: n}}}, "drift_passed": {part: bool},
    "dup_keys": n, "hash_mismatch": n}``. ``host_known`` is the EXACT
    anti-join count; the engine's Bloom form may undercount by its false
    positives. ``only_partition`` restricts every per-partition figure (and
    the hash mismatch total) to one partition; duplicate urls are always
    judged over the whole table, as the cross-partition ``Unique`` rule
    judges them."""
    con = _connect()
    con.execute(
        "CREATE TEMP VIEW d AS SELECT *, CAST(warc_day AS VARCHAR) AS part, "
        "regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)', 1) AS host "
        f"FROM read_parquet('{paths['docs']}/**/*.parquet', hive_partitioning = true)"
    )
    con.execute(
        "CREATE TEMP TABLE dup AS SELECT url AS dup_url FROM d GROUP BY url HAVING count(*) > 1"
    )
    con.execute(
        f"CREATE TEMP VIEW ref AS SELECT DISTINCT host AS ref_host FROM read_parquet('{paths['ref_domains']}')"
    )
    con.execute(
        "CREATE TEMP VIEW expected AS SELECT url AS e_url, text_sha256 "
        f"FROM read_parquet('{paths['expected_text']}')"
    )
    where = f"WHERE part = '{only_partition}'" if only_partition else ""
    row_sql = ", ".join(f"count_if({cond})" for cond in ROW_RULES.values())
    null_sql = ", ".join(f"count_if({c} IS NULL)" for c in STATS_COLS)
    bucket = (
        f"CASE WHEN length(text) < {DRIFT_LO} THEN 0 WHEN length(text) >= {DRIFT_HI} "
        f"THEN {DRIFT_BUCKETS + 1} ELSE CAST(floor({DRIFT_BUCKETS} * (length(text) - {DRIFT_LO}) "
        f"/ ({DRIFT_HI} - {DRIFT_LO})) AS INTEGER) + 1 END"
    )
    rows = con.execute(
        f"""
        SELECT part, count(*), {row_sql}, {null_sql},
               count_if(dup_url IS NOT NULL),
               count_if(host IS NOT NULL AND host <> '' AND ref_host IS NULL),
               count_if(text_sha256 IS NOT NULL AND sha256(text) IS DISTINCT FROM text_sha256),
               list({bucket})
        FROM d
        LEFT JOIN dup ON url = dup_url
        LEFT JOIN ref ON host = ref_host
        LEFT JOIN expected ON url = e_url
        {where}
        GROUP BY part
        """
    ).fetchall()
    parts: dict[str, dict] = {}
    drift_passed: dict[str, bool] = {}
    nr = len(ROW_RULES)
    for r in rows:
        part, n = r[0], r[1]
        entry = {"rows": n}
        entry.update(zip(ROW_RULES, r[2 : 2 + nr]))
        entry["nulls"] = dict(zip(STATS_COLS, r[2 + nr : 2 + nr + len(STATS_COLS)]))
        k = 2 + nr + len(STATS_COLS)
        entry["unique(url)"], entry["host_known"], entry["text_bytes"] = r[k], r[k + 1], r[k + 2]
        entry["drift(text_len)"] = 0
        counts = [0] * (DRIFT_BUCKETS + 2)
        for b in r[k + 3]:
            if b is not None:
                counts[b] += 1
        drift_passed[part] = sum(counts) < DRIFT_MIN_ROWS or _psi(counts) <= DRIFT_THRESHOLD
        parts[part] = entry
    dup_keys = con.execute("SELECT count(*) FROM dup").fetchone()[0]
    unknown_hosts, unknown_host_max_rows = con.execute(
        f"""
        SELECT count(DISTINCT host), coalesce(max(n), 0) FROM (
            SELECT part, host, count(*) AS n FROM d LEFT JOIN ref ON host = ref_host
            WHERE ref_host IS NULL AND host <> '' {where.replace("WHERE", "AND")}
            GROUP BY part, host)
        """
    ).fetchone()
    con.close()
    return {
        "partitions": parts,
        "drift_passed": drift_passed,
        "dup_keys": dup_keys,
        "hash_mismatch": sum(p["text_bytes"] for p in parts.values()),
        "unknown_hosts": unknown_hosts,
        "unknown_host_max_rows": unknown_host_max_rows,
    }


def bloom_slack_rows(expect: dict, fp_rate: float) -> int:
    """Most violating rows a Bloom membership test with false-positive
    rate ``fp_rate`` may let through in one partition. A false positive
    admits one unknown host, and with it every row of that host; allow
    the binomial mean plus four standard deviations of escaped hosts (at
    least one), each with the most rows any unknown host has."""
    mean = expect["unknown_hosts"] * fp_rate
    hosts = max(1, math.ceil(mean + 4.0 * math.sqrt(mean)))
    return hosts * expect["unknown_host_max_rows"]


def count_rows(path: str) -> int:
    con = _connect()
    n = con.execute(f"SELECT count(*) FROM read_parquet('{path}')").fetchone()[0]
    con.close()
    return n
