"""Hypothesis property tests (SURVEY §5.8): sketch error bounds and
operator invariants hold for ARBITRARY inputs, not just the seeded fixture.
Spark-free where possible (KLL is pure numpy) so hypothesis can run many
examples cheaply."""

from __future__ import annotations

import numpy as np
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from slower_whisper_spark.functions.kll import KLLSketch


finite = st.floats(allow_nan=False, allow_infinity=False, width=32)


@settings(max_examples=30, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(finite, min_size=1, max_size=5000))
def test_kll_quantile_rank_error_bound(xs):
    data = np.asarray(xs, dtype=float)
    sk = KLLSketch(k=200, seed=1)
    sk.update_batch(data)
    assert sk.n == data.size
    srt = np.sort(data)
    for q in (0.1, 0.5, 0.9):
        est = sk.quantile(q)
        lo = np.searchsorted(srt, est, side="left") / data.size
        hi = np.searchsorted(srt, est, side="right") / data.size
        # estimate's rank interval must be within eps of the target rank
        assert lo - 0.05 <= q <= hi + 0.05


@settings(max_examples=20, deadline=None)
@given(
    st.lists(st.lists(finite, min_size=0, max_size=800), min_size=1, max_size=6)
)
def test_kll_merge_is_order_insensitive(parts):
    datas = [np.asarray(p, dtype=float) for p in parts]
    total = int(sum(d.size for d in datas))

    def build(order):
        out = KLLSketch(k=128, seed=1)
        for i in order:
            one = KLLSketch(k=128, seed=1)
            one.update_batch(datas[i])
            out.merge(one)
        return out

    a = build(range(len(datas)))
    b = build(reversed(range(len(datas))))
    assert a.n == b.n == total
    if total:
        alldata = np.sort(np.concatenate(datas))
        for q in (0.25, 0.75):
            for sk in (a, b):
                est = sk.quantile(q)
                lo = np.searchsorted(alldata, est, side="left") / total
                hi = np.searchsorted(alldata, est, side="right") / total
                assert lo - 0.08 <= q <= hi + 0.08


@settings(max_examples=50, deadline=None)
@given(st.binary(min_size=0, max_size=2000))
def test_kll_serialize_total(data_bytes):
    vals = np.frombuffer(data_bytes[: len(data_bytes) // 8 * 8], dtype="<f8")
    vals = vals[np.isfinite(vals)]
    sk = KLLSketch(k=64, seed=3)
    sk.update_batch(vals)
    back = KLLSketch.deserialize(sk.serialize())
    assert back.n == sk.n
    if sk.n:
        assert back.quantile(0.5) == sk.quantile(0.5)


# --------------------------------------------------------------------- #
# WARC parser: pure-python core, property-tested without Spark
# --------------------------------------------------------------------- #
@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.text(
                alphabet=st.characters(min_codepoint=33, max_codepoint=126),
                min_size=1,
                max_size=40,
            ),
            st.binary(max_size=300),
        ),
        min_size=1,
        max_size=12,
    )
)
def test_warc_render_parse_roundtrip_property(recs):
    """Any payload bytes — including ones containing record markers,
    CRLFCRLF, or header-like lines — roundtrip byte-identically, in
    order, with correct offsets."""
    from slower_whisper_spark.sources.warc import parse_warc_bytes

    def render(url: str, payload: bytes) -> bytes:
        return (
            (
                f"WARC/1.0\r\nWARC-Type: resource\r\nWARC-Target-URI: {url}\r\n"
                f"WARC-Date: 2026-01-01T00:00:00Z\r\nContent-Type: text/plain\r\n"
                f"Content-Length: {len(payload)}\r\n\r\n"
            ).encode()
            + payload
            + b"\r\n\r\n"
        )

    blobs = [render(u, p) for u, p in recs]
    data = b"".join(blobs)
    out = parse_warc_bytes(data)
    assert [r["verdict"] for r in out] == ["ok"] * len(recs)
    assert [(r["url"], r["payload"]) for r in out] == [(u, p) for u, p in recs]
    # offsets are exact prefix sums of rendered record lengths
    offs = [r["offset"] for r in out]
    want = [sum(len(b) for b in blobs[:i]) for i in range(len(blobs))]
    assert offs == want


@settings(max_examples=60, deadline=None)
@given(st.binary(max_size=400))
def test_warc_parser_never_crashes_on_garbage(noise):
    """Arbitrary bytes parse to a (possibly empty) list of malformed/ok
    records — never an exception, never an infinite loop."""
    from slower_whisper_spark.sources.warc import parse_warc_bytes

    out = parse_warc_bytes(noise)
    assert all(r["verdict"] in ("ok", "malformed") for r in out)


@settings(max_examples=40, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    labels=st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=97, max_codepoint=122),
            min_size=1,
            max_size=8,
        ),
        min_size=2,
        max_size=6,
    ),
    scheme=st.sampled_from(["http", "https"]),
    tail=st.sampled_from(["", "/", "/a/b", "/a/b/?q=1", ":8080/x"]),
)
def test_normalize_url_idempotent_property(spark, labels, scheme, tail):
    """normalize(normalize(u)) == normalize(u) and host case never
    survives — the dedup-key contract."""
    from slower_whisper_spark.functions import url as U

    host = ".".join(labels)
    u = f"{scheme.upper()}://{host.upper()}{tail}#frag"
    df = spark.createDataFrame([(u,)], "u string")
    one = df.select(U.normalize_url("u").alias("n1"))
    row = one.select(
        "n1", U.normalize_url("n1").alias("n2")
    ).collect()[0]
    assert row.n1 == row.n2
    assert "#" not in row.n1
    assert row.n1.split("://", 1)[1].split("/", 1)[0].islower() or not any(
        c.isalpha() for c in row.n1.split("://", 1)[1].split("/", 1)[0]
    )


@settings(max_examples=80, deadline=None)
@given(st.text(max_size=600))
def test_robots_parser_total_on_arbitrary_text(body):
    """parse_robots_body is total: any text yields a (possibly empty)
    rule list with lowercase agents, known rule kinds, non-empty prefixes."""
    from slower_whisper_spark.operators.robots import parse_robots_body

    rules = parse_robots_body(body)
    for agent, kind, prefix in rules:
        assert agent == agent.lower()
        assert kind in ("allow", "disallow")
        assert prefix != ""


# --------------------------------------------------------------------- #
# rule_id text reaches SQL literals and column identifiers
# --------------------------------------------------------------------- #
@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(rule_id=st.text(alphabet=st.characters(blacklist_categories=("Cs",)), min_size=1, max_size=20))
@example(rule_id="a`b.c\\")
@example(rule_id="it's\\'")
@example(rule_id="not_null(meta.lang)")
@example(rule_id="ü.ß`")
def test_validate_total_on_arbitrary_rule_ids(spark, rule_id):
    """Any rule_id — backticks, backslashes, quotes, dots, unicode — yields
    verdict and violation rows carrying exactly that id and the right
    counts, for a row rule and a folded drift rule alike."""
    from slower_whisper_spark import ConstraintSuite, NotNull
    from slower_whisper_spark.rules.drift import Baseline, Drift

    df = spark.createDataFrame(
        [("a", "x", 0.5), ("b", None, 1.5), ("c", None, 2.5)], "k string, v string, n double"
    )
    base = Baseline(column="n", kind="hist", counts=[0, 1, 1, 1, 0], lo=0.0, hi=3.0, n_buckets=3)
    drift_id = rule_id + "|drift"
    res = ConstraintSuite(
        "ids",
        [
            NotNull("v", rule_id=rule_id),
            Drift("n", base, threshold=10.0, min_rows=1, rule_id=drift_id),
        ],
    ).validate(df, key_col="k")
    got = {r["rule_id"]: r["violations"] for r in res.verdicts.collect()}
    assert got == {rule_id: 2, drift_id: 0}
    assert sorted((r["key"], r["rule_id"]) for r in res.violations.collect()) == [
        ("b", rule_id),
        ("c", rule_id),
    ]
    res.unpersist()
