"""Property-based tests (hypothesis) — a tier the reference lacks
entirely (SURVEY.md §5: example-based only). Each property batches all
generated examples into ONE Spark job so the suite stays fast."""

from __future__ import annotations

import json

from hypothesis import example, given, settings, strategies as st
from pyspark.sql import functions as F

from etl_file_sync_spark.pipeline.config import ServerConfig, servers_dataframe
from etl_file_sync_spark.pipeline.transform import split_valid_dlq

SERVERS = [ServerConfig(hostname="KNOWN", type="local")]

endpoint = st.fixed_dictionaries(
    {},
    optional={
        "hostname": st.sampled_from(["KNOWN", "known", "NOPE", ""]),
        "path": st.text(alphabet="abc/._-", min_size=0, max_size=12),
    },
)
job = st.fixed_dictionaries(
    {},
    optional={
        "job_id": st.text(alphabet="abc123-", max_size=10),
        "source": endpoint,
        "destination": endpoint,
        "extra": st.integers(),
    },
)
raw_msg = st.one_of(
    job.map(json.dumps),
    st.text(max_size=20),  # arbitrary garbage
)


def reference_model(msg: str) -> str:
    """The reference's classification semantics, restated in plain Python
    (parse → required fields → server lookup) — the model the Spark
    transform must agree with on EVERY input."""
    try:
        d = json.loads(msg)
    except ValueError:
        return "parse_error"
    if not isinstance(d, dict):
        return "missing_field"
    for side in ("source", "destination"):
        ep = d.get(side)
        # reference semantics: missing KEY is a field error (KeyError via
        # direct indexing, message.py:21-22); an empty-string hostname is
        # PRESENT and fails later at server lookup instead
        if not isinstance(ep, dict) or ep.get("hostname") is None or ep.get("path") is None:
            return "missing_field"
    for side in ("source", "destination"):
        if d[side]["hostname"].upper() != "KNOWN":
            return "unknown_server"
    return "valid"


_VALID_JOB = json.dumps(
    {"source": {"hostname": "KNOWN", "path": "a"}, "destination": {"hostname": "known", "path": "b"}}
)


@settings(max_examples=15, deadline=None)
@given(st.lists(raw_msg, min_size=1, max_size=30))
# one JSON value followed by more content: json.loads rejects all of them
@example(["0\n0"])
@example(['{"a":1} x'])
@example(['{"a":1}{"b":2}'])
@example(["1 2"])
@example(["[1] [2]"])
@example([_VALID_JOB + " x"])
# json.loads accepts NaN, and whitespace around a value
@example(["NaN"])
@example(['{"a":1}\n', " " + _VALID_JOB + "\n"])
def test_classification_matches_reference_model(spark, msgs):
    raw = spark.createDataFrame([(m,) for m in msgs], "value string")
    res = split_valid_dlq(raw, servers_dataframe(spark, SERVERS))
    n_valid = res.valid.count()
    dlq_errors = [r.error.split(":")[0] for r in res.dlq.collect()]
    expected = [reference_model(m) for m in msgs]
    assert n_valid == sum(1 for e in expected if e == "valid")
    assert sorted(dlq_errors) == sorted(e for e in expected if e != "valid")


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 5), st.floats(0, 100, allow_nan=False)),
        min_size=1,
        max_size=40,
    ),
    st.lists(
        st.tuples(st.integers(0, 5), st.floats(0, 100, allow_nan=False), st.integers(0, 999)),
        min_size=0,
        max_size=40,
    ),
)
def test_asof_join_property_vs_pandas(spark, left_rows, right_rows):
    import pandas as pd

    from etl_file_sync_spark.operators.asof import asof_join

    left = pd.DataFrame(left_rows, columns=["k", "t"]).drop_duplicates(["k", "t"])
    right = pd.DataFrame(right_rows, columns=["k", "rt", "rv"]).drop_duplicates(["k", "rt"])
    if len(right):
        expected = pd.merge_asof(
            left.sort_values("t"), right.sort_values("rt"), by="k", left_on="t", right_on="rt"
        )
    else:
        expected = left.assign(rv=None)
    got = (
        asof_join(
            spark.createDataFrame(left),
            spark.createDataFrame(right) if len(right) else spark.createDataFrame([], "k bigint, rt double, rv bigint"),
            on="k",
            left_time="t",
            right_time="rt",
            right_vals=["rv"],
        )
        .toPandas()
        .sort_values(["k", "t"])
        .reset_index(drop=True)
    )
    exp = expected.sort_values(["k", "t"]).reset_index(drop=True)
    got_rv = got["rv"].astype(object).where(pd.notna(got["rv"]), None).tolist()
    exp_rv = exp["rv"].astype(object).where(pd.notna(exp["rv"]), None).tolist()
    assert got_rv == exp_rv


@settings(max_examples=10, deadline=None)
@given(st.lists(st.text(alphabet="ab ", min_size=1, max_size=30), min_size=2, max_size=20))
def test_jaccard_pairs_bounded_and_symmetric(spark, texts):
    from etl_file_sync_spark.operators.dedup import jaccard_pairs

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    pairs = jaccard_pairs(df, threshold=0.0).collect()
    for r in pairs:
        assert r.id_a < r.id_b
        assert 0.0 <= r.jaccard <= 1.0


# --- round-4 property tests -------------------------------------------


@given(
    w=st.integers(min_value=1, max_value=23),
    h=st.integers(min_value=1, max_value=9),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=40, deadline=None)
def test_bmp_ppm_roundtrip_any_shape(w, h, seed):
    """encode→decode is the identity for every image shape, including
    widths whose 3·w is not a 4-multiple (BMP row padding)."""
    import numpy as np

    from etl_file_sync_spark.operators import multimodal as M

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    assert np.array_equal(M.decode_bmp(M.encode_bmp(img)), img)
    assert np.array_equal(M.decode_ppm(M.encode_ppm(img)), img)


@given(
    old_rows=st.dictionaries(
        st.integers(min_value=0, max_value=30),
        st.one_of(st.none(), st.text(alphabet="abc", max_size=3)),
        max_size=12,
    ),
    new_rows=st.dictionaries(
        st.integers(min_value=0, max_value=30),
        st.one_of(st.none(), st.text(alphabet="abc", max_size=3)),
        max_size=12,
    ),
)
@settings(max_examples=15, deadline=None)
def test_snapshot_diff_matches_dict_semantics(spark, old_rows, new_rows):
    """snapshot_diff statuses must equal plain dict-comparison truth for
    arbitrary keyed states (None values included)."""
    from etl_file_sync_spark.operators.reconcile import snapshot_diff

    old = spark.createDataFrame([(k, v) for k, v in old_rows.items()] or [(None, None)], "k int, s string").filter("k IS NOT NULL")
    new = spark.createDataFrame([(k, v) for k, v in new_rows.items()] or [(None, None)], "k int, s string").filter("k IS NOT NULL")
    got = {r.k: r.status for r in snapshot_diff(old, new, ["k"], ["s"]).collect()}
    want = {}
    for k in set(old_rows) | set(new_rows):
        if k not in old_rows:
            want[k] = "added"
        elif k not in new_rows:
            want[k] = "removed"
        elif old_rows[k] != new_rows[k]:
            want[k] = "changed"
        else:
            want[k] = "unchanged"
    assert got == want


@given(
    st.lists(
        st.text(alphabet="ab#01 é", min_size=0, max_size=20), min_size=2, max_size=2
    )
)
@settings(max_examples=300, deadline=None)
def test_jaro_winkler_properties(pair):
    """JW is symmetric, bounded in [0,1], 1.0 iff equal non-empty, and
    0.0 whenever a side is empty (the pinned DuckDB quirk) — over
    arbitrary unicode-ish strings, no Spark needed."""
    from etl_file_sync_spark.operators.dedup import jaro_winkler_py

    s1, s2 = pair
    v = jaro_winkler_py(s1, s2)
    assert 0.0 <= v <= 1.0
    assert v == jaro_winkler_py(s2, s1)
    if not s1 or not s2:
        assert v == 0.0
    elif s1 == s2:
        assert v == 1.0


# --- round-6 property tests: the rank machinery -----------------------
# rankstats feeds ~40 statistics queries (midranks -> Mann-Whitney, KS,
# Dunn, AUC, Gini, deciles...). The two load-bearing invariants are:
# (a) TRUTH: results equal the pandas/python order-statistics answer;
# (b) STABILITY: results are invariant to the bucket count and to how
#     the input happens to be partitioned — bucketing is a physical
#     plan choice and must never leak into the arithmetic.


def _spread(df, n_parts):
    """Adversarial physical layout: hash-scatter rows across n_parts."""
    return df.repartition(n_parts) if n_parts else df


@settings(max_examples=10, deadline=None)
@given(
    rows=st.lists(
        st.tuples(st.integers(-50, 50), st.integers(1, 9)),
        min_size=1,
        max_size=50,
        unique_by=lambda t: t[0],
    ),
    n_buckets=st.sampled_from([1, 2, 3, 7, 32]),
    n_parts=st.sampled_from([0, 1, 5]),
)
def test_avg_ranks_matches_pandas_midranks(spark, rows, n_buckets, n_parts):
    import pandas as pd

    from etl_file_sync_spark.operators.rankstats import avg_ranks

    df = _spread(
        spark.createDataFrame(rows, "v long, c long"), n_parts
    )
    got = {
        r.v: r.avg_rank
        for r in avg_ranks(df, "v", "c", n_buckets=n_buckets).collect()
    }
    expanded = pd.Series(
        [v for v, c in rows for _ in range(c)]
    )
    mid = expanded.rank(method="average")
    exp = {v: float(mid[expanded == v].iloc[0]) for v, _ in rows}
    assert got == exp  # halves are binary-exact: equality, not approx
    spark.catalog.clearCache()


@settings(max_examples=10, deadline=None)
@given(
    rows=st.lists(
        st.tuples(st.integers(-100, 100), st.integers(-5, 9), st.floats(-4, 4, allow_nan=False)),
        min_size=1,
        max_size=50,
        unique_by=lambda t: t[0],
    ),
    n_buckets=st.sampled_from([1, 2, 4, 32]),
    n_parts=st.sampled_from([0, 1, 6]),
    inclusive=st.booleans(),
)
def test_bucketed_cumsums_matches_pandas(spark, rows, n_buckets, n_parts, inclusive):
    import pandas as pd
    import pytest as _pt

    from etl_file_sync_spark.operators.rankstats import bucketed_cumsums

    df = _spread(spark.createDataFrame(rows, "k long, w long, f double"), n_parts)
    out = bucketed_cumsums(
        df, "k", ["w", "f"], inclusive=inclusive, n_buckets=n_buckets
    ).collect()
    pdf = pd.DataFrame(rows, columns=["k", "w", "f"]).sort_values("k")
    cw = pdf.w.cumsum() if inclusive else pdf.w.cumsum() - pdf.w
    cf = pdf.f.cumsum() if inclusive else pdf.f.cumsum() - pdf.f
    exp_w = dict(zip(pdf.k, cw))
    exp_f = dict(zip(pdf.k, cf))
    assert len(out) == len(rows)
    for r in out:
        assert r.cum_w == exp_w[r.k]
        assert r.cum_f == _pt.approx(exp_f[r.k], abs=1e-9)
    spark.catalog.clearCache()


@settings(max_examples=10, deadline=None)
@given(
    rows=st.lists(
        st.tuples(st.sampled_from(["a", "b", "c"]), st.integers(-30, 30), st.integers(-9, 9)),
        min_size=1,
        max_size=50,
        unique_by=lambda t: (t[0], t[1]),
    ),
    n_buckets=st.sampled_from([1, 3, 32]),
    n_parts=st.sampled_from([0, 4]),
)
def test_grouped_bucketed_cumsum_matches_pandas(spark, rows, n_buckets, n_parts):
    import pandas as pd

    from etl_file_sync_spark.operators.rankstats import grouped_bucketed_cumsum

    df = _spread(spark.createDataFrame(rows, "g string, k long, w long"), n_parts)
    out = grouped_bucketed_cumsum(
        df, ["g"], "k", "w", out_col="cum", n_buckets=n_buckets
    ).collect()
    pdf = pd.DataFrame(rows, columns=["g", "k", "w"]).sort_values(["g", "k"])
    pdf["cum"] = pdf.groupby("g").w.cumsum()
    exp = {(r.g, r.k): r.cum for r in pdf.itertuples()}
    assert len(out) == len(rows)
    for r in out:
        assert r.cum == exp[(r.g, r.k)]
    spark.catalog.clearCache()


@settings(max_examples=10, deadline=None)
@given(
    rows=st.lists(
        st.tuples(st.integers(-40, 40), st.integers(-99, 99)),
        min_size=1,
        max_size=50,
        unique_by=lambda t: t[0],
    ),
    n_buckets=st.sampled_from([1, 2, 32]),
    n_parts=st.sampled_from([0, 5]),
    inclusive=st.booleans(),
)
def test_bucketed_cummax_matches_pandas(spark, rows, n_buckets, n_parts, inclusive):
    import pandas as pd

    from etl_file_sync_spark.operators.rankstats import bucketed_cummax

    df = _spread(spark.createDataFrame(rows, "k long, v long"), n_parts)
    out = bucketed_cummax(
        df, "k", "v", out_col="m", inclusive=inclusive, n_buckets=n_buckets
    ).collect()
    pdf = pd.DataFrame(rows, columns=["k", "v"]).sort_values("k")
    cm = pdf.v.cummax() if inclusive else pdf.v.cummax().shift(1)
    exp = dict(zip(pdf.k, cm))
    assert len(out) == len(rows)
    for r in out:
        e = exp[r.k]
        assert (r.m is None and pd.isna(e)) or r.m == e
    spark.catalog.clearCache()


@settings(max_examples=10, deadline=None)
@given(
    rows=st.lists(
        st.tuples(st.integers(-20, 20), st.integers(0, 999)),
        min_size=1,
        max_size=50,
        unique_by=lambda t: t,
    ),
    n_buckets=st.sampled_from([1, 3, 32]),
    n_parts=st.sampled_from([0, 5]),
)
def test_bucketed_row_number_matches_sorted_enumeration(spark, rows, n_buckets, n_parts):
    from etl_file_sync_spark.operators.rankstats import bucketed_row_number

    df = _spread(spark.createDataFrame(rows, "k long, tb long"), n_parts)
    out = bucketed_row_number(
        df, "k", tiebreak_cols=["tb"], out_col="rn", n_buckets=n_buckets
    ).collect()
    exp = {kt: i + 1 for i, kt in enumerate(sorted(rows))}
    assert len(out) == len(rows)
    for r in out:
        assert r.rn == exp[(r.k, r.tb)]
    spark.catalog.clearCache()
