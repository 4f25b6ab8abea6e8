"""Round-14 trust-boundary pin for the footer-stats fast path.

The driver-side parquet-footer stats read (snapshot_table._footer_stats)
treats string chunk min/max as exact, which is only true while parquet-mr
DROPS oversized statistics instead of truncating them. If
``parquet.statistics.truncate.length`` is ever set on the session's
Hadoop conf, a truncated bound would be indistinguishable from an exact
one (pyarrow 16 exposes no is_min/max_value_exact), so the fast path
must refuse and the commit must fall back to the exact aggregation.
"""

import threading

import pytest
from pyspark.sql import functions as F

from svdmovie_lens_parallel_apache_spark_spark.sources import snapshot_table as st

TRUNC_KEY = "parquet.statistics.truncate.length"


@pytest.fixture
def trunc_conf(spark):
    hc = spark.sparkContext._jsc.hadoopConfiguration()
    old = hc.get(TRUNC_KEY)
    yield hc
    if old is None:
        hc.unset(TRUNC_KEY)
    else:
        hc.set(TRUNC_KEY, old)


def _docs(spark):
    return spark.createDataFrame(
        [(1, "alpha"), (2, "omega"), (3, "m" * 40)], "id long, s string"
    )


def test_footer_stats_refused_under_truncation_conf(spark, trunc_conf, tmp_path):
    table = str(tmp_path / "t")
    st.write_snapshot(_docs(spark), table, stats_cols=["s"])
    snap = st._load_snapshot(table, 1)
    names = [s["file"] for s in snap["shards"]]
    schema = _docs(spark).schema
    # default conf: fast path proves the bounds and returns them
    got = st._footer_stats(spark, table, names, schema, ["s"])
    assert got is not None
    # any finite truncation length -> the fast path must refuse
    trunc_conf.set(TRUNC_KEY, "64")
    assert st._footer_stats(spark, table, names, schema, ["s"]) is None
    # non-string stats stay on the fast path (truncation only affects
    # binary/string bounds)
    assert st._footer_stats(spark, table, names, schema, ["id"]) is not None


def test_commit_under_truncation_conf_records_exact_stats(
    spark, trunc_conf, tmp_path
):
    trunc_conf.set(TRUNC_KEY, "64")
    table = str(tmp_path / "t")
    st.write_snapshot(_docs(spark), table, stats_cols=["s"])
    snap = st._load_snapshot(table, 1)
    # the fallback aggregation ran and recorded the EXACT bounds
    los, his = [], []
    for s in snap["shards"]:
        lo, hi = s["stats"]["s"]
        if lo is not None:
            los.append(lo)
        if hi is not None:
            his.append(hi)
    exp = _docs(spark).agg(F.min("s"), F.max("s")).collect()[0]
    assert min(los) == exp[0] and max(his) == exp[1]


def test_commit_from_pool_thread_keeps_footer_fast_path(
    spark, tmp_path, monkeypatch
):
    """MV refreshes and pruning probes commit from pool threads, where
    the thread-local active session is unset. The footer read must use
    the committed frame's own session, so those commits keep the fast
    path instead of silently paying the stats aggregation job."""
    got = []
    real = st._footer_stats

    def recording(*args, **kw):
        got.append(real(*args, **kw))
        return got[-1]

    monkeypatch.setattr(st, "_footer_stats", recording)
    table = str(tmp_path / "t")
    docs = _docs(spark)
    errors = []

    def commit():
        try:
            st.write_snapshot(docs, table, stats_cols=["s"])
        except Exception as e:  # surfaced below, not lost in the thread
            errors.append(e)

    t = threading.Thread(target=commit)
    t.start()
    t.join()
    assert not errors, errors
    assert len(got) == 1 and got[0] is not None
    counts, _ = got[0]
    assert sum(counts.values()) == 3
