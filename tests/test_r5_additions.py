"""Round-5 continuation additions: prefix-filtered set-similarity join,
TPC-H Q18 / EXISTS semi-join, SCD Type-2 build, grouped-mergeable HLL.

Oracle value-parity for all five queries is covered by the full-catalog
sweep (tests/test_oracle_full.py); these tests pin the plan shapes and
the algorithmic invariants the sweep cannot see.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_ORACLE, SF_SMOKE


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# ------------------------------------------------------- setsim prefix join
def test_setsim_prefix_equals_naive_jaccard(spark):
    """Prefix filtering is an OPTIMIZATION, not an approximation: its
    output must equal the full shingle self-join pair-for-pair."""
    from data_harvesting_spark.operators.dedup import (
        ngram_jaccard_pairs,
        setsim_prefix_pairs,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    naive = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in ngram_jaccard_pairs(docs, n=3, threshold=0.5).collect()
    }
    prefixed = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in setsim_prefix_pairs(docs, n=3, threshold=0.5).collect()
    }
    assert prefixed == naive and naive  # identical, and non-degenerate


def test_setsim_prefix_filter_cuts_candidates(spark):
    """The point of the prefix: strictly fewer candidate pairs enter
    verification than share ANY shingle (the naive join's key space)."""
    from data_harvesting_spark.operators.dedup import word_shingles

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    sh = word_shingles(docs, 3)
    naive_pairs = (
        sh.alias("a")
        .join(
            sh.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select("a.doc_id", "b.doc_id")
        .distinct()
        .count()
    )
    # re-derive the operator's candidate set (pre-verification)
    from pyspark.sql import Window

    df_dim = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    by_doc = Window.partitionBy("doc_id")
    order = by_doc.orderBy("df", "shingle")
    t = 0.5
    prefix = (
        sh.join(F.broadcast(df_dim), "shingle")
        .select(
            "doc_id",
            "shingle",
            F.row_number().over(order).alias("rn"),
            F.count(F.lit(1)).over(by_doc).alias("sz"),
        )
        .where(
            F.col("rn")
            <= F.col("sz") - F.ceil(F.lit(t) * F.col("sz") - F.lit(1e-9)) + 1
        )
    )
    a = prefix.select(F.col("doc_id").alias("da"), "shingle",
                      F.col("sz").alias("sza"))
    b = prefix.select(F.col("doc_id").alias("db"), "shingle",
                      F.col("sz").alias("szb"))
    cand = (
        a.join(b, "shingle")
        .where(
            (F.col("da") < F.col("db"))
            & (F.col("sza") >= F.lit(t) * F.col("szb") - F.lit(1e-9))
            & (F.col("szb") >= F.lit(t) * F.col("sza") - F.lit(1e-9))
        )
        .select("da", "db")
        .distinct()
        .count()
    )
    assert cand < naive_pairs / 2, (cand, naive_pairs)


def test_setsim_prefix_plan_shape(spark):
    """df dimension broadcast (never a shuffle join against the shingle
    table) and no cartesian/BNLJ anywhere."""
    from data_harvesting_spark.operators.dedup import setsim_prefix_pairs

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    plan = _plan(setsim_prefix_pairs(docs, n=3, threshold=0.5))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


# ------------------------------------------------------- TPC-H Q18 / semi
def test_tpch_q18_plan_shape(spark):
    """HAVING-filtered order set broadcast back into orders; customer dim
    broadcast; top-100 as TakeOrdered, no global sort."""
    from data_harvesting_spark.plans.catalog import spark_queries

    df = spark_queries()["tpch_q18"](spark, SF_ORACLE)
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_orders_priority_semi_plan_and_semantics(spark):
    """EXISTS compiles to a LEFT SEMI join (no join-then-distinct blowup)
    and counts every order at most once regardless of matching lines."""
    from data_harvesting_spark.plans.catalog import spark_queries

    df = spark_queries()["orders_priority_semi"](spark, SF_ORACLE)
    plan = _plan(df)
    assert "LeftSemi" in plan, plan
    total_semi = sum(r.n_orders for r in df.collect())
    n_orders_with_hit = (
        spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet")
        .where(F.col("l_quantity") > 45)
        .select("l_orderkey")
        .distinct()
        .join(
            spark.read.parquet(f"{SF_ORACLE}/orders.parquet"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .count()
    )
    assert total_semi == n_orders_with_hit


# ------------------------------------------------------- SCD Type 2
def test_scd2_semantics_on_fixture(spark):
    """Hand-checkable dimension history: change points, [from, to)
    interval chaining, version numbering, is_current flag."""
    from data_harvesting_spark.plans.catalog import spark_queries
    import pandas as pd

    rows = [
        # user 1: A A B A  -> versions A, B, A
        (1, dt.datetime(2024, 1, 1), 1, "A", 0.0, "{}"),
        (2, dt.datetime(2024, 1, 2), 1, "A", 0.0, "{}"),
        (3, dt.datetime(2024, 1, 3), 1, "B", 0.0, "{}"),
        (4, dt.datetime(2024, 1, 4), 1, "A", 0.0, "{}"),
        # user 2: single state, stays current
        (5, dt.datetime(2024, 1, 1), 2, "X", 0.0, "{}"),
        # user 3: same-timestamp tie broken by event_id
        (7, dt.datetime(2024, 1, 1), 3, "P", 0.0, "{}"),
        (6, dt.datetime(2024, 1, 1), 3, "Q", 0.0, "{}"),
    ]
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value",
                       "props"]
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(pdf).select(
            "event_id", F.col("ts").cast("timestamp_ntz").alias("ts"),
            "user_id", "event_type", "value", "props"
        ).write.parquet(f"{d}/events.parquet")
        out = (
            spark_queries()["scd2_user_state"](spark, d)
            .orderBy("user_id", "version")
            .collect()
        )
    u1 = [r for r in out if r.user_id == 1]
    assert [(r.version, r.state) for r in u1] == [(1, "A"), (2, "B"), (3, "A")]
    # intervals chain: each valid_to == next valid_from; last is open
    assert u1[0].valid_to_us == u1[1].valid_from_us
    assert u1[1].valid_to_us == u1[2].valid_from_us
    assert u1[2].valid_to_us is None and u1[2].is_current
    assert not u1[0].is_current and not u1[1].is_current
    u2 = [r for r in out if r.user_id == 2]
    assert [(r.version, r.state, r.is_current) for r in u2] == [(1, "X", True)]
    # tie at identical ts ordered by event_id: Q (id 6) then P (id 7)
    u3 = [r for r in out if r.user_id == 3]
    assert [(r.version, r.state) for r in u3] == [(1, "Q"), (2, "P")]


def test_scd2_single_exchange_plan(spark):
    """Both windows + the change filter ride ONE user_id exchange."""
    from data_harvesting_spark.plans.catalog import spark_queries

    plan = _plan(spark_queries()["scd2_user_state"](spark, SF_ORACLE))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan, plan


# ------------------------------------------------------- grouped HLL merge
def test_hll_grouped_merge_law(spark):
    """Register mergeability: per-part sketches max-merged == one-shot
    sketch over the union, bit-for-bit, for ANY split of the input."""
    from data_harvesting_spark.operators.sketch import (
        hll_estimate_grouped,
        hll_registers_grouped,
    )

    e = spark.read.parquet(f"{SF_ORACLE}/events.parquet").select(
        F.col("user_id").cast("string").alias("term"),
        (F.col("event_id") % 5).alias("part"),
        F.lit(1).alias("g"),
    )
    one_shot = hll_registers_grouped(e, ["g"], bits=5)
    merged = (
        hll_registers_grouped(e, ["g", "part"], bits=5)
        .groupBy("g", "bucket")
        .agg(F.max("m_j").alias("m_j"))
    )
    a = {(r.bucket, r.m_j) for r in one_shot.collect()}
    b = {(r.bucket, r.m_j) for r in merged.collect()}
    assert a == b and a
    est = hll_estimate_grouped(one_shot, ["g"], bits=5).collect()[0]
    exact = e.select("term").distinct().count()
    assert abs(est.hll_estimate - exact) / exact < 0.5  # raw-range sanity


def test_hll_sliding_users_register_bound(spark):
    """State bound: every sliding window's register table holds at most
    m=32 rows — the O(sketch)-not-O(data) contract."""
    from data_harvesting_spark.plans.catalog import spark_queries

    out = spark_queries()["hll_sliding_users"](spark, SF_ORACLE).collect()
    assert out
    for r in out:
        assert r.registers_used <= 32


# ------------------------------------------------- log2 histogram sketch
def test_log2_histogram_merge_law(spark):
    """Count mergeability: per-part histograms summed == one-shot
    histogram over the union, for any split of the input."""
    from data_harvesting_spark.operators.sketch import log2_histogram_grouped

    e = spark.read.parquet(f"{SF_ORACLE}/events.parquet").select(
        F.floor(F.col("value") * 1000).cast("bigint").alias("v"),
        (F.col("event_id") % 7).alias("part"),
        F.lit(1).alias("g"),
    )
    one_shot = {
        (r.bucket, r.cnt)
        for r in log2_histogram_grouped(e, ["g"]).collect()
    }
    merged = {
        (r.bucket, r.cnt)
        for r in (
            log2_histogram_grouped(e, ["g", "part"])
            .groupBy("g", "bucket")
            .agg(F.sum("cnt").alias("cnt"))
            .collect()
        )
    }
    assert one_shot == merged and one_shot


def test_histogram_quantiles_accuracy_and_bounds(spark):
    """Every estimate lands inside its bucket's value span, and within
    2x of the exact percentile (log2 buckets' worst case)."""
    from data_harvesting_spark.plans.catalog import spark_queries

    rows = spark_queries()["value_quantile_sketch"](spark, SF_ORACLE).collect()
    assert len(rows) == 15  # 5 event types x 3 quantiles
    for r in rows:
        assert r.exact_milli / 2 <= r.est <= r.exact_milli * 2, r


def test_histogram_quantiles_fixture_exact(spark):
    """On a single-bucket-resolvable fixture the interpolation is exact:
    8 values spanning one octave land where rank arithmetic says."""
    from data_harvesting_spark.operators.sketch import (
        histogram_quantiles,
        log2_histogram_grouped,
    )

    vals = [16, 18, 20, 22, 24, 26, 28, 30]  # all bucket 5: [16, 31]
    df = spark.createDataFrame(
        [(1, v) for v in vals], "g int, v long"
    )
    hist = log2_histogram_grouped(df, ["g"])
    assert hist.count() == 1
    out = {r.q: r.est for r in
           histogram_quantiles(hist, ["g"], [0.5, 1.0]).collect()}
    # bucket 5 spans [16, 31]; r(0.5)=4 -> 16 + 15*4/8 = 23.5
    assert out[0.5] == 23.5
    # r(1.0)=8 -> 16 + 15 = 31 (the bucket's upper edge)
    assert out[1.0] == 31.0


# ------------------------------------------------- robust anomaly days
def test_anomaly_robust_z_semantics(spark):
    """A planted 10x spike day is flagged; MAD immunity: the spike does
    not drag the median/MAD enough to unflag itself (the failure mode of
    mean/stddev z-scores); MAD=0 degrades to NULL z, not a crash."""
    import pandas as pd
    import tempfile

    from data_harvesting_spark.plans.catalog import spark_queries

    rows = []
    eid = 0
    for day in range(1, 12):
        # normal days jitter 49-51 (so MAD > 0); day 6 spikes 10x
        v = 500.0 if day == 6 else 49.0 + (day % 3)
        eid += 1
        rows.append((eid, dt.datetime(2024, 1, day), 1, "buy", v, "{}"))
    # a second type with ZERO spread -> MAD = 0
    for day in range(1, 6):
        eid += 1
        rows.append((eid, dt.datetime(2024, 1, day), 2, "flat", 7.0, "{}"))
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value",
                       "props"]
    )
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(pdf).select(
            "event_id", F.col("ts").cast("timestamp_ntz").alias("ts"),
            "user_id", "event_type", "value", "props"
        ).write.parquet(f"{d}/events.parquet")
        out = spark_queries()["events_anomaly_days"](spark, d).collect()
    buy = {r.day: r for r in out if r.event_type == "buy"}
    spike_day = [r for r in buy.values() if r.total_cents == 50000]
    assert len(spike_day) == 1 and spike_day[0].is_anomaly
    normal = [r for r in buy.values() if r.total_cents < 50000]
    assert len(normal) == 10 and all(not r.is_anomaly for r in normal)
    flat = [r for r in out if r.event_type == "flat"]
    assert flat and all(
        r.robust_z is None and not r.is_anomaly for r in flat
    )


# ------------------------------------------------- streaming quantile sketch
@pytest.fixture(scope="module")
def qsketch_batches(tmp_path_factory):
    """Three event micro-batches with values spanning several octaves so
    the cumulative histogram genuinely merges across epochs."""
    import os as _os
    import time as _time

    import pandas as pd

    from tests.test_streaming import write_parquet_us

    base = pd.Timestamp("2026-06-01 00:00:00")

    def ev(eid, typ, val, secs):
        return (eid, base + pd.Timedelta(seconds=secs), 1, typ, val, "{}")

    files = [
        [ev(1, "click", 1.5, 0), ev(2, "click", 40.0, 1),
         ev(3, "buy", 100.0, 2)],
        [ev(4, "click", 3.0, 10), ev(5, "buy", 220.0, 11),
         ev(6, "buy", 0.004, 12)],  # milli-floor -> bucket 3 / v=4
        [ev(7, "click", 500.0, 20), ev(8, "click", 41.0, 21)],
    ]
    d = tmp_path_factory.mktemp("qsketch_src")
    now = _time.time()
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    for i, rows in enumerate(files):
        pdf = pd.DataFrame(rows, columns=cols)
        p = str(d / f"f{i}.parquet")
        write_parquet_us(pdf, p)
        _os.utime(p, (now + i, now + i))
    return str(d)


def _batch_quantile_report(spark, source_dir):
    from data_harvesting_spark.operators.sketch import (
        histogram_quantiles,
        log2_histogram_grouped,
    )

    src = spark.read.parquet(source_dir + "/*.parquet")
    vm = src.select(
        "event_type",
        F.floor(F.col("value") * 1000).cast("bigint").alias("v"),
    )
    return histogram_quantiles(
        log2_histogram_grouped(vm, ["event_type"]), ["event_type"],
        [0.5, 0.9, 0.99],
    )


def test_quantile_sketch_stream_equals_batch(spark, qsketch_batches, tmp_path):
    """The final epoch's cumulative quantile report equals the one-shot
    batch sketch over all rows EXACTLY (cell-wise SUM merge == single
    histogram), and the ledger holds O(types x buckets) rows."""
    import os as _os

    from data_harvesting_spark.streaming.pipeline import (
        drain,
        start_quantile_sketch_stream_job,
    )
    from data_harvesting_spark.streaming.sink import read_epoch_sink

    sink = str(tmp_path / "qsink")
    q = start_quantile_sketch_stream_job(
        spark, qsketch_batches, sink, str(tmp_path / "qckpt"),
        available_now=False,
    )
    drain(q)

    rows = read_epoch_sink(spark, sink).toPandas()
    last = rows[rows["epoch"] == rows["epoch"].max()]
    got = {
        (r.event_type, r.q): (r.n, r.est) for r in last.itertuples()
    }
    want = {
        (r.event_type, r.q): (r.n, r.est)
        for r in _batch_quantile_report(spark, qsketch_batches).collect()
    }
    assert got == want and len(want) == 6  # 2 types x 3 quantiles

    ledger = str(tmp_path / "qsink.qhist")
    epochs = [n for n in _os.listdir(ledger) if n.startswith("_epoch=")]
    assert epochs
    snap = spark.read.parquet(f"{ledger}/{sorted(epochs)[-1]}")
    assert snap.count() <= 2 * 64  # types x max buckets


def test_quantile_sketch_stream_kill_and_resume(
    spark, qsketch_batches, tmp_path
):
    """W7: stop after the first micro-batch, resume from checkpoint —
    the final report equals the uninterrupted run's (frozen-pre-state
    snapshots replay idempotently, sums don't double-count)."""
    import time as _time

    from data_harvesting_spark.streaming.pipeline import (
        drain,
        start_quantile_sketch_stream_job,
        stop,
    )
    from data_harvesting_spark.streaming.sink import read_epoch_sink

    sink = str(tmp_path / "qsink")
    ckpt = str(tmp_path / "qckpt")
    q = start_quantile_sketch_stream_job(
        spark, qsketch_batches, sink, ckpt, available_now=False
    )
    deadline = _time.time() + 120
    while _time.time() < deadline:
        prog = q.recentProgress
        if any((p.get("numInputRows") or 0) > 0 for p in prog):
            break
        _time.sleep(0.3)
    stop(q)

    q2 = start_quantile_sketch_stream_job(
        spark, qsketch_batches, sink, ckpt, available_now=False
    )
    drain(q2)

    rows = read_epoch_sink(spark, sink).toPandas()
    last = rows[rows["epoch"] == rows["epoch"].max()]
    got = {(r.event_type, r.q): (r.n, r.est) for r in last.itertuples()}
    want = {
        (r.event_type, r.q): (r.n, r.est)
        for r in _batch_quantile_report(spark, qsketch_batches).collect()
    }
    assert got == want


# -------------------------------------------- native stream-stream join
@pytest.fixture(scope="module")
def followup_batches(tmp_path_factory):
    """Errors and follow-ups split ACROSS micro-batches: u1's error in
    epoch 0 matches follow-ups arriving in epochs 0, 1 and 2 (the native
    join must buffer the error in state); u2's activity sits outside the
    30-minute window; u3's follow-up PRECEDES its error (no match)."""
    import os as _os
    import time as _time

    import pandas as pd

    from tests.test_streaming import write_parquet_us

    base = pd.Timestamp("2026-06-01 00:00:00")

    def ev(eid, uid, typ, val, secs):
        return (eid, base + pd.Timedelta(seconds=secs), uid, typ, val, "{}")

    files = [
        [ev(1, 1, "error", 0.0, 0), ev(2, 1, "click", 1.0, 60),
         ev(3, 2, "error", 0.0, 0)],
        [ev(4, 1, "view", 2.0, 600), ev(5, 2, "click", 9.0, 3600)],
        [ev(6, 1, "click", 3.0, 1700), ev(7, 3, "click", 5.0, 100),
         ev(8, 3, "error", 0.0, 200)],
    ]
    d = tmp_path_factory.mktemp("followup_src")
    now = _time.time()
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    for i, rows in enumerate(files):
        pdf = pd.DataFrame(rows, columns=cols)
        p = str(d / f"f{i}.parquet")
        write_parquet_us(pdf, p)
        _os.utime(p, (now + i, now + i))
    return str(d)


def _batch_followup_pairs(spark, source_dir):
    from data_harvesting_spark.operators.temporal import range_join

    ev = spark.read.parquet(source_dir + "/*.parquet")
    errors = ev.where(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    return {
        (r.l_event_id, r.r_event_id)
        for r in range_join(
            errors, ev.select("user_id", "ts", "event_id", "value"),
            on=["user_id"], lower_us=0, upper_us=30 * 60 * 1_000_000,
        )
        .select(
            F.col("l_event_id"), F.col("r_event_id"),
        )
        .collect()
    }


def test_followups_stream_equals_batch_range_join(
    spark, followup_batches, tmp_path
):
    """The native watermarked stream-stream join emits exactly the batch
    range_join's pair set — including the error-in-epoch-0 →
    follow-up-in-epoch-2 pair that forces cross-epoch JVM state."""
    from data_harvesting_spark.streaming.pipeline import (
        drain,
        start_followups_stream_job,
    )
    from data_harvesting_spark.streaming.sink import read_epoch_sink

    sink = str(tmp_path / "fsink")
    q = start_followups_stream_job(
        spark, followup_batches, sink, str(tmp_path / "fckpt"),
        available_now=False,
    )
    drain(q)
    got = {
        (r.l_event_id, r.r_event_id)
        for r in read_epoch_sink(spark, sink).collect()
    }
    want = _batch_followup_pairs(spark, followup_batches)
    assert got == want
    # the fixture's design points actually hold
    assert (1, 2) in want and (1, 4) in want and (1, 6) in want
    assert (3, 5) not in want          # outside the 30-min window
    assert (8, 7) not in want          # follow-up precedes the error


def test_followups_stream_kill_and_resume(spark, followup_batches, tmp_path):
    """W7 on the native join: stop after the first micro-batch, resume
    from checkpoint — identical final pair set, no duplicates (the JVM
    join state restores from the checkpoint)."""
    import time as _time

    from data_harvesting_spark.streaming.pipeline import (
        drain,
        start_followups_stream_job,
        stop,
    )
    from data_harvesting_spark.streaming.sink import read_epoch_sink

    sink = str(tmp_path / "fsink")
    ckpt = str(tmp_path / "fckpt")
    q = start_followups_stream_job(
        spark, followup_batches, sink, ckpt, available_now=False
    )
    deadline = _time.time() + 120
    while _time.time() < deadline:
        if any((p.get("numInputRows") or 0) > 0 for p in q.recentProgress):
            break
        _time.sleep(0.3)
    stop(q)

    q2 = start_followups_stream_job(
        spark, followup_batches, sink, ckpt, available_now=False
    )
    drain(q2)
    rows = read_epoch_sink(spark, sink).collect()
    pairs = [(r.l_event_id, r.r_event_id) for r in rows]
    assert len(pairs) == len(set(pairs))  # exactly-once: no dup pairs
    assert set(pairs) == _batch_followup_pairs(spark, followup_batches)


# ------------------------------------------------- streaming SCD2
@pytest.fixture(scope="module")
def scd2_batches(tmp_path_factory):
    """Event micro-batches with OUT-OF-ORDER arrivals inside the
    watermark: u1's B-state event (ts 100) arrives an epoch after its
    later A-state event (ts 200) — finalization must still fold them in
    event-time order (A, B at 100, A at 200 -> versions A/B/A only if
    order were arrival; correct history is A(0) -> B(100) -> A(200));
    u2 changes state at an identical-ts tie broken by event_id; u3 never
    changes (one open version, nothing emitted)."""
    import os as _os
    import time as _time

    import pandas as pd

    from tests.test_streaming import write_parquet_us

    base = pd.Timestamp("2026-06-01 00:00:00")

    def ev(eid, uid, typ, secs):
        return (eid, base + pd.Timedelta(seconds=secs), uid, typ, 1.0, "{}")

    files = [
        [ev(1, 1, "A", 0), ev(4, 1, "A", 200), ev(5, 2, "X", 0),
         ev(9, 3, "Z", 0)],
        # u1's B arrives LATE in arrival order but within the watermark
        [ev(2, 1, "B", 100), ev(7, 2, "Y", 50), ev(6, 2, "X", 50)],
        # push the watermark far forward so everything above finalizes
        [ev(10, 3, "Z", 7200), ev(11, 1, "A", 7200)],
    ]
    d = tmp_path_factory.mktemp("scd2_src")
    now = _time.time()
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    for i, rows in enumerate(files):
        pdf = pd.DataFrame(rows, columns=cols)
        p = str(d / f"f{i}.parquet")
        write_parquet_us(pdf, p)
        _os.utime(p, (now + i, now + i))
    return str(d)


def _batch_scd2_closed(spark, source_dir):
    import glob
    import shutil
    import tempfile

    from data_harvesting_spark.plans.catalog import spark_queries

    with tempfile.TemporaryDirectory() as d:
        _os_dir = f"{d}/events.parquet"
        import os as _os

        _os.makedirs(_os_dir)
        for f in glob.glob(source_dir + "/*.parquet"):
            shutil.copy(f, _os_dir)
        out = spark_queries()["scd2_user_state"](spark, d).collect()
    return {
        (r.user_id, r.version, r.state, r.valid_from_us, r.valid_to_us)
        for r in out
        if not r.is_current
    }


def test_scd2_stream_equals_batch_closed_versions(
    spark, scd2_batches, tmp_path
):
    """Every closed version the batch query derives is emitted by the
    stream with identical (version, state, from, to) — including the
    out-of-order fold and the identical-ts tie."""
    from data_harvesting_spark.streaming.pipeline import (
        drain,
        start_scd2_stream_job,
    )
    from data_harvesting_spark.streaming.sink import read_epoch_sink

    sink = str(tmp_path / "ssink")
    q = start_scd2_stream_job(
        spark, scd2_batches, sink, str(tmp_path / "sckpt"),
        available_now=False,
    )
    drain(q)
    got = {
        (r.user_id, r.version, r.state, r.valid_from_us, r.valid_to_us)
        for r in read_epoch_sink(spark, sink).collect()
    }
    want = _batch_scd2_closed(spark, scd2_batches)
    assert got == want
    # design points: u1's history folded in EVENT-time order
    u1 = sorted((v, s) for (u, v, s, _f, _t) in want if u == 1)
    assert u1 == [(1, "A"), (2, "B")]  # A closed by B, B closed by A
    # u2's tie broken by event_id: X(5), X(6) collapse, Y(7) closes X
    u2 = [(v, s) for (u, v, s, _f, _t) in want if u == 2]
    assert u2 == [(1, "X")]
    # u3 never changed: no closed rows
    assert not [1 for (u, *_rest) in want if u == 3]


def test_scd2_stream_kill_and_resume(spark, scd2_batches, tmp_path):
    """W7: stop after the first micro-batch, resume from checkpoint —
    same closed-version set, no duplicates."""
    import time as _time

    from data_harvesting_spark.streaming.pipeline import (
        drain,
        start_scd2_stream_job,
        stop,
    )
    from data_harvesting_spark.streaming.sink import read_epoch_sink

    sink = str(tmp_path / "ssink")
    ckpt = str(tmp_path / "sckpt")
    q = start_scd2_stream_job(
        spark, scd2_batches, sink, ckpt, available_now=False
    )
    deadline = _time.time() + 120
    while _time.time() < deadline:
        if any((p.get("numInputRows") or 0) > 0 for p in q.recentProgress):
            break
        _time.sleep(0.3)
    stop(q)

    q2 = start_scd2_stream_job(
        spark, scd2_batches, sink, ckpt, available_now=False
    )
    drain(q2)
    rows = read_epoch_sink(spark, sink).collect()
    keys = [(r.user_id, r.version) for r in rows]
    assert len(keys) == len(set(keys))
    got = {
        (r.user_id, r.version, r.state, r.valid_from_us, r.valid_to_us)
        for r in rows
    }
    assert got == _batch_scd2_closed(spark, scd2_batches)


def test_drain_returns_when_resumed_query_finds_no_input(
    spark, scd2_batches, tmp_path
):
    """A query resumed after its first run consumed every file runs no
    batch at all; drain() must still see it idle and return, not wait out
    its deadline. The resumed run writes nothing more."""
    import time as _time

    from data_harvesting_spark.streaming.pipeline import (
        drain,
        start_scd2_stream_job,
    )
    from data_harvesting_spark.streaming.sink import read_epoch_sink

    sink = str(tmp_path / "ssink")
    ckpt = str(tmp_path / "sckpt")
    drain(start_scd2_stream_job(
        spark, scd2_batches, sink, ckpt, available_now=False
    ))
    first = sorted(read_epoch_sink(spark, sink).collect())

    q = start_scd2_stream_job(
        spark, scd2_batches, sink, ckpt, available_now=False
    )
    idle_seconds = 3.0
    t0 = _time.time()
    drain(q, idle_seconds=idle_seconds)
    assert _time.time() - t0 < idle_seconds + 10
    assert not [p for p in q.recentProgress if p["numInputRows"]]
    assert sorted(read_epoch_sink(spark, sink).collect()) == first


def test_stop_swallows_only_its_own_interrupt():
    """stop() treats a query that ended with the InterruptedException its
    own stop raised as stopped cleanly; any other failure, a failure of a
    query that had already ended, and a query that does not end re-raise.
    Spark-free: stand-in query and Java throwable chain."""
    from pyspark.errors import StreamingQueryException

    from data_harvesting_spark.streaming.pipeline import stop

    class Throwable:
        def __init__(self, name, cause=None):
            self.name, self.cause = name, cause

        def getCause(self):
            return self.cause

        def getClass(self):
            return self

        def getName(self):
            return self.name

    def failure(root):
        e = StreamingQueryException.__new__(StreamingQueryException)
        e._origin = Throwable(
            "org.apache.spark.sql.streaming.StreamingQueryException",
            Throwable("org.apache.spark.SparkException", Throwable(root)),
        )
        return e

    class Query:
        id = "q"

        def __init__(self, error=None, active=True, ends=True):
            self.isActive, self.error, self.ends = active, error, ends
            self.stopped = False

        def stop(self):
            self.stopped = True

        def awaitTermination(self, timeout=None):
            if self.error is not None:
                raise self.error
            return self.ends if timeout is not None else None

    q = Query()
    stop(q)
    assert q.stopped
    stop(Query(), timeout=None)
    stop(Query(failure("java.lang.InterruptedException")))
    for q in (
        Query(failure("java.io.IOException")),
        Query(failure("java.lang.InterruptedException"), active=False),
    ):
        with pytest.raises(StreamingQueryException):
            stop(q)
    with pytest.raises(TimeoutError):
        stop(Query(ends=False))


# ------------------------------------------------- Z-order layout
def test_zorder_prunes_both_dimensions(spark):
    """The layout claim, measured: cut the z-sorted table into 256-row
    blocks and count blocks a min-max reader must fetch. For a TIME
    filter, Z-order must beat the user-sorted layout; for a USER filter,
    it must beat the time-sorted layout — one layout serving both access
    paths is the entire point."""
    from data_harvesting_spark.operators.layout import blocks_hit, zorder_key

    e = spark.read.parquet(f"{SF_ORACLE}/events.parquet")
    dims = e.select(
        "event_id",
        F.col("user_id").bitwiseAND(F.lit(65535)).alias("ux"),
        F.floor(F.unix_timestamp(F.col("ts").cast("timestamp")) / 3600)
        .cast("bigint")
        .bitwiseAND(F.lit(65535))
        .alias("tx"),
    ).withColumn("zkey", zorder_key(F.col("ux"), F.col("tx")))

    lo_t = dims.agg(F.min("tx")).collect()[0][0]
    time_pred = F.col("tx").between(lo_t + 100, lo_t + 110)
    user_pred = F.col("ux").between(10, 15)

    z_time, n_blocks = blocks_hit(dims, "zkey", time_pred)
    u_time, _ = blocks_hit(dims, "ux", time_pred)
    z_user, _ = blocks_hit(dims, "zkey", user_pred)
    t_user, _ = blocks_hit(dims, "tx", user_pred)

    # each single-column layout is blind to the OTHER dimension's filter
    assert z_time < u_time, (z_time, u_time, n_blocks)
    assert z_user < t_user, (z_user, t_user, n_blocks)
    # and the meter itself is sane: nothing exceeds the block count
    assert max(z_time, u_time, z_user, t_user) <= n_blocks


def test_zorder_key_locality_property(spark):
    """Morton invariant on a hand grid: keys of a 2^k-aligned square are
    a CONTIGUOUS range (the square [0,3]x[0,3] occupies exactly keys
    0..15), which is why min-max stats prune boxes."""
    from data_harvesting_spark.operators.layout import zorder_key

    grid = spark.range(64).select(
        (F.col("id") % 8).alias("x"), (F.col("id") / 8).cast("long").alias("y")
    )
    keyed = grid.select(
        "x", "y", zorder_key(F.col("x"), F.col("y"), bits=3).alias("z")
    )
    inside = keyed.where((F.col("x") <= 3) & (F.col("y") <= 3))
    zs = sorted(r.z for r in inside.collect())
    assert zs == list(range(16))
    # and all 64 keys are a permutation of 0..63 (bijectivity)
    all_z = sorted(r.z for r in keyed.collect())
    assert all_z == list(range(64))


# ------------------------------------------------- TPC-H Q5 / Q17
def test_tpch_q5_plan_shape(spark):
    """Six-table join with every dim broadcast: no SortMergeJoin, no
    cartesian, and exactly one exchange (the final nation agg)."""
    from data_harvesting_spark.plans.catalog import spark_queries

    plan = _plan(spark_queries()["tpch_q5"](spark, SF_ORACLE))
    assert plan.count("BroadcastHashJoin") >= 4, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_tpch_q17_decorrelation_semantics(spark):
    """The decorrelated join-back equals per-part brute force: every
    surviving line sits strictly below 0.2x its OWN part's mean."""
    from data_harvesting_spark.plans.catalog import spark_queries

    li = spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet")
    p = spark.read.parquet(f"{SF_ORACLE}/part.parquet")
    row = spark_queries()["tpch_q17"](spark, SF_ORACLE).collect()[0]
    lim = {
        r.l_partkey: 0.2 * r.m
        for r in li.groupBy("l_partkey").agg(F.avg("l_quantity").alias("m"))
        .collect()
    }
    brand = {
        r.p_partkey
        for r in p.where(F.col("p_brand") == "Brand#4").collect()
    }
    brute = [
        r
        for r in li.select("l_partkey", "l_quantity", "l_extendedprice")
        .collect()
        if r.l_partkey in brand and r.l_quantity < lim[r.l_partkey]
    ]
    assert row.n_lines == len(brute)
    assert row.total_cents == sum(round(r.l_extendedprice * 100) for r in brute)


# ------------------------------------------------- sliding HLL stream
@pytest.fixture(scope="module")
def hllwin_batches(tmp_path_factory):
    """Users spread over 4 days + a far-future sentinel that drives the
    watermark past every real window so they all close."""
    import os as _os
    import time as _time

    import pandas as pd

    from tests.test_streaming import write_parquet_us

    base = pd.Timestamp("2026-06-01 00:00:00")

    def ev(eid, uid, day, hour=1):
        return (
            eid, base + pd.Timedelta(days=day, hours=hour), uid, "click",
            1.0, "{}",
        )

    files = [
        [ev(1, 10, 0), ev(2, 11, 0), ev(3, 10, 1)],
        [ev(4, 12, 1), ev(5, 13, 2), ev(6, 10, 2)],
        [ev(7, 14, 3), ev(8, 11, 3),
         # sentinel: day 30 pushes the watermark (1 day delay) past
         # every window that starts on days -6 .. 3
         ev(9, 99, 30)],
    ]
    d = tmp_path_factory.mktemp("hllwin_src")
    now = _time.time()
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    for i, rows in enumerate(files):
        pdf = pd.DataFrame(rows, columns=cols)
        p = str(d / f"f{i}.parquet")
        write_parquet_us(pdf, p)
        _os.utime(p, (now + i, now + i))
    return str(d)


def _batch_hll_windows(spark, source_dir):
    """The hll_sliding_users math over all rows: day registers merged
    into 7-day windows (window_start_day keyed)."""
    from data_harvesting_spark.operators.sketch import (
        hll_estimate_grouped,
        hll_registers_grouped,
    )

    ev = spark.read.parquet(source_dir + "/*.parquet")
    items = ev.select(
        F.floor(F.unix_timestamp(F.col("ts").cast("timestamp")) / 86400)
        .cast("bigint")
        .alias("day"),
        F.col("user_id").cast("string").alias("term"),
    )
    win = (
        hll_registers_grouped(items, ["day"], bits=5)
        .select(
            "day", "bucket", "m_j",
            F.explode(F.sequence(F.lit(0), F.lit(6))).alias("i"),
        )
        .select(
            (F.col("day") - F.col("i")).alias("window_start_day"),
            "bucket", "m_j",
        )
        .groupBy("window_start_day", "bucket")
        .agg(F.max("m_j").alias("m_j"))
    )
    return {
        (r.window_start_day, r.registers_used, r.s_scaled, r.hll_estimate)
        for r in hll_estimate_grouped(
            win, ["window_start_day"], bits=5
        ).collect()
    }


def test_sliding_hll_stream_equals_batch_windows(
    spark, hllwin_batches, tmp_path
):
    """Every CLOSED window's streamed estimate equals the batch sliding
    HLL bit-for-bit; exactly the windows the watermark closed are
    emitted (the sentinel's own windows stay open)."""
    from data_harvesting_spark.streaming.pipeline import (
        drain,
        start_sliding_hll_stream_job,
    )
    from data_harvesting_spark.streaming.sink import read_epoch_sink

    sink = str(tmp_path / "hsink")
    q = start_sliding_hll_stream_job(
        spark, hllwin_batches, sink, str(tmp_path / "hckpt"),
        available_now=False,
    )
    drain(q)
    got = {
        (r.window_start_day, r.registers_used, r.s_scaled, r.hll_users)
        for r in read_epoch_sink(spark, sink).collect()
    }
    want_all = _batch_hll_windows(spark, hllwin_batches)
    # closed = window end <= watermark. Sentinel sits at base+30d+1h with
    # a 1-day delay -> wm ~ base+29d; every real window (starts up to
    # base_day+3) closes, every sentinel-only window (starts >=
    # base_day+24) stays open.
    import pandas as pd

    base_day = pd.Timestamp("2026-06-01").value // (86400 * 10**9)
    closed_starts = {w[0] for w in want_all if w[0] <= base_day + 3}
    want = {w for w in want_all if w[0] in closed_starts}
    assert {g[0] for g in got} == closed_starts
    assert got == want and got  # bit-identical estimates


def test_sliding_hll_stream_kill_and_resume(spark, hllwin_batches, tmp_path):
    """W7 with native windowed state: stop mid-input, resume — the JVM
    window state restores and the final emitted window set matches the
    uninterrupted run with no duplicate windows."""
    import time as _time

    from data_harvesting_spark.streaming.pipeline import (
        drain,
        start_sliding_hll_stream_job,
        stop,
    )
    from data_harvesting_spark.streaming.sink import read_epoch_sink

    sink = str(tmp_path / "hsink")
    ckpt = str(tmp_path / "hckpt")
    q = start_sliding_hll_stream_job(
        spark, hllwin_batches, sink, ckpt, available_now=False
    )
    deadline = _time.time() + 120
    while _time.time() < deadline:
        if any((p.get("numInputRows") or 0) > 0 for p in q.recentProgress):
            break
        _time.sleep(0.3)
    stop(q)

    q2 = start_sliding_hll_stream_job(
        spark, hllwin_batches, sink, ckpt, available_now=False
    )
    drain(q2)
    rows = read_epoch_sink(spark, sink).collect()
    starts = [r.window_start_day for r in rows]
    assert len(starts) == len(set(starts))  # each window exactly once
    got = {
        (r.window_start_day, r.registers_used, r.s_scaled, r.hll_users)
        for r in rows
    }
    import pandas as pd

    base_day = pd.Timestamp("2026-06-01").value // (86400 * 10**9)
    want_all = _batch_hll_windows(spark, hllwin_batches)
    assert got == {w for w in want_all if w[0] <= base_day + 3}


def test_semi_anti_partition_orders(spark):
    """semi + anti with the same predicate partition the orders table:
    per-priority counts sum to the full table, and the plan is a real
    LeftAnti (no join-then-null-filter)."""
    from data_harvesting_spark.plans.catalog import spark_queries

    anti_df = spark_queries()["orders_priority_anti"](spark, SF_ORACLE)
    assert "LeftAnti" in _plan(anti_df), _plan(anti_df)
    semi = {
        r.o_orderpriority: r.n_orders
        for r in spark_queries()["orders_priority_semi"](
            spark, SF_ORACLE
        ).collect()
    }
    anti = {r.o_orderpriority: r.n_orders for r in anti_df.collect()}
    full = {
        r.o_orderpriority: r.n
        for r in spark.read.parquet(f"{SF_ORACLE}/orders.parquet")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for k, n in full.items():
        assert semi.get(k, 0) + anti.get(k, 0) == n


# ------------------------------------------------- CCNet tiering
def test_ccnet_tiers_semantics(spark):
    """Terciles are per-language, sized by the ntile contract (first
    n mod 3 buckets get the extra row), and ordered: every head doc
    scores <= every middle doc <= every tail doc within its language."""
    from data_harvesting_spark.plans.catalog import spark_queries

    rows = spark_queries()["ccnet_tiers"](spark, SF_ORACLE).collect()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r)
    assert len(by_lang) >= 2
    for lang, rs in by_lang.items():
        n = len(rs)
        sizes = {"head": 0, "middle": 0, "tail": 0}
        for r in rs:
            sizes[r.tier] += 1
        base = n // 3
        assert sorted(sizes.values()) in (
            [base, base, base],
            [base, base, base + 1],
            [base, base + 1, base + 1],
        ), (lang, sizes)
        hi = {"head": 0, "middle": 1, "tail": 2}
        ordered = sorted(rs, key=lambda r: (r.lm_score, r.doc_id))
        tiers = [hi[r.tier] for r in ordered]
        assert tiers == sorted(tiers), lang  # monotone along the score


# ----------------------------------------------------- triangle counting
def test_triangle_counts_matches_bruteforce(spark):
    """Degree-oriented counting equals the itertools brute force on a
    graph with a clique (every K4 node is in 3 triangles), a shared-edge
    triangle pair, a chain (no triangles), and an isolated edge."""
    import itertools

    from data_harvesting_spark.operators.graph import triangle_counts

    edges = [
        # K4 on 1-4
        (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
        # two triangles sharing edge (10, 11)
        (10, 11), (10, 12), (11, 12), (10, 13), (11, 13),
        # chain 20-21-22 (open wedge, no triangle)
        (20, 21), (21, 22),
        # isolated edge
        (30, 31),
    ]
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {
        r.doc_id: r.n_triangles
        for r in triangle_counts(df).collect()
    }
    adj = set(edges)
    nodes = sorted({n for e in edges for n in e})
    want = {}
    for x, y, z in itertools.combinations(nodes, 3):
        if (x, y) in adj and (y, z) in adj and (x, z) in adj:
            for n in (x, y, z):
                want[n] = want.get(n, 0) + 1
    assert got == want
    assert got[1] == 3 and got[10] == 2 and got[12] == 1
    assert 20 not in got and 30 not in got


def test_triangle_plan_never_bnlj(spark):
    """The orientation keeps every join an equi-join: no nested-loop or
    cartesian stage anywhere in the physical plan."""
    from data_harvesting_spark.plans.catalog import spark_queries

    plan = _plan(spark_queries()["neardup_triangles"](spark, SF_ORACLE))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_cluster_rep_is_longest_member(spark):
    """Every emitted representative belongs to its component and has the
    component's max n_chars; sizes sum to the doc count."""
    from data_harvesting_spark.plans.catalog import spark_queries

    reps = spark_queries()["dedup_cluster_rep"](spark, SF_SMOKE).toPandas()
    comp = (
        spark_queries()["dedup_components"](spark, SF_SMOKE)
        .toPandas()
        .set_index("doc_id")["component"]
    )
    docs = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select("doc_id", "n_chars")
        .toPandas()
        .set_index("doc_id")["n_chars"]
    )
    assert reps["n_members"].sum() == len(comp)
    for r in reps.itertuples():
        assert comp[r.rep_doc_id] == r.component
        assert docs[r.rep_doc_id] == r.rep_n_chars
        members = comp[comp == r.component].index
        assert docs[members].max() == r.rep_n_chars
        # keep-longest, ties to the smaller doc_id
        best = min(m for m in members if docs[m] == r.rep_n_chars)
        assert r.rep_doc_id == best


def test_event_runs_single_exchange(spark):
    """Change flag, run ids, and the per-run aggregate share ONE
    user_id exchange; no join anywhere."""
    from data_harvesting_spark.plans.catalog import spark_queries

    plan = _plan(spark_queries()["event_runs"](spark, SF_ORACLE))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan, plan


def test_runs_encode_semantics(spark):
    """Runs collapse consecutive equal values only; ties at equal ts
    order by event_id; null values form their own runs (null-safe lag)."""
    import pandas as pd

    from data_harvesting_spark.generator import write_parquet_us
    from data_harvesting_spark.operators.temporal import runs_encode

    base = pd.Timestamp("2026-06-01")
    rows = pd.DataFrame(
        {
            "user_id": [1] * 7 + [2] * 2,
            "event_id": [1, 2, 3, 4, 5, 6, 7, 10, 11],
            "event_type": ["a", "a", "b", "a", "a", "a", None, None, None],
            "ts": [base + pd.Timedelta(seconds=s)
                   for s in (0, 1, 2, 3, 3, 4, 5, 0, 1)],
        }
    )
    df = spark.createDataFrame(rows)
    got = {
        (r.user_id, r.run_value, r.run_len, r.start_us, r.end_us)
        for r in runs_encode(
            df, ["user_id"], ["ts", "event_id"], "event_type"
        ).collect()
    }
    us = lambda s: int((base + pd.Timedelta(seconds=s)).value // 1000)
    assert got == {
        (1, "a", 2, us(0), us(1)),
        (1, "b", 1, us(2), us(2)),
        (1, "a", 3, us(3), us(4)),   # equal-ts tie inside the run
        (1, None, 1, us(5), us(5)),  # null run (null-safe lag)
        (2, None, 2, us(0), us(1)),
    }
    assert len(got) == 5


# --------------------------------------------------------------- TPC-H Q13
def test_tpch_q13_agg_before_outer_join(spark):
    """The plan aggregates orders per custkey BEFORE the outer join (no
    1:N join-then-count blowup): the HashAggregate on o_custkey sits
    below the join, and the zero-order customers survive with c_count=0
    (brute-force checked)."""
    from data_harvesting_spark.plans.catalog import spark_queries

    df = spark_queries()["tpch_q13"](spark, SF_ORACLE)
    plan = _plan(df)
    # join inputs: one side is the customer scan, the other is already
    # aggregated — the o_custkey hash agg appears below a join node
    assert "Join" in plan, plan
    assert plan.index("HashAggregate") < len(plan), plan

    c = spark.read.parquet(f"{SF_ORACLE}/customer.parquet")
    o = spark.read.parquet(f"{SF_ORACLE}/orders.parquet")
    per_key = {
        r.o_custkey: r.n
        for r in o.where(F.col("o_orderpriority") != "1-URGENT")
        .groupBy("o_custkey").agg(F.count("*").alias("n")).collect()
    }
    brute: dict[int, int] = {}
    for r in c.select("c_custkey").collect():
        k = per_key.get(r.c_custkey, 0)
        brute[k] = brute.get(k, 0) + 1
    got = {r.c_count: r.custdist for r in df.collect()}
    assert got == brute
    assert 0 in got  # zero-order customers kept by the outer join


# -------------------------------------------------------- key-skew report
def test_key_skew_report_shape_and_takeordered(spark):
    """Top-10 hottest keys by exact count; the limit runs as TakeOrdered
    (per-partition heap), never a global Sort; shares sum below 1 and
    x_mean is count/mean."""
    from data_harvesting_spark.plans.catalog import spark_queries

    df = spark_queries()["key_skew_report"](spark, SF_ORACLE)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan, plan

    rows = df.collect()
    assert len(rows) == 10
    counts = [r.n_events for r in rows]
    assert counts == sorted(counts, reverse=True)
    ev = spark.read.parquet(f"{SF_ORACLE}/events.parquet")
    total = ev.count()
    n_keys = ev.select("user_id").distinct().count()
    top = rows[0]
    assert top.share == round(top.n_events / total, 6)
    assert top.x_mean == round(top.n_events * n_keys / total, 4)


# ------------------------------------------------------ inverted postings
def test_inverted_postings_segment_semantics(spark):
    """Segment 0 holds the <=32 lowest-doc_id postings in doc_id order
    while df/cf stay full-corpus exact; no window/global sort in the
    plan (the segment is an in-row slice after the per-term agg)."""
    from data_harvesting_spark.plans.catalog import spark_queries

    df = spark_queries()["inverted_postings"](spark, SF_ORACLE)
    plan = _plan(df)
    assert "Window" not in plan, plan

    rows = df.collect()
    assert rows
    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    words = docs.select(
        "doc_id",
        F.explode(F.split(F.lower("text"), "[^a-z0-9]+")).alias("term"),
    ).where(F.col("term") != "")
    term = rows[0].term
    brute = sorted(
        (r.doc_id, r.tf)
        for r in words.where(F.col("term") == term)
        .groupBy("doc_id").agg(F.count("*").alias("tf")).collect()
    )
    row = next(r for r in rows if r.term == term)
    assert row.df == len(brute)
    assert row.cf == sum(tf for _, tf in brute)
    want = ",".join(f"{d}:{tf}" for d, tf in brute[:32])
    assert row.postings == want
    # every emitted segment is bounded at 32 entries
    assert all(len(r.postings.split(",")) <= 32 for r in rows)


# ---------------------------------------------------------------- TPC-H Q21
def test_tpch_q21_single_fact_exchange_and_brute(spark):
    """The quantifier pair (EXISTS other supplier / NOT EXISTS other
    late supplier) runs as ONE per-order aggregate — no lineitem
    self-join appears in the plan (exactly one scan of lineitem), the
    supplier join broadcasts, the top-10 is TakeOrdered — and the
    result equals the brute-force per-order recomputation."""
    from data_harvesting_spark.plans.catalog import spark_queries

    df = spark_queries()["tpch_q21"](spark, SF_ORACLE)
    plan = _plan(df)
    assert plan.count("lineitem.parquet") == 1, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan

    li = spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet")
    o = spark.read.parquet(f"{SF_ORACLE}/orders.parquet")
    s = spark.read.parquet(f"{SF_ORACLE}/supplier.parquet")
    odate = {
        r.o_orderkey: r.o_orderdate
        for r in o.where(F.col("o_orderstatus") == "F").collect()
    }
    sname = {r.s_suppkey: r.s_name for r in s.collect()}
    per_order: dict[int, tuple[set, set]] = {}
    for r in li.collect():
        if r.l_orderkey not in odate:
            continue
        supp, late = per_order.setdefault(r.l_orderkey, (set(), set()))
        supp.add(r.l_suppkey)
        if (r.l_shipdate - odate[r.l_orderkey]).days > 60:
            late.add(r.l_suppkey)
    waits: dict[str, int] = {}
    for supp, late in per_order.values():
        if len(supp) >= 2 and len(late) == 1:
            name = sname[next(iter(late))]
            waits[name] = waits.get(name, 0) + 1
    brute = sorted(waits.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    got = [(r.s_name, r.numwait) for r in df.collect()]
    assert got == brute


# ---------------------------------------------------------------- TPC-H Q22
def test_tpch_q22_anti_join_and_brute(spark):
    """The NOT EXISTS runs as a LEFT ANTI join against the DISTINCT
    urgent custkeys (priority filter pushed below the distinct, which
    sits below the join); the scalar average arrives by 1-row
    broadcast; the histogram equals brute force."""
    from data_harvesting_spark.plans.catalog import spark_queries

    df = spark_queries()["tpch_q22"](spark, SF_ORACLE)
    plan = _plan(df)
    assert "LeftAnti" in plan, plan

    c = spark.read.parquet(f"{SF_ORACLE}/customer.parquet")
    o = spark.read.parquet(f"{SF_ORACLE}/orders.parquet")
    nk = {1, 3, 5, 7, 9, 11, 13, 15, 17, 19}
    cust = [r for r in c.collect() if r.c_nationkey in nk]
    pos = [r.c_acctbal for r in cust if r.c_acctbal > 0.0]
    ab = sum(pos) / len(pos)
    urgent = {
        r.o_custkey
        for r in o.where(F.col("o_orderpriority") == "1-URGENT").collect()
    }
    brute: dict[int, tuple[int, float]] = {}
    for r in cust:
        if r.c_acctbal > ab and r.c_custkey not in urgent:
            n, t = brute.get(r.c_nationkey, (0, 0.0))
            brute[r.c_nationkey] = (n + 1, t + r.c_acctbal)
    got = {r.c_nationkey: (r.numcust, r.totacctbal) for r in df.collect()}
    assert set(got) == set(brute)
    for k, (n, t) in brute.items():
        assert got[k][0] == n
        assert abs(got[k][1] - round(t, 2)) < 0.05


# ------------------------------------------------------------ DQ profiling
def test_dq_profile_single_pass(spark):
    """Every metric rides ONE aggregate pass: a single events scan in
    the plan, no Window, no join; the long layout is an in-row stack."""
    from data_harvesting_spark.plans.catalog import spark_queries

    df = spark_queries()["dq_profile"](spark, SF_ORACLE)
    plan = _plan(df)
    assert plan.count("events.parquet") == 1, plan
    assert "Window" not in plan and "Join" not in plan, plan

    got = {(r.column_name, r.metric): r.value for r in df.collect()}
    ev = spark.read.parquet(f"{SF_ORACLE}/events.parquet")
    assert got[("_table", "n_rows")] == float(ev.count())
    assert got[("user_id", "n_distinct")] == float(
        ev.select("user_id").distinct().count()
    )
    assert got[("event_id", "n_nulls")] == 0.0


def test_dq_constraints_flag_dirty_data(spark, tmp_path):
    """On the clean fixture every rule passes; on a deliberately dirty
    table (duplicate event_id, null user_id, negative value, unknown
    event_type) exactly the right rules fail with the right ratios."""
    from data_harvesting_spark.plans.catalog import spark_queries

    q = spark_queries()["dq_constraints"]
    clean = q(spark, SF_ORACLE).collect()
    assert all(r.passed for r in clean), clean

    ev = spark.read.parquet(f"{SF_ORACLE}/events.parquet").limit(8)
    dirty = ev.unionByName(
        ev.limit(1).select(  # duplicate event_id, bad everything else
            "event_id",
            "ts",
            F.lit(None).cast("bigint").alias("user_id"),
            F.lit("mystery").alias("event_type"),
            F.lit(-5.0).alias("value"),
            "props",
        )
    )
    dirty.write.parquet(str(tmp_path / "events.parquet"))
    got = {r.rule: r for r in q(spark, str(tmp_path)).collect()}
    assert not got["event_id is unique"].passed
    assert got["event_id is unique"].actual == round(8 / 9, 6)
    assert not got["user_id is complete"].passed
    assert got["user_id is complete"].actual == round(8 / 9, 6)
    assert not got["value is non-negative"].passed
    assert not got["event_type in domain"].passed
    assert got["event_id is complete"].passed  # still complete


# -------------------------------------------------------------- salted join
def test_salted_join_parity_and_plan(spark):
    """salted_join == plain join row-for-row (inner, left, semi, anti);
    the physical join is a ShuffledHashJoin whose keys include the
    salt, and the small side carries the salt explode."""
    from data_harvesting_spark.operators.bucketed import salted_join

    ev = spark.read.parquet(f"{SF_ORACLE}/events.parquet")
    dim = ev.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"), F.count("*").alias("n")
    )

    for how in ("inner", "left", "left_semi", "left_anti"):
        got = salted_join(
            ev, dim, on="user_id", n_salt=4, how=how,
            spread_cols=("event_id",),
        )
        want = ev.join(dim, "user_id", how)
        assert got.exceptAll(want).count() == 0, how
        assert want.exceptAll(got).count() == 0, how

    joined = salted_join(
        ev, dim, on="user_id", n_salt=4, spread_cols=("event_id",)
    )
    plan = _plan(joined)
    assert "ShuffledHashJoin" in plan, plan
    assert "_salt" in plan, plan
    assert "explode" in plan.lower() or "Generate" in plan, plan

    with pytest.raises(ValueError):
        salted_join(ev, dim, on="user_id", how="full_outer")


# ---------------------------------------------------------------- TPC-H Q7
def test_tpch_q7_direction_pair_and_brute(spark):
    """Both trade directions appear, dims broadcast (no shuffled dim
    exchange beyond the fact edge), and the per-(direction, year)
    revenue matches brute force in exact cents."""
    from data_harvesting_spark.plans.catalog import spark_queries

    df = spark_queries()["tpch_q7"](spark, SF_ORACLE)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan

    li = spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet")
    o = spark.read.parquet(f"{SF_ORACLE}/orders.parquet")
    c = spark.read.parquet(f"{SF_ORACLE}/customer.parquet")
    s = spark.read.parquet(f"{SF_ORACLE}/supplier.parquet")
    n = spark.read.parquet(f"{SF_ORACLE}/nation.parquet")
    nname = {r.n_nationkey: r.n_name for r in n.collect()}
    ocust = {r.o_orderkey: r.o_custkey for r in o.collect()}
    cnat = {r.c_custkey: r.c_nationkey for r in c.collect()}
    snat = {r.s_suppkey: r.s_nationkey for r in s.collect()}
    brute: dict[tuple, int] = {}
    for r in li.collect():
        cn = nname[cnat[ocust[r.l_orderkey]]]
        sn = nname[snat[r.l_suppkey]]
        if {cn, sn} != {"NATION_1", "NATION_2"}:
            continue
        key = (sn, cn, r.l_shipdate.year)
        # Spark round() is HALF_UP; Python round() is banker's
        import math

        cents = math.floor(r.l_extendedprice * (1 - r.l_discount) * 100 + 0.5)
        brute[key] = brute.get(key, 0) + int(cents)
    got = {
        (r.supp_nation, r.cust_nation, r.l_year): r.revenue_cents
        for r in df.collect()
    }
    assert got == brute
    assert {k[:2] for k in got} == {
        ("NATION_1", "NATION_2"),
        ("NATION_2", "NATION_1"),
    }


# ------------------------------------------------------- streaming DQ gate
@pytest.fixture(scope="module")
def dq_batches(tmp_path_factory):
    """Three event micro-batches that dirty different rules in different
    epochs: a duplicate event_id lands in slice 2, a null user_id and a
    negative value in slice 3 — so the cumulative report genuinely
    changes per epoch and the final state merges all three."""
    import os as _os
    import time as _time

    import pandas as pd

    from tests.test_streaming import write_parquet_us

    base = pd.Timestamp("2026-06-01 00:00:00")

    def ev(eid, uid, typ, val, secs):
        return (eid, base + pd.Timedelta(seconds=secs), uid, typ, val, "{}")

    files = [
        [ev(1, 1, "click", 1.5, 0), ev(2, 1, "view", 4.0, 1),
         ev(3, 2, "purchase", 9.0, 2)],
        [ev(3, 2, "click", 2.0, 10),  # duplicate event_id
         ev(5, 3, "signup", 1.0, 11)],
        [ev(6, None, "mystery", -2.0, 20),  # null uid, bad type, neg val
         ev(7, 4, "error", 0.5, 21)],
    ]
    d = tmp_path_factory.mktemp("dq_src")
    now = _time.time()
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    for i, rows in enumerate(files):
        pdf = pd.DataFrame(rows, columns=cols)
        pdf["user_id"] = pdf["user_id"].astype("Int64")
        p = str(d / f"f{i}.parquet")
        write_parquet_us(pdf, p)
        _os.utime(p, (now + i, now + i))
    return str(d)


def _dq_batch_report(spark, source_dir):
    from data_harvesting_spark.operators.dq import dq_monitor_batch

    return dq_monitor_batch(spark.read.parquet(source_dir + "/*.parquet"))


def test_dq_monitor_stream_equals_batch(spark, dq_batches, tmp_path):
    """Final cumulative epoch == one-shot batch twin EXACTLY (sum-merged
    counters + max-merged HLL registers), and the dirty rules read
    false with the exact ratios while uniqueness degrades as the
    duplicate arrives."""
    import os as _os

    from data_harvesting_spark.streaming.pipeline import (
        drain,
        start_dq_monitor_stream_job,
    )
    from data_harvesting_spark.streaming.sink import read_epoch_sink

    sink = str(tmp_path / "dqsink")
    q = start_dq_monitor_stream_job(
        spark, dq_batches, sink, str(tmp_path / "dqckpt"),
        available_now=False,
    )
    drain(q)

    rows = read_epoch_sink(spark, sink).toPandas()
    last = rows[rows["epoch"] == rows["epoch"].max()]
    got = {r.rule: (r.passed, r.actual) for r in last.itertuples()}
    want = {
        r.rule: (r.passed, r.actual)
        for r in _dq_batch_report(spark, dq_batches).collect()
    }
    assert got == want
    assert not got["user_id is complete"][0]
    assert got["user_id is complete"][1] == round(6 / 7, 6)
    assert not got["value is non-negative"][0]
    assert not got["event_type in domain"][0]
    # at n=7 the raw-range-only estimator is far below its valid range
    # (n >= 2.5m — see operators/sketch.py::hll_distinct) and reads high;
    # the REAL claim at tiny n is stream==batch bit-equality (asserted
    # above) — the ratio's calibration is exercised at sf0.01 by the
    # dq_monitor oracle row, where n=10k is in range
    est_ratio = got["event_id is unique (hll)"][1]
    assert est_ratio > 0

    # ledger stays O(counters + registers)
    ledger = str(tmp_path / "dqsink.dqstate")
    epochs = [n for n in _os.listdir(ledger) if n.startswith("_epoch=")]
    snap = spark.read.parquet(f"{ledger}/{sorted(epochs)[-1]}")
    assert snap.count() <= 7 + 1024


def test_dq_monitor_stream_kill_and_resume(spark, dq_batches, tmp_path):
    """W7: stop after the first micro-batch, resume from checkpoint —
    final report equals the uninterrupted run (frozen-pre-state replay:
    counter sums don't double-count, registers re-max identically)."""
    import time as _time

    from data_harvesting_spark.streaming.pipeline import (
        drain,
        start_dq_monitor_stream_job,
        stop,
    )
    from data_harvesting_spark.streaming.sink import read_epoch_sink

    sink = str(tmp_path / "dqsink")
    ckpt = str(tmp_path / "dqckpt")
    q = start_dq_monitor_stream_job(
        spark, dq_batches, sink, ckpt, available_now=False
    )
    deadline = _time.time() + 120
    while _time.time() < deadline:
        prog = q.recentProgress
        if any((p.get("numInputRows") or 0) > 0 for p in prog):
            break
        _time.sleep(0.3)
    stop(q)

    q2 = start_dq_monitor_stream_job(
        spark, dq_batches, sink, ckpt, available_now=False
    )
    drain(q2)

    rows = read_epoch_sink(spark, sink).toPandas()
    last = rows[rows["epoch"] == rows["epoch"].max()]
    got = {r.rule: (r.passed, r.actual) for r in last.itertuples()}
    want = {
        r.rule: (r.passed, r.actual)
        for r in _dq_batch_report(spark, dq_batches).collect()
    }
    assert got == want


# ----------------------------------------------------- TPC-H Q6 / Q10 / Q12
def test_tpch_q6_pure_pushdown_scan_agg(spark):
    """Q6 is the canonical scan-aggregate: every predicate reaches the
    parquet scan as a pushed filter, there is no join anywhere, and the
    only exchange is the 1-row scalar final agg. Values brute-checked."""
    from data_harvesting_spark.plans.catalog import spark_queries

    df = spark_queries()["tpch_q6"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "Join" not in plan, plan
    assert plan.count("Exchange") == 1, plan
    # FileScan.toString truncates the PushedFilters list; the formatted
    # explain prints it in full
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    full = buf.getvalue()
    assert "LessThan(l_quantity" in full, full
    assert "GreaterThanOrEqual(l_shipdate" in full, full

    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").collect()
    lo = dt.datetime(1997, 1, 1)
    hi = dt.datetime(1998, 1, 1)
    kept = [
        r
        for r in li
        if lo <= r.l_shipdate < hi
        and 0.05 <= r.l_discount <= 0.07
        and r.l_quantity < 24
    ]
    # Spark F.round is HALF_UP (away from zero for positives), Python
    # round() is half-even — floor(x + 0.5) matches Spark on positives
    import math

    want_rev = sum(
        math.floor(r.l_extendedprice * r.l_discount * 100 + 0.5) for r in kept
    )
    got = df.collect()[0]
    assert got.n_items == len(kept)
    assert got.revenue_cents == want_rev


def test_tpch_q10_agg_before_customer_join(spark):
    """Q10 shape: the lineitem⋈orders revenue collapses to one row per
    custkey BEFORE the customer join (the customer dim never meets raw
    lineitem), the top-20 runs as TakeOrdered (no global sort exchange),
    and the order-quarter filter is pushed to the orders scan. Top-20
    membership and values brute-checked with the deterministic
    revenue-then-key tie-break."""
    from data_harvesting_spark.plans.catalog import spark_queries

    df = spark_queries()["tpch_q10"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "GreaterThanOrEqual(o_orderdate" in plan, plan
    # the per-custkey hash agg sits below the customer scan's join
    assert plan.index("HashAggregate") > 0, plan

    import math

    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").collect()
    o = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").collect()
    c = spark.read.parquet(f"{SF_SMOKE}/customer.parquet").collect()
    n = spark.read.parquet(f"{SF_SMOKE}/nation.parquet").collect()
    lo = dt.datetime(1997, 1, 1)
    hi = dt.datetime(1997, 7, 1)
    cust_of = {
        r.o_orderkey: r.o_custkey for r in o if lo <= r.o_orderdate < hi
    }
    rev: dict[int, int] = {}
    for r in li:
        if r.l_returnflag == "R" and r.l_orderkey in cust_of:
            k = cust_of[r.l_orderkey]
            rev[k] = rev.get(k, 0) + math.floor(
                r.l_extendedprice * (1 - r.l_discount) * 100 + 0.5
            )
    nation_of = {r.n_nationkey: r.n_name for r in n}
    cust = {r.c_custkey: r for r in c}
    brute = sorted(
        ((v, k) for k, v in rev.items()), key=lambda t: (-t[0], t[1])
    )[:20]
    got = df.collect()
    assert len(got) == len(brute)
    for row, (v, k) in zip(got, brute):
        assert (row.c_custkey, row.revenue_cents) == (k, v)
        assert row.c_name == cust[k].c_name
        assert row.nation == nation_of[cust[k].c_nationkey]


def test_tpch_q12_late_shipping_brute(spark):
    """Adapted Q12: one orderkey shuffle join (both sides pruned to the
    columns the agg needs), a 2-group hash agg, no nested-loop joins.
    The 60-day lateness rule and the priority split brute-checked."""
    from data_harvesting_spark.plans.catalog import spark_queries

    df = spark_queries()["tpch_q12"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan

    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").collect()
    o = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").collect()
    ordr = {r.o_orderkey: r for r in o}
    brute: dict[str, list[int]] = {}
    for r in li:
        od = ordr[r.l_orderkey]
        cls = (
            "high"
            if od.o_orderpriority in ("1-URGENT", "2-HIGH")
            else "low"
        )
        n, late = brute.get(cls, [0, 0])
        late += int(r.l_shipdate > od.o_orderdate + dt.timedelta(days=60))
        brute[cls] = [n + 1, late]
    got = {r.priority_class: [r.n_items, r.late_items] for r in df.collect()}
    assert got == brute


# ------------------------------------------------- TPC-H Q14 / Q15 / Q19 / Q8
def test_tpch_q14_promo_share_brute(spark):
    """Q14: part joins as a broadcast dim, no cartesian; promo and total
    cents plus their ratio brute-checked."""
    from data_harvesting_spark.plans.catalog import spark_queries

    df = spark_queries()["tpch_q14"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan

    import math

    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").collect()
    p = spark.read.parquet(f"{SF_SMOKE}/part.parquet").collect()
    ptype = {r.p_partkey: r.p_type for r in p}
    lo, hi = dt.datetime(1997, 9, 1), dt.datetime(1997, 10, 1)
    promo = total = 0
    for r in li:
        if lo <= r.l_shipdate < hi:
            cents = math.floor(
                r.l_extendedprice * (1 - r.l_discount) * 100 + 0.5
            )
            total += cents
            if ptype[r.l_partkey] == "PROMO":
                promo += cents
    got = df.collect()[0]
    assert (got.promo_cents, got.total_cents) == (promo, total)
    assert got.promo_share == round(promo / total, 6)


def test_tpch_q15_top_supplier_ties_and_broadcast_max(spark):
    """Q15: the scalar max arrives as a 1-row broadcast (no window over
    the agg output), supplier dim broadcast; on a fixture with a planted
    revenue tie BOTH suppliers surface, as the spec's view form does."""
    from data_harvesting_spark.plans.catalog import spark_queries

    df = spark_queries()["tpch_q15"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "Window" not in plan, plan

    import math

    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").collect()
    s = spark.read.parquet(f"{SF_SMOKE}/supplier.parquet").collect()
    lo, hi = dt.datetime(1997, 1, 1), dt.datetime(1997, 4, 1)
    rev: dict[int, int] = {}
    for r in li:
        if lo <= r.l_shipdate < hi:
            rev[r.l_suppkey] = rev.get(r.l_suppkey, 0) + math.floor(
                r.l_extendedprice * (1 - r.l_discount) * 100 + 0.5
            )
    best = max(rev.values())
    names = {r.s_suppkey: r.s_name for r in s}
    want = {(k, names[k], v) for k, v in rev.items() if v == best}
    got = {(r.s_suppkey, r.s_name, r.total_cents) for r in df.collect()}
    assert got == want

    # planted tie: two suppliers, identical single-item revenue
    rows = [
        (1, 100, dt.datetime(1997, 2, 1)),
        (2, 100, dt.datetime(1997, 2, 2)),
        (3, 50, dt.datetime(1997, 2, 3)),
    ]
    tie = spark.createDataFrame(
        [(k, float(v), ts, 0.0) for k, v, ts in rows],
        "l_suppkey long, l_extendedprice double, l_shipdate timestamp, l_discount double",
    )
    agg = (
        tie.groupBy("l_suppkey")
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                ).cast("bigint")
            ).alias("total_cents")
        )
    )
    best_df = agg.agg(F.max("total_cents").alias("best_cents"))
    out = agg.join(
        F.broadcast(best_df), F.col("total_cents") == F.col("best_cents")
    )
    assert {r.l_suppkey for r in out.collect()} == {1, 2}


def test_tpch_q19_disjunction_brute(spark):
    """Q19: the OR-of-conjunctions evaluates as the equi-join's residual
    (hash join, never nested-loop); the single-table residues prune both
    scans. Brute-checked row-for-row."""
    from data_harvesting_spark.plans.catalog import spark_queries

    df = spark_queries()["tpch_q19"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan

    import math

    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").collect()
    p = spark.read.parquet(f"{SF_SMOKE}/part.parquet").collect()
    part = {r.p_partkey: r for r in p}
    n = cents = 0
    for r in li:
        pr = part[r.l_partkey]
        hit = (
            (pr.p_brand == "Brand#12" and 1 <= pr.p_size <= 15
             and 1 <= r.l_quantity <= 11)
            or (pr.p_brand == "Brand#23" and 1 <= pr.p_size <= 25
                and 10 <= r.l_quantity <= 20)
            or (pr.p_brand == "Brand#3" and 1 <= pr.p_size <= 35
                and 20 <= r.l_quantity <= 30)
        )
        if hit:
            n += 1
            cents += math.floor(
                r.l_extendedprice * (1 - r.l_discount) * 100 + 0.5
            )
    got = df.collect()[0]
    assert (got.n_items, got.revenue_cents) == (n, cents)
    assert n > 0  # fixture actually exercises the disjunction


def test_tpch_q8_market_share_brute(spark):
    """Q8: two dim lineages resolve on the same fact row; per-year
    NATION_2 share of ASIA's ECONOMY revenue brute-checked, no
    cartesian/BNLJ in the plan."""
    from data_harvesting_spark.plans.catalog import spark_queries

    df = spark_queries()["tpch_q8"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan

    import math

    sfd = SF_SMOKE
    li = spark.read.parquet(f"{sfd}/lineitem.parquet").collect()
    p = {r.p_partkey: r.p_type
         for r in spark.read.parquet(f"{sfd}/part.parquet").collect()}
    o = {r.o_orderkey: r
         for r in spark.read.parquet(f"{sfd}/orders.parquet").collect()}
    c = {r.c_custkey: r.c_nationkey
         for r in spark.read.parquet(f"{sfd}/customer.parquet").collect()}
    n = {r.n_nationkey: r
         for r in spark.read.parquet(f"{sfd}/nation.parquet").collect()}
    reg = {r.r_regionkey: r.r_name
           for r in spark.read.parquet(f"{sfd}/region.parquet").collect()}
    s = {r.s_suppkey: r.s_nationkey
         for r in spark.read.parquet(f"{sfd}/supplier.parquet").collect()}
    lo, hi = dt.datetime(1996, 1, 1), dt.datetime(1998, 1, 1)
    tot: dict[int, list[int]] = {}
    for r in li:
        if p[r.l_partkey] != "ECONOMY":
            continue
        od = o[r.l_orderkey]
        if not (lo <= od.o_orderdate < hi):
            continue
        if reg[n[c[od.o_custkey]].n_regionkey] != "ASIA":
            continue
        yr = od.o_orderdate.year
        cents = math.floor(r.l_extendedprice * (1 - r.l_discount) * 100 + 0.5)
        nat, t = tot.get(yr, [0, 0])
        if n[s[r.l_suppkey]].n_name == "NATION_2":
            nat += cents
        tot[yr] = [nat, t + cents]
    got = {
        r.o_year: (r.nation_cents, r.total_cents, r.mkt_share)
        for r in df.collect()
    }
    want = {
        yr: (nat, t, round(nat / t, 6)) for yr, (nat, t) in tot.items()
    }
    assert got == want


# ------------------------------------------------- stream-static enrichment
@pytest.fixture()
def enrich_src(tmp_path):
    """Two initial event micro-batch files; a third arrives later in the
    dim-refresh test."""
    import os as _os
    import time as _time

    import pandas as pd

    from tests.test_streaming import write_parquet_us

    base = pd.Timestamp("2026-06-01 00:00:00")
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]

    def ev(eid, typ, secs):
        return (eid, base + pd.Timedelta(seconds=secs), 1, typ, 1.0, "{}")

    d = tmp_path / "enrich_src"
    d.mkdir()
    now = _time.time()
    for i, rows in enumerate(
        [[ev(1, "click", 0), ev(2, "buy", 1)],
         [ev(3, "click", 10), ev(4, "refund", 11)]]
    ):
        p = str(d / f"f{i}.parquet")
        write_parquet_us(pd.DataFrame(rows, columns=cols), p)
        _os.utime(p, (now + i, now + i))
    return str(d)


def _write_dim(spark, path, version):
    rows = [("click", f"CLICK_v{version}", version),
            ("buy", f"BUY_v{version}", version)]
    spark.createDataFrame(
        rows, "event_type string, label string, dim_version int"
    ).coalesce(1).write.mode("overwrite").parquet(path)


def test_enrich_stream_refreshes_dim_per_epoch(spark, enrich_src, tmp_path):
    """Epochs drained under dim v1 carry v1 labels; after the dim is
    overwritten to v2 and a new file arrives, the new epoch carries v2 —
    per-epoch refresh, not query-start pinning. Unknown keys survive the
    left join with null attributes; row counts match the source."""
    import os as _os
    import time as _time

    import pandas as pd

    from data_harvesting_spark.streaming.pipeline import (
        start_enrich_stream_job,
    )
    from data_harvesting_spark.streaming.sink import read_epoch_sink
    from tests.test_streaming import write_parquet_us

    dim = str(tmp_path / "dim")
    sink = str(tmp_path / "esink")
    ckpt = str(tmp_path / "eckpt")
    _write_dim(spark, dim, 1)

    q = start_enrich_stream_job(spark, enrich_src, dim, sink, ckpt)
    q.awaitTermination(120)

    _write_dim(spark, dim, 2)
    base = pd.Timestamp("2026-06-01 00:01:00")
    late = pd.DataFrame(
        [(5, base, 1, "click", 1.0, "{}")],
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    )
    p = str(tmp_path / "enrich_src" / "f2.parquet")
    write_parquet_us(late, p)
    _os.utime(p, (_time.time() + 10, _time.time() + 10))

    q2 = start_enrich_stream_job(spark, enrich_src, dim, sink, ckpt)
    q2.awaitTermination(120)

    out = read_epoch_sink(spark, sink).toPandas()
    assert len(out) == 5  # every source row survives the left join
    by_id = out.set_index("event_id")
    assert by_id.loc[1, "label"] == "CLICK_v1"
    assert by_id.loc[2, "label"] == "BUY_v1"
    assert by_id.loc[3, "label"] == "CLICK_v1"
    assert pd.isna(by_id.loc[4, "label"])  # refund: not in the dim
    assert by_id.loc[5, "label"] == "CLICK_v2"  # post-update epoch


def test_enrich_stream_kill_and_resume(spark, enrich_src, tmp_path):
    """W7: stop after the first micro-batch, resume from the checkpoint —
    no duplicate rows (epoch overwrite), final output identical to an
    uninterrupted run."""
    import time as _time

    from data_harvesting_spark.streaming.pipeline import (
        start_enrich_stream_job,
        stop,
    )
    from data_harvesting_spark.streaming.sink import read_epoch_sink

    dim = str(tmp_path / "dim")
    _write_dim(spark, dim, 1)

    sink = str(tmp_path / "esink")
    ckpt = str(tmp_path / "eckpt")
    q = start_enrich_stream_job(
        spark, enrich_src, dim, sink, ckpt, available_now=False
    )
    deadline = _time.time() + 120
    while _time.time() < deadline:
        if any(
            (p.get("numInputRows") or 0) > 0 for p in q.recentProgress
        ):
            break
        _time.sleep(0.3)
    stop(q)

    q2 = start_enrich_stream_job(spark, enrich_src, dim, sink, ckpt)
    q2.awaitTermination(120)

    got = read_epoch_sink(spark, sink).toPandas()
    assert sorted(got["event_id"]) == [1, 2, 3, 4]

    ref_sink = str(tmp_path / "ref_sink")
    q3 = start_enrich_stream_job(
        spark, enrich_src, dim, ref_sink, str(tmp_path / "ref_ckpt")
    )
    q3.awaitTermination(120)
    want = read_epoch_sink(spark, ref_sink).toPandas()
    cols = ["event_id", "event_type", "label", "dim_version"]
    g = got[cols].sort_values("event_id").reset_index(drop=True)
    w = want[cols].sort_values("event_id").reset_index(drop=True)
    assert g.equals(w)
