"""Streaming drift monitor (streaming/drift.py): micro-batch PSI under a
real file stream matches the batch-mode drift operator on the same data;
alerts fire on a genuinely shifted batch; baseline cardinality is capped
loudly."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from dataprofiler_spark.operators import drift
from dataprofiler_spark.streaming.drift import StreamingDriftMonitor


def _orders(spark, sf_dir):
    """orders plus ``o_status_null``: o_orderstatus, NULL on the ~2%
    of rows with o_custkey % 50 == 0 — a categorical column with NULLs
    on both the baseline and the batch side."""
    src = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    return src.withColumn(
        "o_status_null",
        F.when(F.col("o_custkey") % 50 != 0, F.col("o_orderstatus")))


@pytest.fixture()
def split_orders(tmp_path, spark, sf_dir):
    """orders split into two parquet batch files: b0 ~ the baseline
    distribution, b1 deliberately shifted (only URGENT priority)."""
    src = _orders(spark, sf_dir)
    flat = str(tmp_path / "stream")
    os.makedirs(flat)
    (src.where(F.col("o_orderkey") % 2 == 0).coalesce(1)
        .write.mode("overwrite").parquet(str(tmp_path / "b0")))
    (src.where(F.col("o_orderpriority") == "1-URGENT").coalesce(1)
        .write.mode("overwrite").parquet(str(tmp_path / "b1")))
    import shutil
    i = 0
    for sub in ("b0", "b1"):
        for f in sorted(os.listdir(str(tmp_path / sub))):
            if f.endswith(".parquet"):
                shutil.copy(str(tmp_path / sub / f), f"{flat}/part{i}.parquet")
                i += 1
    return flat


def test_streaming_psi_matches_batch_operator(spark, sf_dir, split_orders):
    baseline = _orders(spark, sf_dir)
    mon = StreamingDriftMonitor(
        baseline, {"o_orderpriority": "categorical",
                   "o_status_null": "categorical",
                   "o_totalprice": "numeric"},
        alert_threshold=0.2)
    schema = baseline.schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(split_orders))
    q = mon.attach(stream).trigger(availableNow=True).start()
    q.awaitTermination(120)

    assert len(mon.log) == 2
    # File delivery order is not guaranteed — identify the micro-batches
    # by content: e0 = the baseline-like half, e1 = the URGENT-only file.
    n_urgent = baseline.where(
        F.col("o_orderpriority") == "1-URGENT").count()
    e1 = next(e for e in mon.log if e["n_rows"] == n_urgent)
    e0 = next(e for e in mon.log if e is not e1)
    # baseline-like batch → tiny PSI; single-category batch → large + alert
    cat0 = e0["psi"]["o_orderpriority"]
    cat1 = e1["psi"]["o_orderpriority"]
    assert cat0 < 0.05 and cat1 > 0.2 and cat1 > cat0
    assert e0["alert"] is False and e1["alert"] is True

    # parity with the batch operator on the same micro-batch data
    # (the b1 file was built as exactly this filter of the baseline)
    b1 = baseline.where(F.col("o_orderpriority") == "1-URGENT")
    expected = drift.categorical_psi(
        baseline, b1, "o_orderpriority").collect()[0]["psi"]
    assert cat1 == pytest.approx(expected, abs=2e-6)
    # NULLs on both sides: the batch operator keeps a baseline NULL and
    # a batch NULL as two categories, and so must the monitor
    b0 = baseline.where(F.col("o_orderkey") % 2 == 0)
    for e, b in ((e0, b0), (e1, b1)):
        expected = drift.categorical_psi(
            baseline, b, "o_status_null").collect()[0]["psi"]
        assert e["psi"]["o_status_null"] == pytest.approx(expected,
                                                          abs=2e-6)

    # numeric: same-distribution batch scores near zero with frozen edges
    num0 = e0["psi"]["o_totalprice"]
    assert num0 is not None and abs(num0) < 0.05


def test_baseline_cardinality_cap(spark, sf_dir):
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    with pytest.raises(ValueError, match="max_categories"):
        StreamingDriftMonitor(orders, {"o_orderkey": "categorical"},
                              max_categories=10)


def test_sink_append(spark, sf_dir, tmp_path):
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    sink = str(tmp_path / "psi_log")
    mon = StreamingDriftMonitor(orders, {"o_orderpriority": "categorical"},
                                sink_path=sink)
    mon.update(orders.limit(100), batch_id=7)
    rows = spark.read.parquet(sink).collect()
    assert len(rows) == 1
    assert rows[0]["batch_id"] == 7 and rows[0]["column_name"] == "o_orderpriority"
    assert rows[0]["n_rows"] == 100


def test_quantile_edges_robust_to_baseline_outlier(spark):
    """VERDICT r4 item 7: with equal-width (min, max) edges, ONE extreme
    baseline outlier stretches the range so all real mass collapses into
    bin 0 and the monitor goes blind to genuine shift. Quantile edges
    keep ~1/bins of baseline mass per bin, so the same shifted batch
    scores loudly."""
    base_rows = [(i, i / 1000.0) for i in range(1000)] + [(9999, 1e9)]
    baseline = spark.createDataFrame(base_rows, "id long, x double")
    shifted = spark.createDataFrame(
        [(i, 0.9 + i / 10000.0) for i in range(1000)], "id long, x double")

    blind = StreamingDriftMonitor(baseline, {"x": "numeric"},
                                  numeric_bins="width")
    sharp = StreamingDriftMonitor(baseline, {"x": "numeric"},
                                  numeric_bins="quantile")
    psi_blind = blind.update(shifted)["psi"]["x"]
    psi_sharp = sharp.update(shifted)["psi"]["x"]
    # width mode: outlier-stretched bins — everything in bucket 0 both
    # sides, tiny PSI. quantile mode: the batch piles into the top
    # decile bins — unmistakable shift.
    assert psi_blind < 0.05
    assert psi_sharp > 0.5
    assert psi_sharp > psi_blind * 10


def test_quantile_monitor_same_distribution_near_zero(spark, sf_dir):
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    mon = StreamingDriftMonitor(orders, {"o_totalprice": "numeric"})
    assert mon.numeric_bins == "quantile"
    psi = mon.update(orders)["psi"]["o_totalprice"]
    assert psi is not None and abs(psi) < 0.01


def test_numeric_bins_validation(spark, sf_dir):
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    with pytest.raises(ValueError, match="numeric_bins"):
        StreamingDriftMonitor(orders, {"o_totalprice": "numeric"},
                              numeric_bins="log")


def test_numeric_ks_js_semantics(spark):
    """KS/JS sanity: identical samples → 0 drift; disjoint ranges → KS 1
    and JS at its ln(2) ceiling."""
    import math

    from dataprofiler_spark.operators import drift as dr

    a = spark.createDataFrame([(float(i),) for i in range(100)], ["x"])
    same = dr.numeric_ks_js(a, a, "x").collect()[0]
    assert same["ks"] == 0.0 and same["js"] == 0.0
    b = spark.createDataFrame([(float(i) + 1000.0,) for i in range(100)],
                              ["x"])
    far = dr.numeric_ks_js(a, b, "x").collect()[0]
    assert far["ks"] == 1.0
    assert abs(far["js"] - math.log(2)) < 1e-6
