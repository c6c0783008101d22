"""The pin_mode session knob (VERDICT r12 item 4): every pin site
routes through mysql_syncer_spark.pin.pin, whose mechanism is chosen
per session — local (localCheckpoint, default), reliable
(DataFrame.checkpoint into a checkpoint dir), off (no materialization,
except correctness-required staging pins). Values must be identical in
every mode."""

import pytest
from pyspark.sql import functions as F

from mysql_syncer_spark.operators import cluster, dedup
from mysql_syncer_spark.pin import CHECKPOINT_DIR_CONF, PIN_MODE_CONF, pin


@pytest.fixture
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _dedup_pipeline(docs):
    """LSH pairs -> connected components, the pipeline VERDICT names."""
    pairs = dedup.minhash_lsh_pairs(
        docs, num_hashes=16, bands=4, threshold=0.5
    )
    clusters = cluster.duplicate_clusters(pairs)
    return sorted(map(tuple, clusters.collect()))


@pytest.fixture
def _restore_mode(spark):
    yield
    spark.conf.unset(PIN_MODE_CONF)


class TestPinModes:
    # runs FIRST (file order): the all-modes test below sets the
    # session checkpoint dir, after which "no dir" can't be exercised
    def test_reliable_without_dir_raises(self, spark, docs, _restore_mode):
        if spark.sparkContext.getCheckpointDir() is not None:
            pytest.skip("session already has a checkpoint dir")
        spark.conf.set(PIN_MODE_CONF, "reliable")
        with pytest.raises(ValueError, match="checkpoint dir"):
            pin(docs)

    def test_all_modes_same_result(self, spark, docs, tmp_path, _restore_mode):
        results = {}
        spark.conf.set(CHECKPOINT_DIR_CONF, str(tmp_path / "ckpt"))
        for mode in ("local", "off", "reliable"):
            spark.conf.set(PIN_MODE_CONF, mode)
            results[mode] = _dedup_pipeline(docs)
        assert results["local"], "pipeline found no clusters at all"
        assert results["off"] == results["local"]
        assert results["reliable"] == results["local"]

    def test_off_skips_pin_but_keeps_required(self, spark, docs, _restore_mode):
        spark.conf.set(PIN_MODE_CONF, "off")
        assert pin(docs) is docs
        pinned = pin(docs, required=True)
        assert pinned is not docs
        assert pinned.count() == docs.count()

    def test_invalid_mode_raises(self, spark, docs, _restore_mode):
        spark.conf.set(PIN_MODE_CONF, "bogus")
        with pytest.raises(ValueError, match="pin_mode"):
            pin(docs)

    def test_scd2_fold_mode_independent(self, spark, orders, _restore_mode):
        from mysql_syncer_spark.scd import scd2_apply, scd2_init

        snap = orders.where(F.col("o_orderkey") % 7 != 0).withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 5 == 0, F.col("o_totalprice") + 1
            ).otherwise(F.col("o_totalprice")),
        )
        out = {}
        for mode in ("local", "off"):
            spark.conf.set(PIN_MODE_CONF, mode)
            hist = scd2_apply(scd2_init(orders, 0), snap, ["o_orderkey"], 1)
            out[mode] = sorted(map(tuple, hist.collect()))
        assert out["off"] == out["local"]
