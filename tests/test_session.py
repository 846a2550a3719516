"""Session helpers: config validation is exercised implicitly by every
test (the shared fixture calls ``get_spark`` -> ``validate_config``);
here we pin ``reliable_checkpoint``'s mode dispatch — the one behavior
that differs between local[32] and a real cluster (r9 verdict #5:
localCheckpoint blocks die with their executor; a configured
checkpoint dir must switch every lineage-truncation point in the
engine to reliable ``df.checkpoint()`` without touching call sites).
"""

from __future__ import annotations

import os

from data_ingestion_tool_bakasura__spark.session import reliable_checkpoint


class _FakeSC:
    def __init__(self, ckdir=None):
        self._dir = ckdir

    def getCheckpointDir(self):
        return self._dir

    def setCheckpointDir(self, d):
        self._dir = d


class _FakeSession:
    def __init__(self, ckdir=None, conf_dir=None):
        self.sparkContext = _FakeSC(ckdir)
        self._conf = {"spark.checkpoint.dir": conf_dir} if conf_dir else {}
        self.conf = self

    def get(self, k, default=None):
        return self._conf.get(k, default)


class _FakeDF:
    def __init__(self, session):
        self.sparkSession = session

    def checkpoint(self, eager=True):
        return ("reliable", eager)

    def localCheckpoint(self, eager=True):
        return ("local", eager)


def test_dispatch_local_when_no_dir():
    df = _FakeDF(_FakeSession())
    assert reliable_checkpoint(df) == ("local", True)
    assert reliable_checkpoint(df, eager=False) == ("local", False)


def test_dispatch_reliable_when_context_dir_set():
    df = _FakeDF(_FakeSession(ckdir="/ck"))
    assert reliable_checkpoint(df) == ("reliable", True)


def test_dispatch_conf_dir_promotes_to_context():
    sess = _FakeSession(conf_dir="/from_conf")
    df = _FakeDF(sess)
    assert reliable_checkpoint(df) == ("reliable", True)
    # the conf value was applied to the context so later calls skip the probe
    assert sess.sparkContext.getCheckpointDir() == "/from_conf"


def test_local_mode_end_to_end(spark):
    """On the real session (no checkpoint dir configured) the helper
    must materialize via localCheckpoint: same rows, truncated lineage,
    and the context acquires no checkpoint dir as a side effect."""
    df = spark.range(100).withColumnRenamed("id", "v")
    out = reliable_checkpoint(df)
    assert out.count() == 100
    assert [r["v"] for r in out.orderBy("v").limit(3).collect()] == [0, 1, 2]
    assert spark.sparkContext.getCheckpointDir() is None


def test_reliable_mode_end_to_end(spark, tmp_path):
    """With a checkpoint dir on the context the helper takes the
    reliable path: blocks land under the dir (what survives executor
    loss on a cluster). The dir is reset afterwards so the rest of the
    suite keeps exercising the local fallback."""
    ck = str(tmp_path / "ck")
    sc = spark.sparkContext
    sc.setCheckpointDir(ck)
    try:
        out = reliable_checkpoint(spark.range(50))
        assert out.count() == 50
        found = [
            os.path.join(r, f)
            for r, _d, fs in os.walk(ck)
            for f in fs
        ]
        assert found, "reliable checkpoint wrote no files under the dir"
    finally:
        # internal-API reset: checkpointDir is a plain Scala Option var
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            spark._jvm.scala.Option.apply(None)
        )
    assert sc.getCheckpointDir() is None


def test_released_reliable_checkpoint_is_deleted(spark, tmp_path):
    """The session sets spark.cleaner.referenceTracking.cleanCheckpoints:
    once a reliably checkpointed frame is released and garbage-collected,
    its checkpoint directory is deleted — a foreachBatch sink that
    checkpoints every micro-batch does not accumulate one per batch."""
    import gc
    import time

    assert spark.sparkContext.getConf().get(
        "spark.cleaner.referenceTracking.cleanCheckpoints") == "true"
    ck = str(tmp_path / "ck")
    sc = spark.sparkContext
    sc.setCheckpointDir(ck)
    try:
        out = reliable_checkpoint(spark.range(50))
        assert out.count() == 50

        def rdd_dirs():
            return [d for _r, ds, _f in os.walk(ck) for d in ds if d.startswith("rdd-")]

        assert rdd_dirs(), "reliable checkpoint wrote no rdd directory"
        del out
        deadline = time.monotonic() + 60
        while rdd_dirs() and time.monotonic() < deadline:
            gc.collect()
            spark._jvm.System.gc()
            time.sleep(0.5)
        assert not rdd_dirs(), "released checkpoint was not cleaned"
    finally:
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            spark._jvm.scala.Option.apply(None)
        )
