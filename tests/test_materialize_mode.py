"""`spark.graft.materialize.mode=reliable` reaches every lineage break.

`util.materialize` is the package's one lineage-break path: in
``reliable`` mode it checkpoints to the durable checkpoint dir instead
of executor block storage. A direct ``localCheckpoint`` anywhere else
silently keeps the executor-loss hazard the mode exists to remove.
With ``localCheckpoint`` made to raise, the connected-components loop
behind `dedup.keeper_list` must still run in reliable mode, write its
checkpoint files and return the local-mode rows. The rollup half pins
that `streaming.rollup.stream_rollup_incremental` returns the same rows
in both modes; on a fresh table it breaks no lineage at all (its
micro-batches overwrite the table from complete-mode state)."""

from __future__ import annotations

import os

from real_time_database_monitoring_system_spark.operators import dedup
from real_time_database_monitoring_system_spark.sources.registry import load_table
from real_time_database_monitoring_system_spark.streaming import rollup


def _keepers(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.5)
    return sorted(dedup.keeper_list(docs, pairs).collect())


def _rollup(spark, sf_dir, table):
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    try:
        return sorted(
            map(tuple, rollup.stream_rollup_incremental(spark, sf_dir, table).collect())
        )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_reliable_mode_never_calls_local_checkpoint(spark, sf_dir, tmp_path, monkeypatch):
    assert spark.conf.get("spark.graft.materialize.mode", "local") == "local"
    local_keepers = _keepers(spark, sf_dir)
    local_rollup = _rollup(spark, sf_dir, "reliable_mode_rollup_local")
    # the components loop must have real work: at least one duplicate
    assert any(not r.is_keeper for r in local_keepers)

    def _no_local_checkpoint(self, *args, **kwargs):
        raise AssertionError("localCheckpoint called in reliable mode")

    monkeypatch.setattr(type(spark.range(1)), "localCheckpoint", _no_local_checkpoint)
    ckpt = str(tmp_path / "graft-ckpt")
    sc = spark.sparkContext
    prev_dir = sc.getCheckpointDir()
    sc.setCheckpointDir(ckpt)
    spark.conf.set("spark.graft.materialize.mode", "reliable")
    try:
        reliable_keepers = _keepers(spark, sf_dir)
        reliable_rollup = _rollup(spark, sf_dir, "reliable_mode_rollup")
        written = [f for _, _, fs in os.walk(ckpt) for f in fs]
        assert written, "reliable mode wrote no checkpoint files"
    finally:
        spark.conf.set("spark.graft.materialize.mode", "local")
        if prev_dir is not None:
            sc.setCheckpointDir(prev_dir.removeprefix("file:"))
        else:
            # don't leave the session-scoped context pointed at this
            # test's pruned tmp_path: park it on the warehouse fallback
            # util.materialize itself would choose
            wh = spark.conf.get(
                "spark.sql.warehouse.dir", "/tmp"
            ).removeprefix("file:")
            sc.setCheckpointDir(os.path.join(wh, ".graft-checkpoints"))
    assert reliable_keepers == local_keepers
    assert reliable_rollup == local_rollup
    assert local_rollup, "rollup fixture must be non-empty"
