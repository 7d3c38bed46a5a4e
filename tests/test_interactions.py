"""Feature-interaction coverage: crossing the newest log-level features
(V2 checkpoints, minor log compaction) with column mapping, portable
deletion vectors, partitioning, CDF, and restore — the combinations
where round-1 probing kept finding real bugs."""

import glob
import os

import pytest
from pyspark.sql import functions as F

from delta_spark import DeltaLog, DeltaTable, write_delta
from delta_spark.datasets import load_table
from delta_spark.util import current_time_millis


def test_v2_checkpoint_mapping_dv_partitioned(spark, tmp_table, sf_dir):
    """V2 checkpoint replay must preserve partition values, physical
    (column-mapped) names, and portable DV descriptors together."""
    orders = load_table(spark, sf_dir, "orders").limit(400)
    write_delta(orders, tmp_table, partition_by=["o_orderstatus"],
                configuration={"delta.enableDeletionVectors": "true",
                               "delta_spark.dv.portable": "true",
                               "delta.checkpointPolicy": "v2"})
    dt = DeltaTable.forPath(spark, tmp_table)
    dt.enableColumnMapping()
    dt.renameColumn("o_totalprice", "price")
    dt.delete("price > 200000")          # portable DVs on mapped table
    snap = DeltaLog.for_table(tmp_table).update()
    assert any(f.deletionVector for f in snap.all_files)
    expect = dt.toDF().count()
    expect_f = dt.toDF().filter("o_orderstatus = 'F'").count()

    log = DeltaLog.for_table(tmp_table)
    log.write_checkpoint(snap)
    # wipe the commit jsons: state must come from the v2 checkpoint alone
    for v in log.list_commit_versions():
        os.unlink(log.commit_file(v))
    DeltaLog.clear_cache()
    dt2 = DeltaTable.forPath(spark, tmp_table)
    assert dt2.toDF().count() == expect
    assert "price" in dt2.toDF().columns
    snap2 = DeltaLog.for_table(tmp_table).update()
    assert any(f.deletionVector for f in snap2.all_files)
    # partition pruning still works through the replayed checkpoint
    pruned = snap2.files_for_scan("o_orderstatus = 'F'")
    assert len(pruned) < snap2.num_files
    assert dt2.toDF("o_orderstatus = 'F'").count() == expect_f


def test_compaction_preserves_rename_dv_and_restore(spark, tmp_table, sf_dir):
    """A compacted range spanning a rename + DV delete must replay to
    the same state; RESTORE across the compacted range still works."""
    li = load_table(spark, sf_dir, "lineitem").limit(500)
    write_delta(li, tmp_table,
                configuration={"delta.enableDeletionVectors": "true"})
    dt = DeltaTable.forPath(spark, tmp_table)
    dt.enableColumnMapping()             # v1
    dt.renameColumn("l_quantity", "qty")  # v2
    dt.delete("qty > 40")                # v3 (DV)
    write_delta(dt.toDF().limit(20), tmp_table, mode="append")  # v4
    log = DeltaLog.for_table(tmp_table)
    snap = log.update()
    expect = dt.toDF().count()

    log.compact_log(1, 4)
    for v in range(1, 4):
        os.unlink(log.commit_file(v))
    DeltaLog.clear_cache()
    dt2 = DeltaTable.forPath(spark, tmp_table)
    assert dt2.toDF().count() == expect
    assert "qty" in dt2.toDF().columns
    snap2 = DeltaLog.for_table(tmp_table).update()
    assert snap2.num_files == snap.num_files
    assert any(f.deletionVector for f in snap2.all_files)

    # metadata-only ops after the compacted replay still function
    dt2.update({"qty": "qty + 1"}, "qty < 5")
    assert dt2.toDF().count() == expect


def test_compaction_cdf_unaffected(spark, tmp_table, sf_dir):
    """CDF reads version-addressed change files; a compaction overlay
    must not change table_changes output."""
    cust = load_table(spark, sf_dir, "customer").limit(100)
    write_delta(cust, tmp_table,
                configuration={"delta.enableChangeDataFeed": "true"})
    dt = DeltaTable.forPath(spark, tmp_table)
    dt.delete("c_custkey % 5 = 0")       # v1
    dt.update({"c_acctbal": "c_acctbal + 1"}, "c_custkey % 7 = 0")  # v2
    before = (dt.table_changes(0, 2).groupBy("_change_type").count()
              .orderBy("_change_type").collect())
    log = DeltaLog.for_table(tmp_table)
    log.compact_log(0, 2)
    DeltaLog.clear_cache()
    after = (DeltaTable.forPath(spark, tmp_table).table_changes(0, 2)
             .groupBy("_change_type").count().orderBy("_change_type")
             .collect())
    assert before == after


def test_v2_checkpoint_time_travel_and_restore(spark, tmp_table, sf_dir):
    """Time travel to a pre-checkpoint version and RESTORE both work
    when the only checkpoint is a V2 one."""
    part = load_table(spark, sf_dir, "part").limit(300)
    write_delta(part, tmp_table,
                configuration={"delta.checkpointPolicy": "v2"})
    dt = DeltaTable.forPath(spark, tmp_table)
    n0 = dt.toDF().count()
    dt.delete("p_size > 25")             # v1
    write_delta(part.limit(10), tmp_table, mode="append")  # v2
    log = DeltaLog.for_table(tmp_table)
    log.write_checkpoint(log.update())
    assert dt.asOfVersion(0).count() == n0
    dt.restoreToVersion(1)
    n1 = dt.toDF().count()
    assert n1 == part.filter("NOT coalesce(p_size > 25, false)").count()


def test_auto_log_compaction_hook(spark, tmp_table, sf_dir):
    """delta_spark.logCompaction.interval=N writes a compaction every N
    commits from the post-commit hook."""
    cust = load_table(spark, sf_dir, "customer").limit(60)
    write_delta(cust, tmp_table,
                configuration={"delta_spark.logCompaction.interval": "3"})
    for _ in range(5):                   # v1..v5
        write_delta(cust.limit(5), tmp_table, mode="append")
    compacted = sorted(os.path.basename(p) for p in glob.glob(
        os.path.join(tmp_table, "_delta_log", "*.compacted.json")))
    assert compacted == [
        "%020d.%020d.compacted.json" % (0, 2),
        "%020d.%020d.compacted.json" % (3, 5),
    ]
    # interior jsons are substitutable immediately
    os.unlink(DeltaLog.for_table(tmp_table).commit_file(4))
    DeltaLog.clear_cache()
    assert DeltaTable.forPath(spark, tmp_table).toDF().count() == 60 + 25


def test_incremental_clustering_and_optimize_full(spark, tmp_table, sf_dir):
    """Clustered-table OPTIMIZE is incremental: files already stamped
    with a ZCUBE_ID are left alone; OPTIMIZE FULL rewrites everything."""
    from delta_spark.commands.optimize import ZCUBE_ID_TAG
    from delta_spark.sql import delta_sql
    from delta_spark.table import DeltaTable as DT

    (DT.create(spark).location(tmp_table).addColumn("k", "long")
     .addColumn("v", "double").clusterBy("k").execute())
    write_delta(spark.range(2000).selectExpr("id AS k", "rand(1) AS v")
                .repartition(4), tmp_table, mode="append")
    dt = DT.forPath(spark, tmp_table)
    dt.optimize().executeCompaction()
    snap = DeltaLog.for_table(tmp_table).update()
    cubes = {(f.tags or {}).get(ZCUBE_ID_TAG) for f in snap.all_files}
    assert None not in cubes and len(cubes) == 1

    # new ingest lands un-cubed; incremental OPTIMIZE only touches it
    write_delta(spark.range(2000, 3000).selectExpr("id AS k", "rand(2) AS v")
                .repartition(3), tmp_table, mode="append")
    res = dt.optimize().executeCompaction()
    assert int(res["numRemovedFiles"]) == 3  # only the fresh files
    snap = DeltaLog.for_table(tmp_table).update()
    assert len({(f.tags or {}).get(ZCUBE_ID_TAG) for f in snap.all_files}) == 2

    # FULL (via SQL) merges everything into one new cube
    delta_sql(spark, f"OPTIMIZE delta.`{tmp_table}` FULL")
    snap = DeltaLog.for_table(tmp_table).update()
    cubes = {(f.tags or {}).get(ZCUBE_ID_TAG) for f in snap.all_files}
    assert None not in cubes and len(cubes) == 1
    assert dt.toDF().count() == 3000

    # ALTER TABLE ... CLUSTER BY swaps the clustering columns
    delta_sql(spark, f"ALTER TABLE delta.`{tmp_table}` CLUSTER BY (v)")
    import json as _json
    dm = DeltaLog.for_table(tmp_table).update().domain_metadata["delta.clustering"]
    assert _json.loads(dm.configuration)["clusteringColumns"] == ["v"]
    delta_sql(spark, f"ALTER TABLE delta.`{tmp_table}` CLUSTER BY NONE")
    dm = DeltaLog.for_table(tmp_table).update().domain_metadata["delta.clustering"]
    assert _json.loads(dm.configuration)["clusteringColumns"] == []


def test_sync_identity(spark, tmp_table, sf_dir):
    """ALTER TABLE ... SYNC IDENTITY advances the watermark past
    explicitly-inserted values so generation doesn't collide."""
    from pyspark.sql import types as T
    from delta_spark.schema import (
        IDENTITY_ALLOW_EXPLICIT_KEY,
        IDENTITY_HIGH_WATERMARK_KEY,
        IDENTITY_START_KEY,
        IDENTITY_STEP_KEY,
        identity_info,
    )
    from delta_spark.sql import delta_sql
    from delta_spark.table import DeltaTable as DT

    schema = T.StructType([
        T.StructField("rid", T.LongType(), True,
                      {IDENTITY_START_KEY: 1, IDENTITY_STEP_KEY: 1,
                       IDENTITY_ALLOW_EXPLICIT_KEY: True}),
        T.StructField("name", T.StringType(), True),
    ])
    DT.create(spark).location(tmp_table).addColumns(schema).execute()
    # explicit insert far past the generator's position
    write_delta(spark.createDataFrame([(5000, "x"), (7000, "y")],
                                      "rid long, name string"),
                tmp_table, mode="append")
    delta_sql(spark, f"ALTER TABLE delta.`{tmp_table}` SYNC IDENTITY")
    info = identity_info(DeltaLog.for_table(tmp_table).update().schema)
    assert info["rid"]["highWaterMark"] == 7000
    # generated values now continue past 7000
    write_delta(spark.createDataFrame([("a",), ("b",)], "name string"),
                tmp_table, mode="append")
    vals = [r["rid"] for r in DT.forPath(spark, tmp_table).toDF()
            .select("rid").collect()]
    assert len(set(vals)) == 4 and min(set(vals) - {5000, 7000}) > 7000


def test_vacuum_using_inventory(spark, tmp_table, sf_dir):
    """VACUUM ... USING INVENTORY: candidates come from the supplied
    (path,length,isDir,modificationTime) DataFrame, not a tree walk."""
    cust = load_table(spark, sf_dir, "customer").limit(100)
    write_delta(cust, tmp_table)
    dt = DeltaTable.forPath(spark, tmp_table)
    dt.delete("c_custkey % 2 = 0")       # rewrite → tombstoned originals
    # an orphan the log never saw
    orphan = os.path.join(tmp_table, "orphan-file.parquet")
    with open(orphan, "wb") as fh:
        fh.write(b"junk")
    old = current_time_millis() - 10 * 24 * 3600 * 1000

    def inv_rows():
        rows = []
        for root, dirs, files in os.walk(tmp_table):
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            for name in files:
                p = os.path.join(root, name)
                rows.append((p, os.path.getsize(p), False, old))
        return rows

    inv = spark.createDataFrame(
        inv_rows(), "path string, length long, isDir boolean, modificationTime long")
    victims = dt.vacuum(0.0, dry_run=True, inventory=inv)
    assert orphan in victims
    tombs = {os.path.join(tmp_table, r.path) for r in
             DeltaLog.for_table(tmp_table).update().tombstones.values()}
    assert tombs and tombs <= set(victims)
    # active files never appear
    active = {os.path.join(tmp_table, f.path) for f in
              DeltaLog.for_table(tmp_table).update().all_files}
    assert not (active & set(victims))
    # real deletion via SQL still reads fine
    from delta_spark.sql import delta_sql
    write_delta(inv, tmp_table + "_inv")
    delta_sql(spark, f"VACUUM delta.`{tmp_table}` USING INVENTORY "
                     f"delta.`{tmp_table}_inv` RETAIN 0 HOURS")
    assert not os.path.exists(orphan)
    assert dt.toDF().count() == cust.filter("c_custkey % 2 != 0").count()


def test_optimize_purges_dv_heavy_files(spark, tmp_table, sf_dir):
    """Compaction also rewrites files whose deleted-rows ratio exceeds
    delta.optimize.maxDeletedRowsRatio, materializing their DVs."""
    li = load_table(spark, sf_dir, "lineitem").limit(1000)
    write_delta(li.repartition(1), tmp_table,
                configuration={"delta.enableDeletionVectors": "true",
                               "delta.optimize.maxDeletedRowsRatio": "0.05"})
    dt = DeltaTable.forPath(spark, tmp_table)
    dt.delete("l_quantity > 25")         # well over 5% of rows via DV
    snap = DeltaLog.for_table(tmp_table).update()
    assert any(f.deletionVector for f in snap.all_files)
    expect = dt.toDF().count()
    res = dt.optimize().executeCompaction()
    assert int(res["numDeletionVectorsRemoved"]) >= 1
    snap2 = DeltaLog.for_table(tmp_table).update()
    assert not any(f.deletionVector for f in snap2.all_files)
    assert dt.toDF().count() == expect


def test_merge_source_dataframe_alias(spark, tmp_table, sf_dir):
    """Reference-API aliasing: `target.alias("t").merge(src.alias("s"),
    "t.k = s.k")` — the source alias rides on the DataFrame."""
    ords = load_table(spark, sf_dir, "orders").limit(200)
    write_delta(ords, tmp_table)
    dt = DeltaTable.forPath(spark, tmp_table)
    src = (ords.filter("o_orderkey % 2 = 0")
           .selectExpr("o_orderkey", "o_totalprice * 2 AS newprice").alias("s"))
    (dt.alias("t").merge(src, "t.o_orderkey = s.o_orderkey")
     .whenMatchedUpdate({"o_totalprice": "s.newprice"})
     .execute())
    got = dt.toDF().filter("o_orderkey % 2 = 0") \
        .agg(F.sum("o_totalprice")).collect()[0][0]
    want = ords.filter("o_orderkey % 2 = 0") \
        .agg(F.sum(F.col("o_totalprice") * 2)).collect()[0][0]
    assert got == pytest.approx(want)


def test_reference_argument_orders(spark, tmp_table, sf_dir):
    """The reference Python API passes (condition, set) and accepts
    Column expressions; both must work alongside our (set, condition)."""
    ords = load_table(spark, sf_dir, "orders").limit(100)
    write_delta(ords, tmp_table)
    dt = DeltaTable.forPath(spark, tmp_table)
    # reference order: update(condition, set), Column condition
    dt.update(F.expr("o_orderkey % 2 = 0"), {"o_totalprice": "0.0"})
    assert dt.toDF().filter("o_orderkey % 2 = 0 AND o_totalprice != 0").count() == 0
    # reference order in merge clauses, Column values
    src = ords.filter("o_orderkey % 3 = 0") \
        .selectExpr("o_orderkey", "o_totalprice AS tp").alias("s")
    (dt.alias("t").merge(src, "t.o_orderkey = s.o_orderkey")
     .whenMatchedUpdate("s.tp > 0", {"o_totalprice": F.expr("s.tp * 10")})
     .execute())
    got = dt.toDF().filter("o_orderkey % 3 = 0 AND o_orderkey % 2 = 1") \
        .agg(F.sum("o_totalprice")).collect()[0][0]
    want = ords.filter("o_orderkey % 3 = 0 AND o_orderkey % 2 = 1") \
        .agg(F.sum(F.col("o_totalprice") * 10)).collect()[0][0]
    assert got == pytest.approx(want)


def test_add_feature_support(spark, tmp_table, sf_dir):
    """DeltaTable.addFeatureSupport upgrades to the table-features
    protocol and marks the feature supported."""
    write_delta(load_table(spark, sf_dir, "region"), tmp_table)
    dt = DeltaTable.forPath(spark, tmp_table)
    dt.addFeatureSupport("deletionVectors")
    p = DeltaLog.for_table(tmp_table).update().protocol
    assert p.minReaderVersion == 3 and p.minWriterVersion == 7
    assert "deletionVectors" in (p.readerFeatures or [])
    assert "deletionVectors" in (p.writerFeatures or [])
    dt.addFeatureSupport("appendOnly")   # writer-only
    p = DeltaLog.for_table(tmp_table).update().protocol
    assert "appendOnly" in (p.writerFeatures or [])
    assert "appendOnly" not in (p.readerFeatures or [])
    with pytest.raises(ValueError, match="unknown table feature"):
        dt.addFeatureSupport("nope")
    # table still read/writable after the upgrade
    write_delta(load_table(spark, sf_dir, "region"), tmp_table, mode="append")
    assert dt.toDF().count() == 2 * load_table(spark, sf_dir, "region").count()


def test_data_skipping_stats_columns(spark, tmp_table, sf_dir):
    """delta.dataSkippingStatsColumns restricts stats to the listed
    columns; skipping fires there and stays conservative elsewhere."""
    import json as _json

    write_delta(load_table(spark, sf_dir, "orders").limit(300), tmp_table,
                configuration={
                    "delta.dataSkippingStatsColumns": "o_orderkey,o_totalprice"})
    snap = DeltaLog.for_table(tmp_table).update()
    st = _json.loads(snap.all_files[0].stats)
    assert set(st["minValues"]) == {"o_orderkey", "o_totalprice"}
    assert "o_custkey" not in st.get("nullCount", {})
    # skipping works on a listed column...
    assert snap.files_for_scan("o_orderkey < 0") == []
    # ...and is conservative (keeps files) on an unlisted one
    assert len(snap.files_for_scan("o_custkey < 0")) == snap.num_files
    # DML rewrites preserve the restriction
    dt = DeltaTable.forPath(spark, tmp_table)
    dt.update({"o_totalprice": "o_totalprice + 1"}, "o_orderkey % 5 = 0")
    snap2 = DeltaLog.for_table(tmp_table).update()
    for f in snap2.all_files:
        assert set(_json.loads(f.stats)["minValues"]) <= {"o_orderkey", "o_totalprice"}


def test_set_transaction_retention(spark, tmp_table, sf_dir):
    """delta.setTransactionRetentionDuration expires idempotent-write
    markers at checkpoint time; fresh ones survive."""
    from delta_spark.util import current_time_millis

    write_delta(load_table(spark, sf_dir, "region"), tmp_table,
                configuration={
                    "delta.setTransactionRetentionDuration": "interval 1 hours"})
    write_delta(load_table(spark, sf_dir, "region"), tmp_table,
                mode="append", txn_app_id="old_app", txn_version=1)
    write_delta(load_table(spark, sf_dir, "region"), tmp_table,
                mode="append", txn_app_id="fresh_app", txn_version=1)
    log = DeltaLog.for_table(tmp_table)
    snap = log.update()
    # age the old marker beyond retention, then checkpoint that state
    snap.set_transactions["old_app"].lastUpdated = \
        current_time_millis() - 2 * 3600 * 1000
    log.write_checkpoint(snap)
    for v in log.list_commit_versions():
        os.unlink(log.commit_file(v))
    DeltaLog.clear_cache()
    snap2 = DeltaLog.for_table(tmp_table).update()
    assert "fresh_app" in snap2.set_transactions
    assert "old_app" not in snap2.set_transactions


def test_dv_dml_lifecycle_stress(spark, tmp_table, sf_dir):
    """Randomized-order DV DML lifecycle on one table: DV update, DV
    merge (update+insert+delete clauses), DV delete, OPTIMIZE (DV-ratio
    compaction), checkpoint replay, and RESTORE — every step verified
    against a model kept with plain DataFrame ops. The combinations
    (masks unioning across DML kinds, masked files compacted away,
    restore onto a DV version) are where mask bookkeeping breaks."""
    li = (load_table(spark, sf_dir, "lineitem").limit(2000)
          .withColumn("uid", F.monotonically_increasing_id()))
    write_delta(li.repartition(6), tmp_table,
                configuration={"delta.enableDeletionVectors": "true"})
    dt = DeltaTable.forPath(spark, tmp_table)
    model = dt.toDF().localCheckpoint()   # pin the written rows

    def check():
        got = dt.toDF()
        assert got.count() == model.count()
        # full-row equality both directions (order-insensitive)
        assert got.exceptAll(model).count() == 0
        assert model.exceptAll(got).count() == 0

    # 1. DV update
    dt.update({"l_tax": "CAST(7.0 AS DOUBLE)"}, "l_quantity > 44")
    model = model.withColumn(
        "l_tax", F.when(F.col("l_quantity") > 44, 7.0).otherwise(F.col("l_tax"))) \
        .localCheckpoint()
    check()

    # 2. DV delete over rows some of which were just updated
    dt.delete("l_quantity > 47")
    model = model.filter(~F.coalesce(F.col("l_quantity") > 47, F.lit(False))) \
        .localCheckpoint()
    check()

    # 3. DV merge: update some, delete some, insert new
    src = (model.filter("uid % 7 = 0").select("uid")
           .withColumn("act", F.when(F.col("uid") % 14 == 0, "del")
                       .otherwise("upd"))
           .unionByName(spark.range(5).select(
               (F.col("id") + 1_000_000).alias("uid"),
               F.lit("ins").alias("act"))))
    (dt.merge(src, "target.uid = source.uid")
       .whenMatchedDelete("source.act = 'del'")
       .whenMatchedUpdate({"l_discount": "CAST(0.5 AS DOUBLE)"})
       .whenNotMatchedInsert({"uid": "source.uid",
                              "l_orderkey": "CAST(-1 AS BIGINT)"})
       .execute())
    dels = src.filter("act = 'del'").select("uid")
    upds = src.filter("act = 'upd'").select("uid")
    kept = model.join(dels, "uid", "left_anti")
    kept = (kept.alias("m").join(upds.alias("u"), "uid", "left_outer")
            .select(*[F.when(F.col("u.uid").isNotNull() & (F.lit(c) == "l_discount"),
                             F.lit(0.5)).otherwise(F.col(f"m.{c}")).alias(c)
                      if c == "l_discount" else F.col(f"m.{c}").alias(c)
                      for c in model.columns]))
    ins = src.filter("act = 'ins'").select("uid")
    ins_rows = ins.select(
        *[F.lit(-1).cast("bigint").alias(c) if c == "l_orderkey"
          else (F.col("uid") if c == "uid"
                else F.lit(None).cast(model.schema[c].dataType).alias(c))
          for c in model.columns])
    model = kept.unionByName(ins_rows).localCheckpoint()
    check()
    v_before_opt = DeltaLog.for_table(tmp_table).latest_version()

    # 4. OPTIMIZE materializes masks away; contents unchanged
    dt.optimize().executeCompaction()
    check()

    # 5. checkpoint + replay from it alone
    log = DeltaLog.for_table(tmp_table)
    log.write_checkpoint()
    DeltaLog.clear_cache()
    dt = DeltaTable.forPath(spark, tmp_table)
    check()

    # 6. restore onto the DV-masked pre-OPTIMIZE version
    dt.restoreToVersion(v_before_opt)
    check()


def test_cdf_bound_validation(spark, tmp_table):
    """CDF range errors mirror the reference: end<start raises
    (DeltaErrors.endBeforeStartVersionInCDC), start>latest raises
    (startVersionAfterLatestVersion), and startingTimestamp past the
    last commit raises instead of silently resolving backwards."""
    write_delta(spark.range(3).withColumnRenamed("id", "a"), tmp_table,
                configuration={"delta.enableChangeDataFeed": "true"})
    write_delta(spark.range(3, 6).withColumnRenamed("id", "a"), tmp_table,
                mode="append")
    dt = DeltaTable.forPath(spark, tmp_table)
    with pytest.raises(ValueError, match="End cannot be before start"):
        dt.table_changes(starting_version=1, ending_version=0).count()
    with pytest.raises(ValueError, match="cannot be greater than the latest"):
        dt.table_changes(starting_version=5).count()
    with pytest.raises(ValueError, match="after the latest commit"):
        dt.table_changes(starting_timestamp="2035-01-01 00:00:00").count()
    # at-or-after semantics: a timestamp before the first commit reads
    # everything from version 0
    assert dt.table_changes(
        starting_timestamp="2000-01-01 00:00:00").count() == 6


def test_cdf_range_before_enablement_errors(spark, tmp_table):
    """A CDF read whose start version predates delta.enableChangeDataFeed
    raises (CDCReader DeltaErrors.changeDataNotRecordedException) —
    change data was simply not recorded for those commits."""
    write_delta(spark.range(3).withColumnRenamed("id", "a"), tmp_table)  # v0
    dt = DeltaTable.forPath(spark, tmp_table)
    dt.setProperties({"delta.enableChangeDataFeed": "true"})             # v1
    write_delta(spark.range(3, 6).withColumnRenamed("id", "a"), tmp_table,
                mode="append")                                           # v2
    with pytest.raises(ValueError, match="change data was not recorded"):
        dt.table_changes(starting_version=0).count()
    assert dt.table_changes(starting_version=2).count() == 3


def test_cdf_mid_range_disablement_errors(spark, tmp_table):
    """A data commit made while CDF was DISABLED mid-range raises
    (per-commit changeDataNotRecordedException) instead of synthesizing
    fabricated change rows."""
    write_delta(spark.range(3).withColumnRenamed("id", "a"), tmp_table,
                configuration={"delta.enableChangeDataFeed": "true"})  # v0
    dt = DeltaTable.forPath(spark, tmp_table)
    dt.setProperties({"delta.enableChangeDataFeed": "false"})           # v1
    write_delta(spark.range(3, 6).withColumnRenamed("id", "a"), tmp_table,
                mode="append")                                          # v2
    dt.setProperties({"delta.enableChangeDataFeed": "true"})            # v3
    write_delta(spark.range(6, 9).withColumnRenamed("id", "a"), tmp_table,
                mode="append")                                          # v4
    with pytest.raises(ValueError, match="not recorded for version \\[2\\]"):
        dt.table_changes(starting_version=0).count()
    # a range avoiding the dark commit works
    assert dt.table_changes(starting_version=4).count() == 3


def test_cdf_reserved_column_names_rejected(spark, tmp_table, tmp_path):
    """CDCReader.scala:700 checkMetadataChange: a CDF-enabled table must
    not carry columns shadowing the CDC read schema (_change_type,
    _commit_version, _commit_timestamp) — at create, at enablement, and
    at rename-into-collision."""
    df = spark.range(3).withColumnRenamed("id", "_change_type")
    with pytest.raises(ValueError, match="reserved columns"):
        write_delta(df, tmp_table,
                    configuration={"delta.enableChangeDataFeed": "true"})
    # table that already has the column: enabling CDF errors
    write_delta(df, tmp_table)
    dt = DeltaTable.forPath(spark, tmp_table)
    with pytest.raises(ValueError, match="reserved columns"):
        dt.setProperties({"delta.enableChangeDataFeed": "true"})
    # CDF-enabled table: renaming a column into the reserved set errors
    p2 = str(tmp_path / "cdf2")
    write_delta(spark.range(3).withColumnRenamed("id", "a"), p2,
                configuration={
                    "delta.enableChangeDataFeed": "true",
                    "delta.columnMapping.mode": "name",
                    "delta.minReaderVersion": "2",
                    "delta.minWriterVersion": "5"})
    dt2 = DeltaTable.forPath(spark, p2)
    with pytest.raises(ValueError, match="reserved"):
        dt2.renameColumn("a", "_commit_version")


def test_session_conf_idempotent_dml(spark, tmp_table):
    """DeltaSuite 'idempotent write: idempotent DeltaTable merge/update/
    delete' + 'auto reset txnVersion': the
    spark.databricks.delta.write.txnAppId/.txnVersion session confs make
    every write and DML command replay-safe."""
    spark.conf.set("spark.databricks.delta.write.txnAppId", "idemTest")
    try:
        write_delta(spark.createDataFrame([(0, 0)], "col1 int, col2 int")
                    .limit(0), tmp_table)
        dt = DeltaTable.forPath(spark, tmp_table)

        def run_merge(c1, c2, ver):
            spark.conf.set("spark.databricks.delta.write.txnVersion",
                           str(ver))
            (dt.alias("t")
             .merge(spark.createDataFrame([(c1, c2)], "col1 int, col2 int")
                    .alias("s"), "t.col1 = s.col1")
             .whenMatchedUpdate({"col2": "t.col2 + s.col2"})
             .whenNotMatchedInsertAll().execute())

        def rows():
            return [(r["col1"], r["col2"]) for r in dt.toDF().collect()]

        run_merge(1, 0, 1)
        assert rows() == [(1, 0)]
        run_merge(1, 2, 2)
        assert rows() == [(1, 2)]
        run_merge(1, 2, 2)                      # replay: skipped
        assert rows() == [(1, 2)]
        run_merge(1, 3, 3)
        assert rows() == [(1, 5)]
        # idempotent update
        spark.conf.set("spark.databricks.delta.write.txnVersion", "4")
        dt.update({"col2": "99"}, "col1 = 1")
        spark.conf.set("spark.databricks.delta.write.txnVersion", "4")
        dt.update({"col2": "777"}, "col1 = 1")  # replay: skipped
        assert rows() == [(1, 99)]
        # autoReset: the version conf is consumed; reuse errors
        spark.conf.set(
            "spark.databricks.delta.write.txnVersion.autoReset.enabled",
            "true")
        spark.conf.set("spark.databricks.delta.write.txnVersion", "5")
        dt.delete("col1 = 999")
        with pytest.raises(ValueError, match="idempotent"):
            dt.delete("col1 = 998")
    finally:
        for k in ("spark.databricks.delta.write.txnAppId",
                  "spark.databricks.delta.write.txnVersion",
                  "spark.databricks.delta.write.txnVersion.autoReset.enabled"):
            try:
                spark.conf.unset(k)
            except Exception:
                pass


def test_merge_pins_timestamps_across_phases(spark, tmp_table):
    """PreprocessTableMerge.transformTimestamps: now()/
    current_timestamp()/current_date() in merge clauses resolve to ONE
    instant — every written row carries the same value, and phase-1
    file finding agrees with the phase-2 projection."""
    write_delta(spark.range(5).selectExpr(
        "id", "CAST(NULL AS timestamp) AS ts"), tmp_table)
    dt = DeltaTable.forPath(spark, tmp_table)
    (dt.alias("t")
     .merge(spark.range(8).selectExpr("id").alias("s"), "t.id = s.id")
     .whenMatchedUpdate({"ts": "current_timestamp()"})
     .whenNotMatchedInsert({"id": "s.id", "ts": "now()"})
     .execute())
    vals = dt.toDF().filter("ts IS NOT NULL").select("ts").distinct()
    assert vals.count() == 1          # matched + inserted share one instant
    assert dt.toDF().count() == 8


def test_merge_clause_order_first_match_wins(spark, tmp_table):
    """Multiple WHEN MATCHED clauses evaluate in DECLARATION order —
    the first whose condition holds consumes the row (protocol MERGE
    semantics; DeltaMergeInto clause ordering)."""
    from delta_spark.io import write_delta
    from delta_spark.table import DeltaTable

    write_delta(spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30)], "k int, v int"), tmp_table)
    dt = DeltaTable.forPath(spark, tmp_table)
    s = spark.createDataFrame([(1, 100), (2, 200), (3, 300)], "k int, v int")
    (dt.merge(s.alias("s"), "t.k = s.k", target_alias="t")
     .whenMatchedDelete(condition="t.v = 10")
     .whenMatchedUpdate(set={"v": "s.v"})
     .execute())
    assert sorted((r.k, r.v) for r in dt.toDF().collect()) == \
        [(2, 200), (3, 300)]


def test_merge_insert_and_by_source_clause_order(spark, tmp_table):
    """Conditional NOT MATCHED inserts pick the first matching clause;
    NOT MATCHED BY SOURCE update/delete conditions partition the
    untouched target rows."""
    from delta_spark.io import write_delta
    from delta_spark.table import DeltaTable

    write_delta(spark.createDataFrame(
        [(1, 10), (2, 20)], "k int, v int"), tmp_table)
    dt = DeltaTable.forPath(spark, tmp_table)
    s = spark.createDataFrame([(3, 300), (4, 400)], "k int, v int")
    (dt.merge(s.alias("s"), "t.k = s.k", target_alias="t")
     .whenNotMatchedInsert(condition="s.v > 350",
                           values={"k": "s.k", "v": "s.v + 1"})
     .whenNotMatchedInsert(values={"k": "s.k", "v": "0"})
     .whenNotMatchedBySourceUpdate(condition="t.v = 10", set={"v": "-1"})
     .whenNotMatchedBySourceDelete(condition="t.v = 20")
     .execute())
    assert sorted((r.k, r.v) for r in dt.toDF().collect()) == \
        [(1, -1), (3, 0), (4, 401)]


@pytest.fixture()
def wide_dml_shuffle(spark):
    """Give a tiny DML its full shuffle width (no size-scoped narrowing,
    no AQE coalescing), so its join output spans several partitions."""
    from delta_spark.util import DML_TARGET_PARTITION_BYTES_CONF

    confs = {DML_TARGET_PARTITION_BYTES_CONF: "1",
             "spark.sql.shuffle.partitions": "8",
             "spark.sql.adaptive.coalescePartitions.enabled": "false"}
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    yield
    for k, v in saved.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


@pytest.mark.parametrize("dv", [True, False], ids=["dv", "rewrite"])
def test_merge_metrics_exact(spark, tmp_table, wide_dml_shuffle, dv):
    """MERGE operationMetrics are exact on a multi-file target whose
    join spans several partitions: with deletion vectors the DV bitmap
    job and the new-file write read the same persisted rows
    concurrently, and the metrics must not depend on which finishes
    first. Source rows that no insert clause takes are not deletes."""
    cfg = {"delta.enableDeletionVectors": str(dv).lower()}
    write_delta(spark.range(0, 400, numPartitions=4)
                .selectExpr("id AS k", "id % 7 AS v"),
                tmp_table, configuration=cfg)
    dt = DeltaTable.forPath(spark, tmp_table)
    assert len(DeltaLog.for_table(tmp_table).update().all_files) == 4
    # source keys 0, 3, ..., 597: 134 match (67 even → delete, 67 odd →
    # update), 66 don't (33 even → insert, 33 odd → no clause applies)
    src = spark.range(0, 600, 3, numPartitions=4).selectExpr("id AS k",
                                                             "id AS nv")
    (dt.merge(src, "t.k = s.k", target_alias="t", source_alias="s")
     .whenMatchedDelete(condition="s.k % 2 = 0")
     .whenMatchedUpdate(set={"v": "s.nv"})
     .whenNotMatchedInsert(condition="s.k % 2 = 0",
                           values={"k": "s.k", "v": "s.nv"})
     .execute())
    m = dt.history(1).collect()[0]["operationMetrics"]
    expected = {"numTargetRowsUpdated": "67", "numTargetRowsDeleted": "67",
                "numTargetRowsInserted": "33",
                # every file holds matched keys: all 400 - 134 unmatched
                # target rows are in touched files
                "numTargetRowsCopied": "266"}
    if dv:
        expected["numDeletionVectorsAdded"] = "4"
    assert {k: m.get(k) for k in expected} == expected
    assert dt.toDF().count() == 400 - 67 + 33


def test_dv_merge_keeps_both_thread_and_write_errors(spark, tmp_table,
                                                     monkeypatch):
    """When the DV bitmap job (driver thread) and the new-file write
    both fail, the write's error is raised with the DV job's error as
    its cause — neither is lost."""
    import delta_spark.commands.merge as merge_mod

    dv_err = RuntimeError("dv job failed")
    write_err = RuntimeError("write failed")

    def fail_dv(*a, **kw):
        raise dv_err

    def fail_write(*a, **kw):
        raise write_err

    write_delta(spark.range(10).selectExpr("id AS k", "id AS v"), tmp_table,
                configuration={"delta.enableDeletionVectors": "true"})
    dt = DeltaTable.forPath(spark, tmp_table)
    monkeypatch.setattr(merge_mod, "mask_rows_with_dvs", fail_dv)
    monkeypatch.setattr(merge_mod, "write_table_files", fail_write)
    src = spark.range(5, 15).selectExpr("id AS k", "id * 10 AS nv")
    with pytest.raises(RuntimeError) as ei:
        (dt.merge(src, "t.k = s.k", target_alias="t", source_alias="s")
         .whenMatchedUpdate(set={"v": "s.nv"})
         .whenNotMatchedInsert(values={"k": "s.k", "v": "s.nv"})
         .execute())
    assert ei.value is write_err
    assert ei.value.__cause__ is dv_err
    assert dt.toDF().count() == 10   # nothing committed
