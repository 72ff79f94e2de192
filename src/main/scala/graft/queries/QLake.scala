package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.core.PartitionField
import graft.engine.Engine
import Q._

/** Lakehouse DML surface exercised through the differential gate: each
  * query builds a lake table from the fixture, applies transactional
  * operations (INSERT / COW DELETE / COW UPDATE / compaction / snapshot
  * time travel / hidden-partition pruned scan), then returns an aggregate
  * whose oracle is plain SQL over the fixture — so the oracle checks that
  * the table format's write/rewrite/commit machinery preserves exactly the
  * right rows (the reference tests the same way:
  * test_writable_table_{insert,update,delete,vacuum}.py).
  */
object QLake extends Batch {

  private def tmp(name: String): String =
    Files.createTempDirectory(s"qlake_$name").toString + "/t"

  val queries: Map[String, QueryFn] = Map(
    // INSERT append: two commits, second a filtered re-insert
    "q_lake_insert" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val tbl = Engine.ctas(s, tmp("ins"), li)
      Engine.insert(tbl, li.filter(col("l_returnflag") === "R"))
      tbl.toDF.groupBy("l_returnflag")
        .agg(round(sum("l_quantity"), 2).as("sum_qty"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    },

    // CDC incremental-append read (appendsBetween): snapshot window
    // covering two appends, a compaction (whose rewrite outputs must NOT
    // re-emit), a MOR delete of in-window rows (which must not surface),
    // and a final append — the exact replay contract a streaming
    // backfill consumer depends on (LakeCdcSource reads this API)
    "q_lake_cdc" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val tbl = Engine.ctas(s, tmp("cdc"),
        li.filter(col("l_returnflag") === "A"))
      val from = tbl.meta.currentSnapshotId
      Engine.compact(tbl) // rewrite: pre-existing rows, not CDC appends
      Engine.insert(tbl, li.filter(col("l_returnflag") === "N"))
      Engine.insert(tbl, li.filter(col("l_returnflag") === "R"))
      // MOR delete of rows appended inside the window (the delete's
      // position files target the still-live append files — a delete
      // AFTER a compaction of those rows would target the rewritten
      // paths instead, which incremental-append replay by design does
      // not chase; Iceberg's incremental append scan shares this
      // contract)
      Engine.deleteMor(tbl,
        col("l_returnflag") === "N" && col("l_quantity") > 40)
      Engine.insert(tbl, li.filter(
        col("l_returnflag") === "A" && col("l_quantity") <= 5))
      val to = tbl.meta.currentSnapshotId
      tbl.appendsBetween(from, to)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          round(sum("l_quantity"), 2).as("sum_qty"))
        .orderBy("l_returnflag")
    },

    // delta-cdc streaming source replayed to a memory sink: the window
    // after the create must emit the two appends and SKIP the
    // dataChange:false compaction rewrite — the oracle reconstructs
    // exactly the appended rows from the fixture
    "q_delta_cdc" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_quantity", "l_returnflag")
      val loc = tmp("dcdc")
      graft.core.DeltaExport.create(
        li.filter(col("l_returnflag") === "A"), loc) // v0 (excluded)
      graft.core.DeltaExport.append(s,
        li.filter(col("l_returnflag") === "N"), loc) // v1
      graft.core.DeltaExport.compact(s, loc) // v2: rewrite, must not emit
      graft.core.DeltaExport.append(s,
        li.filter(col("l_returnflag") === "R"), loc) // v3
      val qn = s"q_delta_cdc_mem_${System.nanoTime()}"
      val ckpt = Files.createTempDirectory("dcdc_ckpt").toString
      val q = s.readStream.format("delta-cdc")
        .option("path", loc).option("startVersion", "0").load()
        .writeStream.format("memory").queryName(qn)
        .option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
      s.table(qn).groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          round(sum("l_quantity"), 2).as("sum_qty"))
        .orderBy("l_returnflag")
    },

    // iceberg-cdc streaming source replayed to a memory sink: initial
    // snapshot + two appends stream exactly once, the compaction
    // rewrite between them is silent — if the rewrite leaked, every
    // pre-compaction row would double and the oracle hash would diverge
    "q_iceberg_cdc" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_quantity", "l_returnflag")
      val loc = tmp("icdc")
      val tbl = Engine.ctas(s, loc, li.filter(col("l_returnflag") === "A"))
      graft.core.IcebergExport.export(tbl, loc, avroManifests = false)
      val qn = s"q_iceberg_cdc_mem_${System.nanoTime()}"
      val ckpt = Files.createTempDirectory("icdc_ckpt").toString
      val q = s.readStream.format("iceberg-cdc")
        .option("path", loc).load()
        .writeStream.format("memory").queryName(qn)
        .option("checkpointLocation", ckpt).start()
      try {
        q.processAllAvailable()
        def advance(): Unit = {
          graft.core.IcebergExport.export(
            graft.core.LakeTable.load(s, loc), loc, avroManifests = false)
          q.processAllAvailable()
        }
        Engine.insert(graft.core.LakeTable.load(s, loc),
          li.filter(col("l_returnflag") === "N"))
        advance()
        Engine.compact(graft.core.LakeTable.load(s, loc))
        advance() // rewrite: must stream NOTHING
        Engine.insert(graft.core.LakeTable.load(s, loc),
          li.filter(col("l_returnflag") === "R"))
        advance()
      } finally q.stop()
      s.table(qn).groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          round(sum("l_quantity"), 2).as("sum_qty"))
        .orderBy("l_returnflag")
    },

    // COW DELETE over a month-partitioned table (metadata-only drops for
    // whole partitions + rewrite for the boundary files)
    "q_lake_delete" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val tbl = Engine.ctas(s, tmp("del"), li,
        spec = List(PartitionField("l_shipdate", "month")))
      Engine.delete(tbl, col("l_shipdate") < lit("1997-02-15").cast("timestamp"))
      tbl.toDF.groupBy(year(col("l_shipdate")).as("y"))
        .agg(count(lit(1)).as("n"), round(sum("l_extendedprice"), 2).as("rev"))
        .orderBy("y")
    },

    // COW UPDATE: assignment applied only to matching rows
    "q_lake_update" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val tbl = Engine.ctas(s, tmp("upd"), li)
      Engine.update(tbl, col("l_returnflag") === "R",
        Map("l_tax" -> (col("l_tax") + 0.01),
            "l_linestatus" -> lit("U")))
      tbl.toDF.groupBy("l_returnflag", "l_linestatus")
        .agg(round(sum("l_tax"), 4).as("sum_tax"), count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    // compaction: many small commits merged; data must be unchanged
    "q_lake_compact" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val tbl = Engine.create(s, tmp("cmp"), li.schema.toDDL)
      for (i <- 0 until 4)
        Engine.insert(tbl, li.filter(col("l_orderkey") % 4 === i))
      Engine.compact(tbl)
      Engine.expireSnapshots(tbl, keepLast = 1)
      tbl.toDF.groupBy("l_linestatus")
        .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("sum_qty"))
        .orderBy("l_linestatus")
    },

    // merge-on-read DELETE: position-delete files + anti-join reads
    // (position_delete_dest.c path), flushed before the final aggregate
    "q_lake_delete_mor" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val tbl = Engine.ctas(s, tmp("mor"), li)
      Engine.deleteMor(tbl, col("l_discount") > 0.08)
      val viaMor = tbl.toDF.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("sum_qty"))
      // flush must not change results
      Engine.flushDeletes(tbl)
      val viaFlushed = tbl.toDF.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("sum_qty"))
      require(viaMor.orderBy("l_returnflag").collect()
        .sameElements(viaFlushed.orderBy("l_returnflag").collect()),
        "MOR read and flushed read disagree")
      viaFlushed.orderBy("l_returnflag")
    },

    // equality DELETE (content=2 key files, the streaming-upsert delete
    // path): delete every order of customers holding an 'F' order by
    // KEY (no data scan at write time), then APPEND rows that reuse
    // deleted keys — the v2 sequence rule (strictly-older data files
    // only) must keep them; MOR read ≡ flushed read asserted in-query
    "q_lake_delete_eq" -> { (s, dir) =>
      val o = t(s, dir, "orders")
      val tbl = Engine.ctas(s, tmp("eqdel"), o)
      Engine.deleteByKey(tbl, Seq("o_custkey"),
        o.filter(col("o_orderstatus") === "F").select("o_custkey"))
      Engine.insert(tbl, o.filter(col("o_orderstatus") === "F" &&
        col("o_orderpriority") === "1-URGENT"))
      val viaMor = tbl.toDF.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("tot"))
      Engine.flushDeletes(tbl)
      val viaFlushed = tbl.toDF.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("tot"))
      require(viaMor.orderBy("o_orderstatus").collect()
        .sameElements(viaFlushed.orderBy("o_orderstatus").collect()),
        "equality-delete MOR read and flushed read disagree")
      viaFlushed.orderBy("o_orderstatus")
    },

    // streaming upsert (equality-delete + append in one call, the
    // CDC-apply write shape): every 'F' order replaced by a
    // doubled-price version under its unique o_orderkey
    "q_lake_upsert" -> { (s, dir) =>
      val o = t(s, dir, "orders")
      val tbl = Engine.ctas(s, tmp("ups"), o)
      Engine.upsertByKey(tbl, Seq("o_orderkey"),
        o.filter(col("o_orderstatus") === "F")
          .withColumn("o_totalprice", col("o_totalprice") * 2))
      tbl.toDF.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("tot"))
        .orderBy("o_orderstatus")
    },

    // streaming CDC-apply (upsertStream): the 'O' orders arrive as one
    // CDC batch with doubled prices AND a stale duplicate event per key
    // — the last-wins reduction on the envelope's _lsn must collapse
    // them before the equality-delete + append lands
    "q_lake_upsert_stream" -> { (s, dir) =>
      val o = t(s, dir, "orders")
      val tbl = Engine.ctas(s, tmp("upstr"), o)
      val src = Files.createTempDirectory("qlake_upstr_src").toString
      val ckpt = Files.createTempDirectory("qlake_upstr_ckpt").toString
      val stale = o.filter(col("o_orderstatus") === "O")
        .withColumn("_lsn", lit(1L))
      val fresh = o.filter(col("o_orderstatus") === "O")
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .withColumn("_lsn", lit(2L))
      stale.union(fresh).write.parquet(s"$src/b1")
      val stream = s.readStream.schema(
        stale.schema).parquet(s"$src/b1")
      val q = graft.streaming.StreamIngest.upsertStream(tbl, stream,
        Seq("o_orderkey"), ckpt, orderCol = Some("_lsn"))
      q.awaitTermination(120000)
      tbl.toDF.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("tot"))
        .orderBy("o_orderstatus")
    },

    // snapshot isolation: read the pre-delete snapshot after a delete
    "q_lake_timetravel" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val tbl = Engine.ctas(s, tmp("tt"), li)
      val preDelete = tbl.meta.currentSnapshotId
      Engine.delete(tbl, col("l_quantity") > 10)
      tbl.asOf(preDelete).groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("sum_qty"))
        .orderBy("l_returnflag")
    },

    // TIMESTAMP AS OF time travel: resolve a wall-clock instant through
    // the snapshot log's commit timestamps (latest-at-or-before), read
    // the pre-delete state after a later delete rewrote the table
    "q_lake_timetravel_ts" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val tbl = Engine.ctas(s, tmp("tts"), li)
      val t0 = tbl.meta.currentSnapshot.get.timestampMs
      Thread.sleep(5) // the delete must commit strictly after t0
      Engine.delete(tbl, col("l_quantity") <= 25)
      require(tbl.meta.currentSnapshot.get.timestampMs > t0,
        "delete committed in the same millisecond as the create")
      tbl.asOfTimestamp(t0).groupBy("l_linestatus")
        .agg(count(lit(1)).as("n"), round(sum("l_extendedprice"), 2).as("rev"))
        .orderBy("l_linestatus")
    },

    // ALTER COLUMN TYPE widening: old int32 files + post-widening int64
    // files must aggregate identically to the plain fixture union
    "q_lake_alter_type" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val tbl = Engine.ctas(s, tmp("alt"), li)
      Engine.alterColumnType(tbl, "l_linenumber", "BIGINT")
      Engine.insert(tbl, tbl.toDF.filter(col("l_returnflag") === "A"))
      tbl.toDF.groupBy("l_returnflag")
        .agg(sum("l_linenumber").as("sum_ln"), count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    },

    // MERGE INTO (upsert): every target row keyed like an R row takes
    // the source's constant quantity; per-N-order aggregate rows insert
    // under fresh keys — one snapshot; the oracle replays it as
    // EXISTS-CASE + UNION ALL over the fixture. Source rows are
    // aggregate-constructed so their keys are provably unique (the
    // fixture's (orderkey, linenumber) pairs repeat — MERGE's
    // cardinality rule would reject raw rows).
    "q_lake_merge" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val tbl = Engine.ctas(s, tmp("mrg"), li)
      val keys = Seq("l_orderkey", "l_linenumber")
      val others = li.columns.filterNot(keys.contains).toSeq
      val updates = li.filter(col("l_returnflag") === "R")
        .groupBy(keys.map(col): _*)
        .agg(max(others.head).as(others.head),
          others.tail.map(c => max(c).as(c)): _*)
        .withColumn("l_quantity", lit(999.0))
      val inserts = li.filter(col("l_returnflag") === "N")
        .groupBy(col("l_orderkey"))
        .agg(max("l_linenumber").as("l_linenumber"),
          others.map(c => max(c).as(c)): _*)
        .withColumn("l_orderkey", col("l_orderkey") + 100000000L)
        .withColumn("l_linenumber", lit(1).cast("int"))
      Engine.merge(tbl,
        updates.select(li.columns.map(col): _*)
          .unionByName(inserts.select(li.columns.map(col): _*)), keys,
        whenMatchedUpdate = Some(Seq("l_quantity")))
      tbl.toDF.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          round(sum("l_quantity"), 2).as("sum_qty"))
        .orderBy("l_returnflag")
    },

    // Delta interop: export lineitem as a partitioned Delta table (our
    // writer emits the public _delta_log protocol), commit a metadata-
    // only partition remove, then scan through the log-replaying reader
    // — partition values come from partitionValues actions, not files.
    "q_delta_scan" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag")
      val dloc = tmp("delta")
      graft.core.DeltaExport.create(li, dloc, partitionBy = Seq("l_returnflag"))
      graft.core.DeltaExport.removeWhere(s, dloc,
        pv => pv.get("l_returnflag").flatten.contains("N"))
      graft.core.DeltaImport.scan(s, dloc)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("rev"))
        .orderBy("l_returnflag")
    },

    // deletion-vector DELETE (protocol v3): two row-level DV deletes
    // stack on the same files (vectors merge), no data file rewritten;
    // the read applies the bitmaps as a position anti-join — oracle is
    // the equivalent double NOT filter over the fixture
    "q_delta_dv" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_quantity", "l_extendedprice",
          "l_returnflag", "l_discount")
      val dloc = tmp("deltadv")
      graft.core.DeltaExport.create(li, dloc)
      graft.core.DeltaExport.deleteWhereDv(s, dloc, col("l_quantity") > 35)
      graft.core.DeltaExport.deleteWhereDv(s, dloc, col("l_discount") > 0.08)
      graft.core.DeltaImport.scan(s, dloc)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("rev"))
        .orderBy("l_returnflag")
    },

    // bucketed co-located join: both facts rewritten hash-clustered by
    // the join key (engine/Bucketed.scala) so the join runs with NO
    // exchange and NO sort — the storage-side answer to the fact⋈fact
    // co-shuffle; the oracle proves the layout changes nothing about
    // the result (BucketedSpec pins the exchange-free plan itself)
    "q_lake_bucketed_join" -> { (s, dir) =>
      val base = tmp("bkt")
      val bl = graft.engine.Bucketed.write(t(s, dir, "lineitem"),
        "qlake_bkt_li", s"$base/li", Seq("l_orderkey"), 8)
      val bo = graft.engine.Bucketed.write(t(s, dir, "orders"),
        "qlake_bkt_ord", s"$base/ord", Seq("o_orderkey"), 8)
      bl.join(bo, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"), count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    },

    // CDC SWITCHOVER (streaming/Cdc.scala — the reference's logical-
    // replication shape, pg_lake_replication.c: bootstrap then stream):
    // a full-snapshot backfill pinned to its commit id, then incremental
    // windows continuing from EXACTLY that id across appends, a
    // compaction (must not re-emit) and an in-window MOR delete (must
    // not surface). The replica = backfill ∪ windows; the oracle is the
    // full reconstruction of what the table should contain.
    "q_cdc_switchover" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val path = tmp("sw")
      Engine.ctas(s, path, li.filter(col("l_returnflag") === "A"))
      val boot = graft.streaming.Cdc.snapshot(s, path)
      def tb = graft.core.LakeTable.load(s, path)
      Engine.insert(tb, li.filter(col("l_returnflag") === "N"))
      Engine.compact(tb)
      val w1 = graft.streaming.Cdc.changesSince(s, path, boot.offset)
      Engine.insert(tb, li.filter(col("l_returnflag") === "R"))
      Engine.deleteMor(tb,
        col("l_returnflag") === "R" && col("l_quantity") > 40)
      val w2 = graft.streaming.Cdc.changesSince(s, path, w1.offset)
      val idle = graft.streaming.Cdc.changesSince(s, path, w2.offset)
      require(idle.offset == w2.offset, "idle window must not advance")
      boot.df.unionByName(w1.df).unionByName(w2.df)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          round(sum("l_quantity"), 2).as("sum_qty"))
        .orderBy("l_returnflag")
    },

    // clustering as PRODUCTION posture (engine/ClusterLayout.scala):
    // declare once, converge with bounded incremental ticks, insert
    // clustering-aware, COW-delete (which must reset+rebuild the layout
    // — the layout may never serve dropped rows), reconverge, and read
    // through the AUTOMATIC dispatch path. The requires make the
    // dispatch itself part of the gate; the oracle proves the layout
    // lifecycle preserved exactly the right rows.
    "q_lake_clustered_read" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val tbl = Engine.ctas(s, tmp("clus"),
        li.filter(col("l_orderkey") % 2 === 0))
      graft.engine.ClusterLayout.declare(tbl, Seq("l_orderkey"), 8)
      require(graft.engine.ClusterLayout.converge(tbl,
        maxFilesPerRound = 4, maxBucketMergesPerRound = 8))
      graft.engine.ClusterLayout.insert(tbl,
        li.filter(col("l_orderkey") % 2 === 1))
      require(!graft.engine.ClusterLayout.isConverged(tbl),
        "append must stale the layout")
      require(graft.engine.ClusterLayout.converge(tbl))
      Engine.delete(tbl, col("l_quantity") > 45) // COW rewrite → reset
      require(graft.engine.ClusterLayout.converge(tbl))
      val df = graft.engine.ClusterLayout.read(tbl)
      require(df.queryExecution.executedPlan.toString.contains("_clustered"),
        "converged read must dispatch to the clustered layout")
      df.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("rev"))
        .orderBy("l_returnflag")
    },

    // pruned scan: result must equal a plain filtered aggregate even
    // though most files were never opened
    "q_lake_prune_scan" -> { (s, dir) =>
      val o = t(s, dir, "orders")
      val tbl = Engine.ctas(s, tmp("prn"), o,
        spec = List(PartitionField("o_orderdate", "year")))
      val (df, stats) = tbl.scan(
        col("o_orderdate") >= lit("1998-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1999-01-01").cast("timestamp"))
      require(stats.skipped > 0, s"expected pruning, got $stats")
      df.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
        .orderBy("o_orderpriority")
    },

    // OPTIMIZE ... ZORDER BY: rewrite the table along the Morton curve
    // of (o_custkey, o_totalprice), then prove BOTH dimensions prune at
    // file level — a leading-column sort would only skip on one. The
    // requires make the skipping itself part of the gate; the oracle
    // checks the layout-only rewrite preserved exactly the right rows.
    "q_lake_zorder" -> { (s, dir) =>
      val o = t(s, dir, "orders")
      val tbl = Engine.ctas(s, tmp("zo"), o)
      Engine.optimizeZOrder(tbl, Seq("o_custkey", "o_totalprice"),
        numFiles = 8)
      val (_, byKey) = tbl.scan(col("o_custkey") < 100)
      require(byKey.skipped > 0,
        s"expected custkey-range file skipping, got $byKey")
      val (df, byPrice) = tbl.scan(col("o_totalprice") > 450000.0)
      require(byPrice.skipped > 0,
        s"expected totalprice-range file skipping, got $byPrice")
      df.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          round(sum("o_totalprice"), 2).as("total"))
        .orderBy("o_orderpriority")
    })

  override val oracleSql: Map[String, String] = Map(
    "q_lake_insert" ->
      """SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty,
        |  count(*) AS n
        |FROM (SELECT * FROM lineitem
        |      UNION ALL SELECT * FROM lineitem WHERE l_returnflag = 'R')
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // the CDC window's appends: the N rows that survive the in-window
    // MOR delete, every R row, and the final low-quantity A append —
    // and NOTHING from the pre-window ctas or the compaction rewrite
    "q_lake_cdc" ->
      """SELECT l_returnflag, count(*) AS n,
        |  round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem
        |WHERE (l_returnflag = 'N' AND NOT (l_quantity > 40))
        |   OR l_returnflag = 'R'
        |   OR (l_returnflag = 'A' AND l_quantity <= 5)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // the delta CDC window's appends: N and R, nothing from the
    // pre-window create (A) or the compaction rewrite
    "q_delta_cdc" ->
      """SELECT l_returnflag, count(*) AS n,
        |  round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem
        |WHERE l_returnflag IN ('N', 'R')
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // the iceberg CDC replay: initial A snapshot + N and R appends,
    // each exactly once; the compaction rewrite contributes nothing
    "q_iceberg_cdc" ->
      """SELECT l_returnflag, count(*) AS n,
        |  round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem
        |WHERE l_returnflag IN ('A', 'N', 'R')
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // replica reconstruction: A backfill + N window + (R minus the
    // in-window MOR delete) window
    "q_cdc_switchover" ->
      """SELECT l_returnflag, count(*) AS n,
        |  round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem
        |WHERE l_returnflag IN ('A', 'N')
        |   OR (l_returnflag = 'R' AND NOT (l_quantity > 40))
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // full clustering lifecycle: ctas(even) + insert(odd) = all rows,
    // then the COW delete drops l_quantity > 45
    "q_lake_clustered_read" ->
      """SELECT l_returnflag, count(*) AS n,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS rev
        |FROM lineitem
        |WHERE NOT (l_quantity > 45)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_lake_delete" ->
      """SELECT CAST(extract(year FROM l_shipdate) AS INT) AS y,
        |  count(*) AS n, round(sum(l_extendedprice), 2) AS rev
        |FROM lineitem
        |WHERE NOT (l_shipdate < TIMESTAMP '1997-02-15')
        |GROUP BY 1 ORDER BY y""".stripMargin,

    "q_lake_update" ->
      """SELECT l_returnflag,
        |  CASE WHEN l_returnflag = 'R' THEN 'U' ELSE l_linestatus END
        |    AS l_linestatus,
        |  round(sum(CASE WHEN l_returnflag = 'R' THEN l_tax + 0.01
        |                 ELSE l_tax END), 4) AS sum_tax,
        |  count(*) AS n
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_lake_compact" ->
      """SELECT l_linestatus, count(*) AS n,
        |  round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,

    "q_lake_delete_mor" ->
      """SELECT l_returnflag, count(*) AS n,
        |  round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem
        |WHERE NOT (l_discount > 0.08)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // survived = rows whose customer never placed an 'F' order, plus
    // the post-delete re-append (which the sequence rule preserves)
    "q_lake_delete_eq" ->
      """WITH delkeys AS (
        |  SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'),
        |survived AS (
        |  SELECT o_orderstatus, o_totalprice FROM orders
        |  WHERE o_custkey NOT IN (SELECT o_custkey FROM delkeys)
        |  UNION ALL
        |  SELECT o_orderstatus, o_totalprice FROM orders
        |  WHERE o_orderstatus = 'F' AND o_orderpriority = '1-URGENT')
        |SELECT o_orderstatus, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS tot
        |FROM survived GROUP BY o_orderstatus ORDER BY o_orderstatus"""
        .stripMargin,

    "q_lake_upsert" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice * 2
        |                 ELSE o_totalprice END), 2) AS tot
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""
        .stripMargin,

    "q_lake_upsert_stream" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice * 2
        |                 ELSE o_totalprice END), 2) AS tot
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""
        .stripMargin,

    "q_lake_timetravel" ->
      """SELECT l_returnflag, count(*) AS n,
        |  round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_lake_timetravel_ts" ->
      """SELECT l_linestatus, count(*) AS n,
        |  round(sum(l_extendedprice), 2) AS rev
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,

    "q_lake_alter_type" ->
      """SELECT l_returnflag, CAST(sum(l_linenumber) AS BIGINT) AS sum_ln,
        |  count(*) AS n
        |FROM (SELECT * FROM lineitem
        |      UNION ALL SELECT * FROM lineitem WHERE l_returnflag = 'A')
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_lake_merge" ->
      """SELECT l_returnflag, count(*) AS n,
        |  round(sum(qty), 2) AS sum_qty
        |FROM (
        |  SELECT l.l_returnflag,
        |    CASE WHEN EXISTS (
        |        SELECT 1 FROM lineitem r
        |        WHERE r.l_returnflag = 'R'
        |          AND r.l_orderkey = l.l_orderkey
        |          AND r.l_linenumber = l.l_linenumber)
        |      THEN 999.0 ELSE l.l_quantity END AS qty
        |  FROM lineitem l
        |  UNION ALL
        |  SELECT max(l_returnflag) AS l_returnflag,
        |    max(l_quantity) AS qty
        |  FROM lineitem WHERE l_returnflag = 'N'
        |  GROUP BY l_orderkey)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_delta_scan" ->
      """SELECT l_returnflag, count(*) AS n,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS rev
        |FROM lineitem WHERE l_returnflag <> 'N'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_delta_dv" ->
      """SELECT l_returnflag, count(*) AS n,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS rev
        |FROM lineitem
        |WHERE NOT (l_quantity > 35) AND NOT (l_discount > 0.08)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_lake_prune_scan" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1998-01-01'
        |  AND o_orderdate < TIMESTAMP '1999-01-01'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_lake_zorder" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total
        |FROM orders
        |WHERE o_totalprice > 450000
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_lake_bucketed_join" ->
      """SELECT o_orderpriority,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  count(*) AS n
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
}
