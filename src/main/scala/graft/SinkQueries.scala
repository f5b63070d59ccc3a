package graft

import graft.sink._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.Files

/**
 * Dynamic-partitioned sink round-trips — the reference's core surface
 * (SURVEY.md §2.1 S1–S3, §2.2 P2–P4, §2.7 W1). Each query writes a table
 * through [[graft.sink.PartitionedSink]] into a fresh temp dir, reads the
 * partitioned tree back, and returns a deterministic projection. The oracle
 * applies the same partition-key semantics (stringify + trim,
 * `AvroDynamicPartitionedDatasetSink.java:119-120`) directly to the source
 * table: if partition routing, payload elision, or value normalization were
 * wrong, the round-trip would not hash-match.
 */
object SinkQueries {

  private def roundTrip(
      s: SparkSession, dir: String, fmt: SinkFormat, codec: Option[String],
      allowModern: Boolean = false): DataFrame = {
    val out = Files.createTempDirectory(s"graft_sink_${fmt.name}").toString
    val orders = Tables(s, dir, "orders")
    val orcOpts =
      if (fmt == OrcFormat)
        Some(graft.schema.Validators.OrcOptions(
          compressionChunkSize = 262144, stripeSize = 67108864,
          indexStride = 10000, createIndex = true))
      else None
    PartitionedSink.write(orders, out,
      SinkConfig(fmt, Seq("o_orderpriority"), codec, orcOptions = orcOpts,
        runtimeNullCheck = true, allowModernCodecs = allowModern))
    PartitionedSink.readBack(s, out, fmt)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderpriority")
  }

  private val ordersOracle =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |  trim(cast(o_orderpriority as varchar)) AS o_orderpriority
      |FROM orders""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sink_parquet_partitioned" -> ((s, dir) => roundTrip(s, dir, ParquetFormat, Some("snappy"))),
    "sink_orc_partitioned" -> ((s, dir) => roundTrip(s, dir, OrcFormat, Some("zlib"))),
    // the zstd EXTENSION lane (allowModernCodecs) through the same
    // round-trip contract as the reference-codec queries above
    "sink_zstd_partitioned" -> ((s, dir) =>
      roundTrip(s, dir, ParquetFormat, Some("zstd"), allowModern = true)),
    "sink_avro_partitioned" -> ((s, dir) => roundTrip(s, dir, AvroFormat, Some("snappy"))),

    // Schema evolution on the append path, end-to-end: half the table
    // lands with the base column set, the other half appends with a NEW
    // nullable column under the Widen policy (old files read null for it
    // under the merged schema), and a NARROWED batch must be rejected by
    // the gate before any file lands. The oracle recomputes the widened
    // read: the new column is non-null exactly for the second half.
    "sink_evolution_widen" -> ((s, dir) => {
      val out = Files.createTempDirectory("graft_sink_evo").toString
      val cfg = SinkConfig(ParquetFormat, Seq("o_orderpriority"),
        runtimeNullCheck = true,
        evolution = Some(graft.schema.SchemaEvolution.Widen))
      val orders = Tables(s, dir, "orders")
      PartitionedSink.write(
        orders.filter(col("o_orderkey") % 2 === 0)
          .select("o_orderkey", "o_custkey", "o_totalprice",
            "o_orderpriority"),
        out, cfg)
      PartitionedSink.write(
        orders.filter(col("o_orderkey") % 2 === 1)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
            col("o_orderstatus"), col("o_orderpriority")),
        out, cfg)
      // the gate must reject breakage (o_custkey narrowed to int) with
      // nothing written — the read below would hash-fail on any leak
      val narrowed = orders.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_custkey").cast("int").as("o_custkey"),
          col("o_totalprice"), col("o_orderpriority"))
      val rejected =
        try { PartitionedSink.write(narrowed, out, cfg); false }
        catch { case _: graft.schema.GraftSchemaException => true }
      require(rejected, "narrowed append must be rejected by the Widen gate")
      s.read.option("mergeSchema", "true").parquet(out)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus",
          "o_orderpriority")
    }),

    // Multi-field key: nested directory layers in declared order
    // (`PartitionedFileSetSinkConfig.java:128,133-147`). Verified by grouping
    // the read-back tree by its two partition columns.
    "sink_range_sharded" -> ((s, dir) => rangeShardRoundTrip(s, dir)),

    // Partition retention: write the tree, expire the 5-LOW partition by
    // directory delete (metadata-cost — no data file opened, no rewrite),
    // read back; the oracle is the source minus the expired partition, so
    // a drop that touched the wrong directory or leaked rows hash-fails.
    "sink_retention" -> ((s, dir) => {
      val out = Files.createTempDirectory("graft_sink_retain").toString
      val orders = Tables(s, dir, "orders")
      PartitionedSink.write(orders, out,
        SinkConfig(ParquetFormat, Seq("o_orderpriority"), Some("snappy"),
          runtimeNullCheck = true))
      val dropped = PartitionedSink.dropPartitionsWhere(s, out,
        Seq("o_orderpriority"), _("o_orderpriority").startsWith("5"))
      require(dropped.size == 1, s"expected one expired partition: $dropped")
      PartitionedSink.readBack(s, out)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderpriority")
    }),

    // Fragment the write on purpose (8 tasks × partitions), compact in
    // place to one file per partition, and hash the read-back against the
    // source: if compaction dropped, duplicated, or re-routed any row,
    // this fails.
    "sink_compacted" -> ((s, dir) => {
      val frag = Files.createTempDirectory("graft_sink_frag").toString
      val orders = Tables(s, dir, "orders")
      PartitionedSink.write(orders.repartition(8), frag,
        SinkConfig(ParquetFormat, Seq("o_orderpriority"), Some("snappy"),
          runtimeNullCheck = true))
      PartitionedSink.compactInPlace(s, frag, Seq("o_orderpriority"))
      PartitionedSink.readBack(s, frag)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderpriority")
    }),

    // Plain-tree SQL maintenance — the CALL lane for reference-style
    // partitioned trees with no snapshot manifest: graft_compact with
    // an explicit partition spec ≡ compactInPlace (asserted: one file
    // per partition, report counts match), graft_retention drops
    // exactly the SQL-predicate-matched partitions. Oracle: orders
    // minus the dropped 1-URGENT partition.
    "sink_plain_sql_maintain" -> ((s, dir) => {
      val tree = Files.createTempDirectory("graft_plain_msql").toString
      val esc = tree.replace("'", "''")
      val orders = Tables(s, dir, "orders")
      PartitionedSink.write(orders.repartition(8), tree,
        SinkConfig(ParquetFormat, Seq("o_orderpriority"), Some("snappy"),
          runtimeNullCheck = true))
      val rep = s.sql(s"CALL graft_compact('$esc', 'o_orderpriority')")
        .head()
      require(rep.getInt(0) > rep.getInt(1) && rep.getInt(1) == 5,
        s"compaction must collapse 8 task-files/partition to 1: $rep")
      val dropped = s.sql(s"CALL graft_retention('$esc', " +
        "'o_orderpriority', 'o_orderpriority like ''1-%''')")
        .collect().map(_.getString(0)).toSeq
      require(dropped == Seq("o_orderpriority=1-URGENT"),
        s"retention must drop exactly the matched partition: $dropped")
      PartitionedSink.readBack(s, tree)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderpriority")
    }),

    // Z-order layout: files cover contiguous Morton-code ranges over
    // (l_partkey, l_suppkey), so per-bucket min/max is tight on BOTH
    // columns. The oracle recomputes the identical bit-interleave and
    // equal-width slab assignment in pure integer SQL — if the layout
    // routing differed anywhere, the per-bucket stats would not match.
    "sink_zorder_layout" -> ((s, dir) => {
      val out = Files.createTempDirectory("graft_sink_zorder").toString
      val li = Tables(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
      PartitionedSink.writeZOrdered(li, out, "l_partkey", "l_suppkey",
        nBuckets = 16)
      PartitionedSink.readBack(s, out)
        .groupBy("zbucket")
        .agg(count(lit(1)).as("n_rows"),
          min("l_partkey").as("min_part"), max("l_partkey").as("max_part"),
          min("l_suppkey").as("min_supp"), max("l_suppkey").as("max_supp"))
    }),

    // W1's third disposition end-to-end: dynamic partition overwrite
    // replaces ONLY the incoming partition's content. Full write, then an
    // OverwritePartitions write of just the 1-URGENT rows with a patched
    // status — if the overwrite leaked into other partitions (static
    // overwrite wipes the tree) or missed its own, the read-back would
    // not hash-match the CASE-patched source.
    "sink_overwrite_partitions" -> ((s, dir) => {
      val out = Files.createTempDirectory("graft_sink_ovw").toString
      val orders = Tables(s, dir, "orders")
      val cfg = SinkConfig(ParquetFormat, Seq("o_orderpriority"),
        Some("snappy"), runtimeNullCheck = true)
      PartitionedSink.write(orders, out, cfg)
      val patch = orders
        .filter(trim(col("o_orderpriority").cast("string")) === "1-URGENT")
        .withColumn("o_orderstatus", lit("X"))
      PartitionedSink.write(patch, out,
        cfg.copy(disposition = OverwritePartitions))
      PartitionedSink.readBack(s, out)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderpriority")
    }),

    // CDC MERGE end-to-end: one batch of in-place updates (which also MOVE
    // their rows to the 1-URGENT partition), inserts of brand-new keys, and
    // deletes — applied copy-on-write to only the touched partitions
    // (partition-pruned survivor scan + broadcast key anti-join; see
    // PartitionedSink.mergeUpsert). The oracle replays the same batch as
    // set algebra over the source table: any row the merge lost, kept
    // stale, duplicated, or routed to the wrong partition breaks the hash.
    "sink_merge_upsert" -> ((s, dir) => {
      val out = Files.createTempDirectory("graft_sink_merge").toString
      val orders = Tables(s, dir, "orders")
      val cfg = SinkConfig(ParquetFormat, Seq("o_orderpriority"),
        Some("snappy"), runtimeNullCheck = true)
      PartitionedSink.write(orders, out, cfg)
      val upd = orders.filter(col("o_orderkey") % 10 === 3)
        .withColumn("o_orderstatus", lit("U"))
        .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
        .withColumn("o_orderpriority", lit("1-URGENT"))
        .withColumn("__del", lit(false))
      val ins = orders
        .filter(col("o_orderkey") % 10 === 4 && col("o_orderkey") % 3 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + 1000000L)
        .withColumn("o_orderstatus", lit("N"))
        .withColumn("o_orderpriority", lit("5-LOW"))
        .withColumn("__del", lit(false))
      val del = orders
        .filter(col("o_orderkey") % 17 === 0 && col("o_orderkey") % 10 =!= 3)
        .withColumn("__del", lit(true))
      PartitionedSink.mergeUpsert(s, out,
        upd.unionByName(ins).unionByName(del), Seq("o_orderkey"), cfg,
        deleteCol = Some("__del"))
      PartitionedSink.readBack(s, out)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderpriority")
    }),

    // size-targeted flavor: the byte target (here: half the fragmented
    // tree, so partitions really split) becomes the writer's
    // maxRecordsPerFile via observed bytes/row; content identity is the
    // oracle, the file-count/size behavior is spec-asserted
    "sink_compacted_sized" -> ((s, dir) => {
      val frag = Files.createTempDirectory("graft_sink_fragsz").toString
      val orders = Tables(s, dir, "orders")
      PartitionedSink.write(orders.repartition(8), frag,
        SinkConfig(ParquetFormat, Seq("o_orderpriority"), Some("snappy"),
          runtimeNullCheck = true))
      PartitionedSink.compactToTargetSize(s, frag,
        Seq("o_orderpriority"), targetBytes = 4L << 20)
      PartitionedSink.readBack(s, frag)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderpriority")
    }),

    // Write-time skew control end-to-end: a deliberately hot partition value
    // (90% of rows) written through the salted filesPerPartition path. The
    // oracle is content identity against the source with the same derived
    // shard column — if the salted re-cluster dropped, duplicated, or
    // re-routed any row, the read-back would not hash-match. The file-side
    // contract (hot value split across files, every value capped at the
    // budget) is spec-asserted in SkewedWriteSpec.
    "sink_skewed_write" -> ((s, dir) => {
      val out = Files.createTempDirectory("graft_sink_skew").toString
      val orders = Tables(s, dir, "orders").withColumn("shard",
        when(col("o_orderkey") % 100 < 90, lit("hot"))
          .otherwise(concat(lit("c"), (col("o_orderkey") % 100).cast("string"))))
      PartitionedSink.write(orders, out,
        SinkConfig(ParquetFormat, Seq("shard"), Some("snappy"),
          runtimeNullCheck = true, filesPerPartition = Some(4)))
      PartitionedSink.readBack(s, out)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "shard")
    }),

    // the sink's health surface: per-partition occupancy from a
    // zero-data-column scan (footer counts grouped on partition cols +
    // input_file_name). n_files is writer-parallelism-dependent, so the
    // oracle checks the row side; the file side is spec-asserted through
    // the fragment→compact cycle in CompactionSpec.
    "sink_partition_stats" -> ((s, dir) => {
      val out = Files.createTempDirectory("graft_sink_stats").toString
      PartitionedSink.write(Tables(s, dir, "orders"), out,
        SinkConfig(ParquetFormat, Seq("o_orderpriority"), Some("snappy"),
          runtimeNullCheck = true))
      PartitionCatalog.partitionStats(s, out, Seq("o_orderpriority"))
        .select(col("o_orderpriority"), col("n_rows"))
    }),

    "sink_multifield_layout" -> ((s, dir) => {
      val out = Files.createTempDirectory("graft_sink_multi").toString
      val li = Tables(s, dir, "lineitem")
        .select("l_orderkey", "l_quantity", "l_returnflag", "l_linestatus")
      PartitionedSink.write(li, out,
        SinkConfig(ParquetFormat, Seq("l_returnflag", "l_linestatus"),
          runtimeNullCheck = true))
      PartitionedSink.readBack(s, out)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n_rows"),
          (sum(round(col("l_quantity") * 100).cast("long")) / 100.0)
            .as("sum_qty"))
    }),

    // Snapshot time travel: land orders as snapshot 1, logically replace
    // the 1-URGENT partition keeping only even order keys (snapshot 2 —
    // the old files leave the live set but stay on disk), then read BOTH
    // states: s1 through time travel, s2 as current. The oracle derives
    // both states from the source table, so any leak of replaced files
    // into s2 — or any loss of them from s1 — hash-fails.
    "sink_snapshot_travel" -> ((s, dir) => {
      val out = Files.createTempDirectory("graft_snap_travel").toString
      val (_, s1, _) = snapshotFixture(s, dir, out)
      def agg(df: DataFrame, snap: Int) = df
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_rows"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("sum_cents"))
        .withColumn("snapshot", lit(snap))
      agg(Snapshots.read(s, out, asOf = Some(s1)), 1)
        .unionByName(agg(Snapshots.read(s, out), 2))
        .select("snapshot", "o_orderpriority", "n_rows", "sum_cents")
    }),

    // WRITE–AUDIT–PUBLISH round trip: the base lands as s1; a BAD batch
    // (re-appended keys → duplicates in the would-be state) stages and
    // FAILS the expectations gate with nothing published; the real
    // overwrite batch stages invisibly, passes the same gate, and
    // publishes as s2 with one pointer flip. Both states read back
    // source-derivably, so any leak of the rejected batch, of
    // staged-but-unpublished state, or of replaced files hash-fails.
    "sink_snapshot_wap" -> ((s, dir) => {
      import graft.schema.Expectations.{NotNull, Unique}
      val out = Files.createTempDirectory("graft_snap_wap").toString
      val base = Tables(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderpriority")
      Snapshots.write(base.coalesce(1), out, Seq("o_orderpriority"))
      val exps = Seq(Unique(Seq("o_orderkey")), NotNull("o_totalprice"))
      Snapshots.stageWrite(base.limit(10).coalesce(1), out,
        Seq("o_orderpriority"), "bad")
      val rejected =
        try { Snapshots.publishStagedChecked(s, out, "bad", exps); false }
        catch { case _: IllegalStateException => true }
      require(rejected && Snapshots.currentSnapshot(s, out).contains(1),
        "the gate must reject the duplicate batch and publish nothing")
      Snapshots.abandonStaged(s, out, "bad")
      Snapshots.stageWrite(
        base.filter(col("o_orderpriority") === "1-URGENT"
          && col("o_orderkey") % 2 === 0).coalesce(1),
        out, Seq("o_orderpriority"), "good", Snapshots.SnapOverwritePartitions)
      require(Snapshots.read(s, out).count() == base.count(),
        "a staged write must be invisible to committed reads")
      val s2 = Snapshots.publishStagedChecked(s, out, "good", exps)
      def agg(df: DataFrame, snap: Int) = df
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_rows"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("sum_cents"))
        .withColumn("snapshot", lit(snap))
      agg(Snapshots.read(s, out, asOf = Some(1)), 1)
        .unionByName(agg(Snapshots.read(s, out, asOf = Some(s2)), 2))
        .select("snapshot", "o_orderpriority", "n_rows", "sum_cents")
    }),

    // One-pass declarative audit report over documents: exact conditional
    // counts + one distinct count, one verdict row per expectation — the
    // report IS the oracle surface (plain SQL recomputes every row,
    // including the single-division ratio and the threshold verdicts).
    "sink_expectations" -> ((s, dir) => {
      import graft.schema.Expectations._
      graft.schema.Expectations.check(Tables(s, dir, "documents"), Seq(
        NotNull("lang"),
        InRange("n_chars", Some(1), Some(500), maxViolationRatio = 0.05),
        InSet("lang", Seq("en", "de", "fr"), maxViolationRatio = 0.5),
        MatchesRegex("lang", "^[a-z]{2}$"),
        Unique(Seq("doc_id")),
        NonEmpty(100)))
    }),

    // Clustered compaction end-to-end: the fragmented write leaves every
    // file spanning the whole doc_id range (stats recorded but useless);
    // compacting under sortBy=doc_id rewrites files into contiguous key
    // ranges, after which the stat-pruned range read opens a strict
    // subset of the live files (asserted in-query — metadata-level
    // skipping) and returns exactly the range rows the oracle recomputes.
    "sink_snapshot_cluster" -> ((s, dir) => {
      val out = Files.createTempDirectory("graft_snap_cluster").toString
      val docs = Tables(s, dir, "documents").select("doc_id", "lang", "n_chars")
      Snapshots.write(docs.repartition(8), out, Seq("lang"),
        statsColumns = Seq("doc_id"))
      Snapshots.compact(s, out, Seq("lang"),
        targetFilesPerPartition = 4, sortBy = Seq("doc_id"))
      val prune = Seq(Snapshots.StatRange("doc_id", Some(100L), Some(299L)))
      val pruned = Snapshots.read(s, out, prune = prune)
      require(pruned.inputFiles.length <
        Snapshots.read(s, out).inputFiles.length,
        "stat pruning after clustered compaction must skip files")
      pruned.filter(col("doc_id").between(100, 299))
        .select("doc_id", "lang", "n_chars")
    }),

    // Retention: a third snapshot appends half the replaced rows back,
    // then expiry keeps only the newest two — the expired snapshot's
    // manifest is gone (time travel to it must fail loudly), its
    // now-unreferenced files are deleted, and the CURRENT state is
    // byte-identical to before the expiry (the oracle recomputes it from
    // the source: everything except odd 1-URGENT keys with key%4==3).
    "sink_snapshot_expire" -> ((s, dir) => {
      val out = Files.createTempDirectory("graft_snap_expire").toString
      val (base, s1, _) = snapshotFixture(s, dir, out)
      Snapshots.write(
        base.filter(col("o_orderpriority") === "1-URGENT"
          && col("o_orderkey") % 4 === 1).coalesce(1),
        out, Seq("o_orderpriority"), Snapshots.SnapAppend)
      val (expired, deleted) = Snapshots.expire(s, out, keepLast = 2)
      require(expired == Seq(s1) && deleted > 0,
        s"expected s$s1 expired with files deleted: $expired/$deleted")
      val gone =
        try { Snapshots.read(s, out, asOf = Some(s1)); false }
        catch { case _: IllegalStateException => true }
      require(gone, "time travel to an expired snapshot must fail loudly")
      Snapshots.read(s, out)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderpriority")
    }),

    // CDC merge published as a snapshot: status-patch every 7th key,
    // delete every 11th, non-destructively — the pre-merge state stays
    // time-travelable (asserted in-query) while the current read shows
    // the merged state the oracle derives from the source.
    "sink_snapshot_merge" -> ((s, dir) => {
      val out = Files.createTempDirectory("graft_snap_merge").toString
      val base = Tables(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderpriority")
      Snapshots.write(base.coalesce(1), out, Seq("o_orderpriority"))
      val k = col("o_orderkey")
      val updates = base.filter(k % 7 === 0 && k % 11 =!= 0)
        .withColumn("o_orderstatus", lit("X")).withColumn("__del", lit(false))
        .unionByName(base.filter(k % 11 === 0).withColumn("__del", lit(true)))
      val mid = Snapshots.mergeUpsert(s, out, updates,
        Seq("o_orderpriority"), Seq("o_orderkey"), deleteCol = Some("__del"))
      require(mid == 2, s"expected merge snapshot 2: $mid")
      require(Snapshots.read(s, out, asOf = Some(1)).count() == base.count(),
        "pre-merge state must stay time-travelable")
      Snapshots.read(s, out)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderpriority")
    }),

    // The SAME change batch as sink_snapshot_merge, written MERGE-ON-READ
    // (mergeDeltas): upserts land as plain files, one equality-delete
    // file suppresses the old copies at read — the write is O(batch),
    // asserted in-query on the raw manifest (zero remove lines: no base
    // partition was read or rewritten). The oracle is therefore identical
    // to the copy-on-write merge's — same semantics, different write cost.
    "sink_snapshot_mor" -> ((s, dir) => {
      val out = Files.createTempDirectory("graft_snap_mor").toString
      val base = Tables(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderpriority")
      Snapshots.write(base.coalesce(1), out, Seq("o_orderpriority"))
      val k = col("o_orderkey")
      val updates = base.filter(k % 7 === 0 && k % 11 =!= 0)
        .withColumn("o_orderstatus", lit("X")).withColumn("__del", lit(false))
        .unionByName(base.filter(k % 11 === 0).withColumn("__del", lit(true)))
      val mid = Snapshots.mergeDeltas(s, out, updates,
        Seq("o_orderpriority"), Seq("o_orderkey"), deleteCol = Some("__del"))
      require(mid == 2, s"expected merge snapshot 2: $mid")
      val m2 = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$out/snapshots/s2")))
      require(!m2.linesIterator.exists(_.startsWith("remove=")),
        "merge-on-read must not rewrite base files")
      require(m2.linesIterator.count(_.startsWith("dadd=")) == 1,
        "expected exactly one equality-delete file")
      require(Snapshots.read(s, out, asOf = Some(1)).count() == base.count(),
        "pre-merge state must stay time-travelable")
      Snapshots.read(s, out)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderpriority")
    }),

    // Partition-spec evolution: half the table lands partitioned by
    // priority, the spec evolves (metadata-only) to (priority, status),
    // the other half lands under the new layout — and the ERA-MIXED read
    // returned here must reassemble the whole table exactly (status reads
    // from file content in era 1, from directories in era 2). In-query:
    // migrateSpec then rewrites ONLY the old-era files and the
    // homogeneous read stays count-identical.
    "sink_snapshot_evolve" -> ((s, dir) => {
      val out = Files.createTempDirectory("graft_snap_ev").toString
      val base = Tables(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderpriority")
      Snapshots.write(base.filter(col("o_orderkey") % 2 === 0).coalesce(1),
        out, Seq("o_orderpriority"))
      val sid = Snapshots.evolvePartitioning(s, out,
        Seq("o_orderpriority", "o_orderstatus"))
      require(sid == 2, s"expected evolution snapshot 2: $sid")
      Snapshots.write(base.filter(col("o_orderkey") % 2 === 1).coalesce(1),
        out, Seq("o_orderpriority", "o_orderstatus"))
      val mixed = Snapshots.read(s, out, asOf = Some(3))
      val mid = Snapshots.migrateSpec(s, out,
        Seq("o_orderpriority", "o_orderstatus"))
      require(mid.contains(4), s"expected migration snapshot 4: $mid")
      require(Snapshots.read(s, out).count() == base.count(),
        "migration must be a pure layout rewrite")
      require(Snapshots.migrateSpec(s, out,
        Seq("o_orderpriority", "o_orderstatus")).isEmpty,
        "a homogeneous dataset has nothing to migrate")
      mixed.select("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderpriority")
    }),

    // The SAME CDC batch delivered through the STREAMING lane
    // (mergeStream → foreachBatch → mergeDeltas with a content-derived
    // replay tag): one micro-batch lands as one O(batch) merge-on-read
    // snapshot, and the post-stream read must equal the same oracle the
    // batch merges earn — the streaming surface itself is oracle-checked,
    // not just batch-parity-tested.
    "sink_snapshot_mor_stream" -> ((s, dir) => {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val out = Files.createTempDirectory("graft_snap_morstr").toString
      val base = Tables(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderpriority")
      Snapshots.write(base.coalesce(1), out, Seq("o_orderpriority"))
      val k = col("o_orderkey")
      val updates = base.filter(k % 7 === 0 && k % 11 =!= 0)
        .withColumn("o_orderstatus", lit("X")).withColumn("__del", lit(false))
        .unionByName(base.filter(k % 11 === 0).withColumn("__del", lit(true)))
      val rows = updates.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getString(2), r.getDouble(3), r.getString(4), r.getBoolean(5)))
      val input = MemoryStream[(Long, Long, String, Double, String, Boolean)]
      val q = Snapshots.mergeStream(
        input.toDF().toDF("o_orderkey", "o_custkey", "o_orderstatus",
          "o_totalprice", "o_orderpriority", "__del"),
        out, Seq("o_orderpriority"), Seq("o_orderkey"),
        deleteCol = Some("__del"))
      try {
        input.addData(rows.toIndexedSeq)
        q.processAllAvailable()
      } finally q.stop()
      require(Snapshots.currentSnapshot(s, out).contains(2),
        "one micro-batch, one snapshot")
      Snapshots.read(s, out)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderpriority")
    }),

    // Two sequential merge-on-read batches — the second RE-INSERTS a
    // subset of the keys the first deleted (status R), exercising the seq
    // discipline (a newer file escapes an older delete) — then
    // foldDeletes rewrites the affected partitions with the deletes
    // applied and drops every delete entry (asserted in-query: the folded
    // manifest joins nothing). The oracle derives the final state from
    // the source; the pre-fold read must already equal it.
    "sink_snapshot_fold" -> ((s, dir) => {
      val out = Files.createTempDirectory("graft_snap_fold").toString
      val base = Tables(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderpriority")
      Snapshots.write(base.coalesce(1), out, Seq("o_orderpriority"))
      val k = col("o_orderkey")
      val b1 = base.filter(k % 7 === 0 && k % 11 =!= 0)
        .withColumn("o_orderstatus", lit("X")).withColumn("__del", lit(false))
        .unionByName(base.filter(k % 11 === 0).withColumn("__del", lit(true)))
      Snapshots.mergeDeltas(s, out, b1,
        Seq("o_orderpriority"), Seq("o_orderkey"), deleteCol = Some("__del"))
      val b2 = base.filter(k % 22 === 0)
        .withColumn("o_orderstatus", lit("R")).withColumn("__del", lit(false))
      Snapshots.mergeDeltas(s, out, b2,
        Seq("o_orderpriority"), Seq("o_orderkey"), deleteCol = Some("__del"))
      val preFold = Snapshots.read(s, out).count()
      val fid = Snapshots.foldDeletes(s, out, Seq("o_orderpriority"))
      require(fid.contains(4), s"expected fold snapshot 4: $fid")
      require(Snapshots.read(s, out).count() == preFold,
        "fold must not change visible rows")
      val m4 = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$out/snapshots/s4")))
      require(m4.linesIterator.count(_.startsWith("dremove=")) == 2 &&
        !m4.linesIterator.exists(_.startsWith("dadd=")),
        "fold must drop every equality-delete entry")
      // the MoR state behind the fold still reads through its deletes
      require(Snapshots.read(s, out, asOf = Some(3)).count() == preFold,
        "pre-fold travel broke")
      Snapshots.read(s, out)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderpriority")
    }),

    // Incremental consumption off the manifests: three appended thirds,
    // then "read what snapshot 1 didn't have" — exactly batches 2 and 3,
    // resolved from two manifest reads with no directory listing and no
    // data diffing (the oracle recomputes the two thirds from the source).
    "sink_snapshot_incremental" -> ((s, dir) => {
      val out = Files.createTempDirectory("graft_snap_incr").toString
      val base = Tables(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderpriority")
      for (m <- 0 to 2)
        Snapshots.write(base.filter(col("o_orderkey") % 3 === m).coalesce(1),
          out, Seq("o_orderpriority"), Snapshots.SnapAppend)
      require(Snapshots.changedPartitions(s, out, 1, 3).nonEmpty)
      Snapshots.readAddedSince(s, out, sinceId = 1)
        .getOrElse(sys.error("expected added files since snapshot 1"))
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderpriority")
    }),

    // Non-destructive compaction: three appended thirds fragment every
    // partition to 3 files; compact rewrites each partition to one file
    // and publishes snapshot 4, while time travel to the fragmented
    // state still works and the content is byte-identical (the oracle is
    // the source table — any row lost, duplicated, or re-routed by the
    // rewrite hash-fails).
    "sink_snapshot_compact" -> ((s, dir) => {
      val out = Files.createTempDirectory("graft_snap_comp").toString
      val base = Tables(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderpriority")
      for (m <- 0 to 2)
        Snapshots.write(base.filter(col("o_orderkey") % 3 === m).coalesce(1),
          out, Seq("o_orderpriority"), Snapshots.SnapAppend)
      val cid = Snapshots.compact(s, out, Seq("o_orderpriority"))
      require(cid.contains(4), s"expected compact snapshot 4: $cid")
      val np = base.select("o_orderpriority").distinct().count()
      val h = Snapshots.history(s, out)
        .filter(col("snapshot_id") === 4).head()
      require(h.getString(1) == "compact" && h.getLong(2) == np,
        s"compact snapshot should hold one file per partition: $h")
      // the fragmented state is still fully readable behind it
      require(Snapshots.read(s, out, asOf = Some(3)).count() ==
        Snapshots.read(s, out).count(), "pre-compact travel broke")
      Snapshots.read(s, out)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderpriority")
    }),

    // Manifest-only history read: per snapshot, its mode and live
    // file/partition counts (each batch coalesces to one file per
    // partition, so the figures are derivable from the source table —
    // what the oracle does). No data file is opened.
    "sink_snapshot_history" -> ((s, dir) => {
      val out = Files.createTempDirectory("graft_snap_hist").toString
      val (base, _, _) = snapshotFixture(s, dir, out)
      Snapshots.write(
        base.filter(col("o_orderpriority") === "1-URGENT"
          && col("o_orderkey") % 4 === 1).coalesce(1),
        out, Seq("o_orderpriority"), Snapshots.SnapAppend)
      Snapshots.history(s, out)
    }),

    // Row-level CDC between snapshots: s1 = full orders, s2 = a merge
    // that patches status on every 7th key (not 11th), deletes every
    // 11th, and inserts negated copies of every 13th key.
    // changes(1,2) must classify exactly those keys — update rows carry
    // the post-image, deletes the pre-image — and NOTHING else:
    // rewritten-but-unchanged rows in touched partitions hash-compare
    // equal and stay silent. The diff itself is pruned to partitions
    // whose manifests differ before any file is read. The oracle derives
    // all three classes straight from the source table.
    "sink_snapshot_changes" -> ((s, dir) => {
      val out = Files.createTempDirectory("graft_snap_chg").toString
      val base = Tables(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderpriority")
      Snapshots.write(base.coalesce(1), out, Seq("o_orderpriority"))
      val k = col("o_orderkey")
      val updates = base.filter(k % 7 === 0 && k % 11 =!= 0)
        .withColumn("o_orderstatus", lit("X")).withColumn("__del", lit(false))
        .unionByName(base.filter(k % 11 === 0).withColumn("__del", lit(true)))
        .unionByName(base.filter(k % 13 === 0 && k =!= 0)
          .withColumn("o_orderkey", k * -1).withColumn("__del", lit(false)))
      Snapshots.mergeUpsert(s, out, updates,
        Seq("o_orderpriority"), Seq("o_orderkey"), deleteCol = Some("__del"))
      Snapshots.changes(s, out, 1, 2, Seq("o_orderkey"))
    }),

    // File-level data skipping: orders range-clustered by key land with
    // per-file min/max recorded in the manifest; a key-range read prunes
    // to a strict subset of the live files BEFORE the scan plans
    // (asserted in-query on inputFiles) and still returns exactly the
    // range's rows — the oracle recomputes the range from the source, so
    // an over-pruned read loses rows and hash-fails.
    "sink_snapshot_skipping" -> ((s, dir) => {
      val out = Files.createTempDirectory("graft_snap_skip").toString
      val base = Tables(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderpriority")
      Snapshots.write(base.repartitionByRange(8, col("o_orderkey")), out,
        Seq("o_orderpriority"), statsColumns = Seq("o_orderkey"))
      val hi = base.agg(max("o_orderkey")).head().getLong(0) / 8
      val pruned = Snapshots.read(s, out,
        prune = Seq(Snapshots.StatRange("o_orderkey", Some(1L), Some(hi))))
      val total = Snapshots.read(s, out).inputFiles.length
      require(pruned.inputFiles.length < total,
        s"data skipping pruned nothing: ${pruned.inputFiles.length}/$total")
      pruned.filter(col("o_orderkey").between(1L, hi))
    }),

    // Incremental aggregate maintenance off the CDC read: a per-priority
    // (count, sum) maintained WITHOUT re-scanning the merged dataset —
    // s1's aggregate plus the signed contributions of changes(1,2) with
    // update pre-images (insert/update_post add, delete/update_pre
    // subtract). The oracle recomputes the aggregate directly over the
    // merged state from the source: if the maintained figures drift by
    // one row or one cent, the hash fails. This is the materialized-view
    // story the snapshot lane exists for: the delta is proportional to
    // the CHANGE, never the dataset.
    "sink_snapshot_incr_agg" -> ((s, dir) => {
      val out = Files.createTempDirectory("graft_snap_iagg").toString
      val base = Tables(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderpriority")
      Snapshots.write(base.coalesce(1), out, Seq("o_orderpriority"))
      val k = col("o_orderkey")
      // constant replacement price: exact in both engines' cents math
      val updates = base.filter(k % 7 === 0 && k % 11 =!= 0)
        .withColumn("o_totalprice", lit(100.0)).withColumn("__del", lit(false))
        .unionByName(base.filter(k % 11 === 0).withColumn("__del", lit(true)))
      Snapshots.mergeUpsert(s, out, updates,
        Seq("o_orderpriority"), Seq("o_orderkey"), deleteCol = Some("__del"))
      val cents = round(col("o_totalprice") * 100).cast("long")
      val ch = Snapshots.changes(s, out, 1, 2, Seq("o_orderkey"),
        includeUpdatePreimages = true)
      val sign = when(col("change_type").isin("insert", "update_post"),
        lit(1L)).otherwise(lit(-1L))
      val delta = ch.groupBy("o_orderpriority")
        .agg(sum(sign).as("dn"), sum(sign * cents).as("dc"))
      Snapshots.read(s, out, asOf = Some(1))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n0"), sum(cents).as("c0"))
        .join(delta, Seq("o_orderpriority"), "left")
        .select(col("o_orderpriority"),
          (col("n0") + coalesce(col("dn"), lit(0L))).as("n_rows"),
          (col("c0") + coalesce(col("dc"), lit(0L))).as("sum_cents"))
    }),

    // Metadata-only restore: land orders (s1), logically damage the
    // 1-URGENT partition via overwrite (s2), then roll back — the
    // current read must be byte-identical to the original table (the
    // oracle), while the rolled-over state stays auditable (asserted
    // in-query). No data file is written or moved by the rollback.
    "sink_snapshot_rollback" -> ((s, dir) => {
      val out = Files.createTempDirectory("graft_snap_rb").toString
      val (base, s1, s2) = snapshotFixture(s, dir, out)
      val rb = Snapshots.rollback(s, out, toId = s1)
      require(rb == 3, s"expected rollback snapshot 3: $rb")
      require(Snapshots.read(s, out, asOf = Some(s2)).count() < base.count(),
        "rolled-over state must stay auditable")
      Snapshots.read(s, out)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderpriority")
    }),

    // Predicate row delete (DELETE WHERE — the GDPR/retention shape):
    // orders land range-clustered with key stats (s1); deleteWhere
    // removes low-key 'F'-status rows via FILE-level copy-on-write — the
    // condition's key conjunct derives a stat range so only low-slice
    // files even scan, and only files HOLDING matches rewrite (asserted
    // in-query on the manifest's remove lines). The pre-delete state
    // stays travelable; the oracle derives the surviving rows (TRUE
    // deletes; false-or-null survives) straight from the source.
    "sink_snapshot_delete_where" -> ((s, dir) => {
      val out = Files.createTempDirectory("graft_snap_delw").toString
      val base = Tables(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderpriority")
      Snapshots.write(base.repartitionByRange(8, col("o_orderkey")), out,
        Seq("o_orderpriority"), statsColumns = Seq("o_orderkey"))
      val s1Files = Snapshots.read(s, out).inputFiles.length
      val hi = base.agg(max("o_orderkey")).head().getLong(0) / 4
      val did = Snapshots.deleteWhere(s, out, Seq("o_orderpriority"),
        col("o_orderkey") <= hi && col("o_orderstatus") === "F")
      require(did.contains(2), s"expected delete snapshot 2: $did")
      val m2 = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$out/snapshots/s2")))
      val removed = m2.linesIterator.count(_.startsWith("remove="))
      require(removed > 0 && removed < s1Files,
        s"stat pruning must bound the rewrite: rewrote $removed of $s1Files")
      require(Snapshots.read(s, out, asOf = Some(1)).count() == base.count(),
        "pre-delete state must stay time-travelable")
      Snapshots.read(s, out)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderpriority")
    }),

    // Writable branch → fast-forward merge: the base lands as main s1; a
    // branch takes THREE invisible writes — an append of new 5-LOW keys,
    // a partition overwrite keeping only even 1-URGENT keys, then a
    // copy-on-write CDC MERGE on the branch itself (status-patch every
    // 9th key, REINSERTING the ones the overwrite dropped, and deleting
    // every 21st non-9th key) — while main reads stay byte-identical
    // (asserted in-query); fastForward publishes the whole branch state
    // as main s2 with one pointer flip and drops the branch. The oracle
    // derives the merged state from the source; pre-merge main stays
    // travelable.
    "sink_snapshot_branch" -> ((s, dir) => {
      val out = Files.createTempDirectory("graft_snap_branch").toString
      val base = Tables(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderpriority")
      Snapshots.write(base.coalesce(1), out, Seq("o_orderpriority"))
      Snapshots.createBranch(s, out, "audit")
      val ins = base.filter(col("o_orderkey") % 10 === 4
          && col("o_orderkey") % 3 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + 1000000L)
        .withColumn("o_orderstatus", lit("N"))
        .withColumn("o_orderpriority", lit("5-LOW"))
      Snapshots.writeToBranch(ins.coalesce(1), out, "audit",
        Seq("o_orderpriority"))
      Snapshots.writeToBranch(
        base.filter(col("o_orderpriority") === "1-URGENT"
          && col("o_orderkey") % 2 === 0).coalesce(1),
        out, "audit", Seq("o_orderpriority"), Snapshots.SnapOverwritePartitions)
      val k = col("o_orderkey")
      val cdc = base.filter(k % 9 === 0)
        .withColumn("o_orderstatus", lit("U")).withColumn("__del", lit(false))
        .unionByName(base.filter(k % 9 =!= 0 && k % 21 === 0)
          .withColumn("__del", lit(true)))
      Snapshots.mergeUpsert(s, out, cdc, Seq("o_orderpriority"),
        Seq("o_orderkey"), deleteCol = Some("__del"), branch = Some("audit"))
      require(Snapshots.read(s, out).count() == base.count(),
        "branch writes must be invisible to main")
      val mid = Snapshots.fastForward(s, out, "audit")
      require(mid == 2 && Snapshots.branches(s, out).isEmpty,
        s"expected merge snapshot 2 and the branch dropped: $mid")
      require(Snapshots.read(s, out, asOf = Some(1)).count() == base.count(),
        "pre-merge main must stay time-travelable")
      Snapshots.read(s, out)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderpriority")
    }),

    // REBASE-merge for a stale fork: an append-only branch takes two
    // writes while main keeps moving past the fork (an append of new
    // '9-EXTRA' keys, then a partition overwrite keeping only even
    // 1-URGENT keys) — a plain fast-forward is impossible, but pure
    // appends conflict with nothing, so fastForward replays the branch's
    // added files onto the NEW head metadata-only (asserted: the merge
    // lands at s4, after main's s3, and moves no data files). Main's
    // interleaved writes and the branch's adds all land exactly once;
    // the pre-merge main state stays time-travelable.
    "sink_snapshot_rebase" -> ((s, dir) => {
      val out = Files.createTempDirectory("graft_snap_rebase").toString
      val base = Tables(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderpriority")
      Snapshots.write(base.coalesce(1), out, Seq("o_orderpriority"))
      Snapshots.createBranch(s, out, "bf")
      val ins1 = base.filter(col("o_orderkey") % 10 === 3)
        .withColumn("o_orderkey", col("o_orderkey") + 1000000L)
        .withColumn("o_orderstatus", lit("N"))
        .withColumn("o_orderpriority", lit("5-LOW"))
      val ins2 = base.filter(col("o_orderkey") % 10 === 8)
        .withColumn("o_orderkey", col("o_orderkey") + 2000000L)
        .withColumn("o_orderpriority", lit("3-MEDIUM"))
      Snapshots.writeToBranch(ins1.coalesce(1), out, "bf",
        Seq("o_orderpriority"))
      Snapshots.writeToBranch(ins2.coalesce(1), out, "bf",
        Seq("o_orderpriority"))
      // main advances past the fork: an append and a partition overwrite
      Snapshots.write(base.filter(col("o_orderkey") % 10 === 6)
          .withColumn("o_orderkey", col("o_orderkey") + 3000000L)
          .withColumn("o_orderpriority", lit("9-EXTRA")).coalesce(1),
        out, Seq("o_orderpriority"), Snapshots.SnapAppend)
      Snapshots.write(base.filter(col("o_orderpriority") === "1-URGENT"
          && col("o_orderkey") % 2 === 0).coalesce(1),
        out, Seq("o_orderpriority"), Snapshots.SnapOverwritePartitions)
      val preMergeCount = Snapshots.read(s, out).count()
      val mid = Snapshots.fastForward(s, out, "bf")
      require(mid == 4 && Snapshots.branches(s, out).isEmpty,
        s"expected the rebase-merge at s4 with the branch dropped: $mid")
      // metadata-only: the merge manifest adds files by reference — every
      // branch-added file was already in data/ before the merge ran
      val m4 = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$out/snapshots/s4")))
      require(m4.linesIterator.exists(_.startsWith("add=")) &&
        !m4.linesIterator.exists(_.startsWith("remove=")),
        "rebase-merge must be an adds-only delta manifest")
      require(Snapshots.read(s, out, asOf = Some(3)).count() == preMergeCount,
        "pre-merge main must stay time-travelable")
      Snapshots.read(s, out)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderpriority")
    }),

    // Catalog face of the table format: the dataset registers as an
    // EXTERNAL metastore table backed by the graft-snapshot source, and
    // everything after that is plain SQL — including a publish AFTER
    // registration (the append of shifted '9-COPY' keys), which the next
    // query sees with no re-registration: the manifest pointer flip IS
    // the refresh. The oracle derives the same two-write state from the
    // source table.
    "sink_snapshot_sql_table" -> ((s, dir) => {
      val out = Files.createTempDirectory("graft_snap_sql").toString
      val base = Tables(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderpriority")
      Snapshots.write(base.coalesce(1), out, Seq("o_orderpriority"))
      s.sql("DROP TABLE IF EXISTS graft_snap_sql_tbl")
      Snapshots.registerTable(s, out, "graft_snap_sql_tbl")
      require(s.sql("SELECT count(*) AS n FROM graft_snap_sql_tbl")
        .head().getLong(0) == base.count(),
        "the registered table must read the current snapshot")
      // a post-registration publish is visible to the next SQL query
      Snapshots.write(base.filter(col("o_orderkey") % 10 === 9)
          .withColumn("o_orderkey", col("o_orderkey") + 1000000L)
          .withColumn("o_orderpriority", lit("9-COPY")).coalesce(1),
        out, Seq("o_orderpriority"), Snapshots.SnapAppend)
      s.sql(
        """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
          |  o_orderpriority
          |FROM graft_snap_sql_tbl""".stripMargin)
    }),

    // Per-file Bloom skipping: even and odd keys land as two interleaved
    // batches whose per-file min/max ranges fully overlap, so a point
    // lookup can never range-prune — the recorded per-file Bloom filter
    // (bloomColumns, one batch sidecar under blooms/) must separate them
    // (asserted in-query: the pruned read plans exactly one input file,
    // and the point DELETE rewrites exactly one file). The oracle is the
    // source minus the deleted key — the smallest even key with odd keys
    // on both sides, derivable in SQL.
    "sink_snapshot_bloom" -> ((s, dir) => {
      val out = Files.createTempDirectory("graft_snap_bloom").toString
      val base = Tables(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderpriority")
      val k = col("o_orderkey")
      Snapshots.write(base.filter(k % 2 === 0).coalesce(1), out,
        Seq("o_orderpriority"), statsColumns = Seq("o_orderkey"),
        bloomColumns = Seq("o_orderkey"))
      Snapshots.write(base.filter(k % 2 === 1).coalesce(1), out,
        Seq("o_orderpriority"), Snapshots.SnapAppend)
      // the target: smallest EVEN key strictly between the odd min and
      // odd max, so both files' ranges contain it in its partition
      // one pass for the odd bounds (min+max share the scan), one for k0
      val oddRow = base.filter(k % 2 === 1).agg(min(k), max(k)).head()
      val (oddMin, oddMax) = (oddRow.getLong(0), oddRow.getLong(1))
      val k0 = base.filter(k % 2 === 0 && k > oddMin && k < oddMax)
        .agg(min(k)).head().getLong(0)
      val pruned = Snapshots.read(s, out, prune = Seq(
        Snapshots.StatRange("o_orderkey", Some(k0), Some(k0))))
      require(pruned.inputFiles.length == 1,
        s"the bloom must separate the interleaved files: " +
          s"${pruned.inputFiles.length}")
      require(pruned.filter(k === k0).count() == 1)
      val did = Snapshots.deleteWhere(s, out, Seq("o_orderpriority"),
        k === k0)
      require(did.contains(3), s"expected the delete at s3: $did")
      val m3 = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$out/snapshots/s3")))
      require(m3.linesIterator.count(_.startsWith("remove=")) == 1,
        "the bloom must bound the point delete to the one holding file")
      Snapshots.read(s, out)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderpriority")
    }),

    // SQL WRITE lane: INSERT INTO appends a shifted copy of every 5th
    // key (selected from the registered table ITSELF — the read resolves
    // the manifest while the write stages, no cycle), then INSERT
    // OVERWRITE dynamically replaces exactly the 1-URGENT partition with
    // its even keys; both route through the full snapshot commit
    // protocol under the RECORDED partition spec, so the pre-insert
    // state stays time-travelable (asserted in-query).
    "sink_snapshot_sql_insert" -> ((s, dir) => {
      val out = Files.createTempDirectory("graft_snap_ins").toString
      val base = Tables(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderpriority")
      Snapshots.write(base.coalesce(1), out, Seq("o_orderpriority"))
      s.sql("DROP TABLE IF EXISTS graft_snap_ins_tbl")
      Snapshots.registerTable(s, out, "graft_snap_ins_tbl")
      s.sql(
        """INSERT INTO graft_snap_ins_tbl
          |SELECT o_orderkey + 1000000, o_custkey, 'N', o_totalprice,
          |  '5-SQL'
          |FROM graft_snap_ins_tbl WHERE o_orderkey % 5 = 0""".stripMargin)
      s.sql(
        """INSERT OVERWRITE graft_snap_ins_tbl
          |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
          |  o_orderpriority
          |FROM graft_snap_ins_tbl
          |WHERE o_orderpriority = '1-URGENT' AND o_orderkey % 2 = 0
          |""".stripMargin)
      require(Snapshots.currentSnapshot(s, out).contains(3),
        "each SQL write must publish one snapshot")
      require(Snapshots.read(s, out, asOf = Some(1)).count() == base.count(),
        "the pre-insert state must stay time-travelable")
      s.sql(
        """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
          |  o_orderpriority
          |FROM graft_snap_ins_tbl""".stripMargin)
    }),

    // Row-level SQL DML lane 1/3 — DELETE FROM: the interleaved-bloom
    // fixture registered as a SQL table; a point DELETE must inherit the
    // engine's Bloom-bounded copy-on-write (asserted in-query: exactly
    // one file rewrites), then a predicate DELETE clears a status slice.
    // The oracle is the source minus both deletions.
    "sink_snapshot_sql_delete" -> ((s, dir) => {
      val out = Files.createTempDirectory("graft_snap_sqldel").toString
      val base = Tables(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderpriority")
      val k = col("o_orderkey")
      Snapshots.write(base.filter(k % 2 === 0).coalesce(1), out,
        Seq("o_orderpriority"), statsColumns = Seq("o_orderkey"),
        bloomColumns = Seq("o_orderkey"))
      Snapshots.write(base.filter(k % 2 === 1).coalesce(1), out,
        Seq("o_orderpriority"), Snapshots.SnapAppend)
      s.sql("DROP TABLE IF EXISTS graft_snap_sqldel_tbl")
      Snapshots.registerTable(s, out, "graft_snap_sqldel_tbl")
      // one pass for the odd bounds (min+max share the scan), one for k0
      val oddRow = base.filter(k % 2 === 1).agg(min(k), max(k)).head()
      val (oddMin, oddMax) = (oddRow.getLong(0), oddRow.getLong(1))
      val k0 = base.filter(k % 2 === 0 && k > oddMin && k < oddMax)
        .agg(min(k)).head().getLong(0)
      s.sql(s"DELETE FROM graft_snap_sqldel_tbl WHERE o_orderkey = $k0")
      val m3 = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$out/snapshots/s3")))
      require(m3.linesIterator.count(_.startsWith("remove=")) == 1,
        "the SQL point delete must inherit the Bloom-bounded rewrite")
      s.sql(
        """DELETE FROM graft_snap_sqldel_tbl
          |WHERE o_orderkey % 7 = 0 AND o_orderstatus = 'F'""".stripMargin)
      // subquery deletes, both lanes: a SMALL purge list (≤128 distinct
      // keys — inlines as a Bloom-pruned IN-list, composed with a rest
      // conjunct) and a LARGE one (the semi-join delete lane)
      base.select(k.as("purge_key"))
        .createOrReplaceTempView("graft_snap_sqldel_purge")
      s.sql(
        """DELETE FROM graft_snap_sqldel_tbl
          |WHERE o_orderstatus = 'O' AND o_orderkey IN (
          |  SELECT purge_key FROM graft_snap_sqldel_purge
          |  WHERE purge_key < 200 AND purge_key % 2 = 1)""".stripMargin)
      s.sql(
        """DELETE FROM graft_snap_sqldel_tbl
          |WHERE o_orderkey IN (
          |  SELECT purge_key FROM graft_snap_sqldel_purge
          |  WHERE purge_key % 11 = 3)""".stripMargin)
      require(Snapshots.read(s, out, asOf = Some(2)).count() == base.count(),
        "pre-delete state must stay time-travelable")
      s.sql(
        """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
          |  o_orderpriority
          |FROM graft_snap_sqldel_tbl""".stripMargin)
    }),

    // Row-level SQL DML lane 2/3 — UPDATE: assignments evaluate against
    // the PRE-update row, a second statement moves rows ACROSS
    // partitions (the partition column is assignable — the rewrite
    // restages under the write discipline). The oracle applies the same
    // two updates as CASE projections.
    "sink_snapshot_sql_update" -> ((s, dir) => {
      val out = Files.createTempDirectory("graft_snap_squpd").toString
      val base = Tables(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderpriority")
      Snapshots.write(base.coalesce(1), out, Seq("o_orderpriority"),
        statsColumns = Seq("o_orderkey"))
      s.sql("DROP TABLE IF EXISTS graft_snap_squpd_tbl")
      Snapshots.registerTable(s, out, "graft_snap_squpd_tbl")
      s.sql(
        """UPDATE graft_snap_squpd_tbl
          |SET o_totalprice = o_totalprice * 2, o_orderstatus = 'U'
          |WHERE o_orderpriority = '1-URGENT' AND o_orderkey % 3 = 0
          |""".stripMargin)
      s.sql(
        """UPDATE graft_snap_squpd_tbl SET o_orderpriority = '8-MOVED'
          |WHERE o_orderkey % 50 = 7""".stripMargin)
      require(Snapshots.history(s, out).collect().map(_.getString(1)).toSeq
        == Seq("append", "update_where", "update_where"),
        "each SQL UPDATE must publish one engine update snapshot")
      s.sql(
        """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
          |  o_orderpriority
          |FROM graft_snap_squpd_tbl""".stripMargin)
    }),

    // Row-level SQL DML lane 3/3 — MERGE INTO: the canonical upsert
    // (UPDATE SET * / INSERT *, replacements moving partitions) followed
    // by a delete-matched merge; both must be the engine's mergeUpsert
    // (asserted via the manifest modes). The oracle derives the same
    // replace/insert/delete state from the source table.
    "sink_snapshot_sql_merge" -> ((s, dir) => {
      val out = Files.createTempDirectory("graft_snap_sqmrg").toString
      val base = Tables(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderpriority")
      val k = col("o_orderkey")
      Snapshots.write(base.coalesce(1), out, Seq("o_orderpriority"))
      s.sql("DROP TABLE IF EXISTS graft_snap_sqmrg_tbl")
      Snapshots.registerTable(s, out, "graft_snap_sqmrg_tbl")
      base.filter(k % 10 === 4)
        .withColumn("o_orderstatus", lit("M"))
        .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
        .withColumn("o_orderpriority", lit("7-MERGE"))
        .unionByName(base.filter(k % 10 === 6)
          .withColumn("o_orderkey", k + 2000000L)
          .withColumn("o_orderstatus", lit("N"))
          .withColumn("o_orderpriority", lit("7-MERGE")))
        .createOrReplaceTempView("graft_snap_sqmrg_src")
      s.sql(
        """MERGE INTO graft_snap_sqmrg_tbl t USING graft_snap_sqmrg_src s
          |ON t.o_orderkey = s.o_orderkey
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      base.filter(k % 17 === 0).select("o_orderkey")
        .createOrReplaceTempView("graft_snap_sqmrg_del")
      s.sql(
        """MERGE INTO graft_snap_sqmrg_tbl t USING graft_snap_sqmrg_del s
          |ON t.o_orderkey = s.o_orderkey
          |WHEN MATCHED THEN DELETE""".stripMargin)
      // the CDC-apply statement: conditional clauses route each source
      // row (op D deletes, U partially updates against the PRE-merge
      // target values, I conditionally inserts, X is claimed by no
      // clause and ignored)
      base.filter(k % 13 === 1 && k % 17 =!= 0)
        .withColumn("op", when(k % 26 === 1, lit("D")).otherwise(lit("U")))
        .unionByName(base.filter(k % 10 === 8)
          .withColumn("o_orderkey", k + 3000000L)
          .withColumn("op", lit("I")))
        .unionByName(base.filter(k % 10 === 2)
          .withColumn("o_orderkey", k + 4000000L)
          .withColumn("op", lit("X")))
        .createOrReplaceTempView("graft_snap_sqmrg_cdc")
      s.sql(
        """MERGE INTO graft_snap_sqmrg_tbl t USING graft_snap_sqmrg_cdc s
          |ON t.o_orderkey = s.o_orderkey
          |WHEN MATCHED AND s.op = 'D' THEN DELETE
          |WHEN MATCHED AND s.op = 'U' THEN UPDATE SET
          |  o_totalprice = s.o_totalprice + t.o_totalprice,
          |  o_orderstatus = 'C'
          |WHEN NOT MATCHED AND s.op = 'I' THEN INSERT
          |  (o_orderkey, o_custkey, o_orderstatus, o_totalprice,
          |   o_orderpriority)
          |  VALUES (s.o_orderkey, s.o_custkey, 'I', s.o_totalprice,
          |          '7-CDC')
          |WHEN NOT MATCHED BY SOURCE AND t.o_orderkey % 100 = 7
          |  THEN DELETE""".stripMargin)
      require(Snapshots.history(s, out).collect().map(_.getString(1)).toSeq
        == Seq("append", "merge", "merge", "merge"),
        "each SQL MERGE must publish one engine merge snapshot")
      s.sql(
        """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
          |  o_orderpriority
          |FROM graft_snap_sqmrg_tbl""".stripMargin)
    }),

    // ALTER TABLE ADD COLUMNS: schema widening WITHOUT a write — one
    // metadata-only evolve_schema snapshot through the evolution gate
    // (asserted in-query), pre-widening rows reading typed nulls, and
    // an INSERT carrying the new column landing under the widened
    // contract. The oracle is the original rows with a NULL note plus
    // the inserted 9th-key copies with theirs.
    "sink_snapshot_sql_alter" -> ((s, dir) => {
      val out = Files.createTempDirectory("graft_snap_alt").toString
      val base = Tables(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderpriority")
      Snapshots.write(base.coalesce(1), out, Seq("o_orderpriority"))
      s.sql("DROP TABLE IF EXISTS graft_snap_alt_tbl")
      Snapshots.registerTable(s, out, "graft_snap_alt_tbl")
      s.sql("ALTER TABLE graft_snap_alt_tbl ADD COLUMNS (o_note STRING)")
      require(Snapshots.history(s, out).collect().map(_.getString(1)).toSeq
        == Seq("append", "evolve_schema"),
        "the widening must be one metadata-only evolve_schema snapshot")
      s.sql(
        """INSERT INTO graft_snap_alt_tbl
          |SELECT o_orderkey + 1000000, o_custkey, 'A', o_totalprice,
          |  '6-ALTER', concat('n', o_orderkey)
          |FROM graft_snap_alt_tbl
          |WHERE o_orderkey % 9 = 0""".stripMargin)
      // ALTER COLUMN TYPE: add an INT column, then widen it to BIGINT
      // metadata-only and land values only a bigint can hold — old
      // files (int-typed and null-filled) read upcast
      s.sql("ALTER TABLE graft_snap_alt_tbl ADD COLUMNS (o_score INT)")
      s.sql(
        "ALTER TABLE graft_snap_alt_tbl ALTER COLUMN o_score TYPE BIGINT")
      require(Snapshots.history(s, out).collect().map(_.getString(1)).toSeq
        == Seq("append", "evolve_schema", "append", "evolve_schema",
          "evolve_schema"),
        "ADD COLUMNS and ALTER COLUMN TYPE are each one metadata-only " +
          "snapshot")
      s.sql(
        """INSERT INTO graft_snap_alt_tbl
          |SELECT o_orderkey + 2000000, o_custkey, 'W', o_totalprice,
          |  '8-WIDE', NULL, o_orderkey * 1000000000
          |FROM graft_snap_alt_tbl
          |WHERE o_orderkey % 11 = 0 AND o_orderkey < 1000000""".stripMargin)
      s.sql(
        """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
          |  o_orderpriority, o_note, o_score
          |FROM graft_snap_alt_tbl""".stripMargin)
    }),

    // SQL maintenance: CALL graft_maintain runs fold→compact→expire→
    // vacuum on a fragmented dataset and reports what it did (asserted
    // in-query: three appends compact to one snapshot, the pre-compact
    // states expire) — and the CONTENT is untouched, which is what the
    // oracle checks.
    "sink_snapshot_sql_maintain" -> ((s, dir) => {
      val out = Files.createTempDirectory("graft_snap_mnt").toString
      val base = Tables(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderpriority")
      val k = col("o_orderkey")
      for (m <- 0 to 2)
        Snapshots.write(base.filter(k % 3 === m).coalesce(1), out,
          Seq("o_orderpriority"), Snapshots.SnapAppend)
      s.sql("DROP TABLE IF EXISTS graft_snap_mnt_tbl")
      Snapshots.registerTable(s, out, "graft_snap_mnt_tbl")
      val esc = out.replace("'", "''")
      val rep = s.sql(s"CALL graft_maintain('$esc', 1)").head()
      require(rep.getInt(1) == 4 && rep.getInt(2) == 3,
        s"expected compact to s4 and 3 expired snapshots, got $rep")
      require(Snapshots.history(s, out).collect().map(_.getString(1)).toSeq
        == Seq("compact"), "only the compacted state remains retained")
      // RESTORE from SQL: tag the good state, land a bad batch, roll
      // back — the oracle (plain orders) checks the restore is exact
      val good = s.sql(s"CALL graft_tag('$esc', 'good')").head().getInt(0)
      s.sql(
        """INSERT INTO graft_snap_mnt_tbl
          |SELECT o_orderkey + 9000000, o_custkey, 'X', o_totalprice,
          |  o_orderpriority
          |FROM graft_snap_mnt_tbl WHERE o_orderkey % 97 = 0""".stripMargin)
      val restored = s.sql(s"CALL graft_rollback('$esc', $good)").head()
        .getInt(0)
      require(Snapshots.history(s, out).collect().map(_.getString(1)).toSeq
        == Seq("compact", "append", "rollback") &&
          restored == good + 2,
        "the bad batch must stay audit-travelable under the rollback")
      s.sql(
        """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
          |  o_orderpriority
          |FROM graft_snap_mnt_tbl""".stripMargin)
    }),

    // SQL DDL lifecycle — CREATE TABLE AS SELECT creates the dataset AND
    // the registration in one statement; TRUNCATE TABLE publishes the
    // METADATA-ONLY truncate snapshot (asserted in-query: no file lines,
    // count 0, pre-truncate state still time-travels — Spark's own
    // command would have fs-deleted the whole tree); the table refills
    // FROM ITS OWN HISTORY (graft_snapshot at the pre-truncate id), then
    // TRUNCATE PARTITION drops one partition through the file-bounded
    // delete lane. Oracle: base ∪ shifted copies minus the partition.
    "sink_snapshot_sql_ddl" -> ((s, dir) => {
      val out = Files.createTempDirectory("graft_snap_ddl").toString
      val esc = out.replace("'", "''")
      Tables(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderpriority")
        .createOrReplaceTempView("graft_snap_ddl_src")
      s.sql("DROP TABLE IF EXISTS graft_snap_ddl_tbl")
      s.sql(
        s"""CREATE TABLE graft_snap_ddl_tbl
           |USING `graft-snapshot`
           |OPTIONS (path '$esc', partitionBy 'o_orderpriority')
           |AS SELECT * FROM graft_snap_ddl_src""".stripMargin)
      s.sql(
        """INSERT INTO graft_snap_ddl_tbl
          |SELECT o_orderkey + 1000000, o_custkey, 'T', o_totalprice,
          |  o_orderpriority
          |FROM graft_snap_ddl_src""".stripMargin)
      val full = s.sql("SELECT count(*) FROM graft_snap_ddl_tbl")
        .head().getLong(0)
      s.sql("TRUNCATE TABLE graft_snap_ddl_tbl")
      require(s.sql("SELECT count(*) FROM graft_snap_ddl_tbl")
        .head().getLong(0) == 0L, "TRUNCATE must empty the table")
      val m3 = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$out/snapshots/s3")))
      require(!m3.linesIterator.exists(l =>
        l.startsWith("file=") || l.startsWith("add=")),
        "the truncate snapshot must be metadata-only (no file entries)")
      require(s.sql(s"SELECT count(*) FROM graft_snapshot('$esc', 2)")
        .head().getLong(0) == full,
        "pre-truncate state must stay time-travelable")
      s.sql(
        s"""INSERT INTO graft_snap_ddl_tbl
           |SELECT * FROM graft_snapshot('$esc', 2)""".stripMargin)
      s.sql(
        "TRUNCATE TABLE graft_snap_ddl_tbl " +
          "PARTITION (o_orderpriority = '1-URGENT')")
      // static-PARTITION INSERT — the pre-analyzer intercept rewrites
      // the Hive spelling to the in-row form (Spark alone dies on
      // catalog partition metadata): refill the dropped partition with
      // shifted-key 'P' copies, the literal injected at its slot
      s.sql(
        """INSERT INTO graft_snap_ddl_tbl
          |PARTITION (o_orderpriority = '1-URGENT')
          |SELECT o_orderkey + 3000000, o_custkey, 'P', o_totalprice
          |FROM graft_snap_ddl_src
          |WHERE o_orderpriority = '1-URGENT'""".stripMargin)
      // static OVERWRITE = replace EXACTLY the named region, atomically
      // (one replace_where snapshot — Spark's default static
      // partitionOverwriteMode semantics): 5-LOW rebuilds from source
      // with status 'L', shedding the shifted 'T' copies there
      s.sql(
        """INSERT OVERWRITE graft_snap_ddl_tbl
          |PARTITION (o_orderpriority = '5-LOW')
          |SELECT o_orderkey, o_custkey, 'L', o_totalprice
          |FROM graft_snap_ddl_src
          |WHERE o_orderpriority = '5-LOW'""".stripMargin)
      require(Snapshots.history(s, out).collect().map(_.getString(1)).toSeq
        == Seq("overwrite_partitions", "append", "truncate", "append",
          "delete_where", "append", "replace_where"),
        "CTAS/INSERT/TRUNCATE/refill/partition-truncate/static-insert/" +
          "static-overwrite, each one snapshot")
      s.sql(
        """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
          |  o_orderpriority
          |FROM graft_snap_ddl_tbl""".stripMargin)
    }),

    // Column-mapping evolution — ALTER TABLE RENAME/DROP COLUMN as
    // METADATA-ONLY events: files written before the rename serve their
    // bytes under the NEW name through the manifest's rename ledger
    // (asserted in-query: the rename/drop snapshots add no files), new
    // writes land under the new contract, a filter on the renamed
    // column evaluates across both name epochs, and history
    // time-travels under the old shape. Oracle: base ∪ shifted 'R'
    // copies, the status column renamed, o_custkey dropped, non-'P'
    // rows only.
    "sink_snapshot_rename_column" -> ((s, dir) => {
      val out = Files.createTempDirectory("graft_snap_ren").toString
      val esc = out.replace("'", "''")
      val base = Tables(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderpriority")
      base.createOrReplaceTempView("graft_snap_ren_src")
      Snapshots.write(base.coalesce(1), out, Seq("o_orderpriority"))
      s.sql("DROP TABLE IF EXISTS graft_snap_ren_tbl")
      Snapshots.registerTable(s, out, "graft_snap_ren_tbl")
      val filesBefore = Snapshots.read(s, out).inputFiles.toSet
      s.sql(
        "ALTER TABLE graft_snap_ren_tbl RENAME COLUMN o_orderstatus TO " +
          "status")
      require(Snapshots.read(s, out).inputFiles.toSet == filesBefore,
        "rename must be metadata-only — zero files rewritten")
      s.sql(
        """INSERT INTO graft_snap_ren_tbl
          |SELECT o_orderkey + 1000000, o_custkey, 'R', o_totalprice,
          |  o_orderpriority
          |FROM graft_snap_ren_src""".stripMargin)
      s.sql("ALTER TABLE graft_snap_ren_tbl DROP COLUMN o_custkey")
      require(Snapshots.read(s, out).inputFiles.toSet.size ==
        filesBefore.size * 2, "drop must be metadata-only too")
      // history serves the pre-rename shape (old name, dropped column)
      require(s.sql(s"SELECT o_orderstatus, o_custkey FROM " +
        s"graft_snapshot('$esc', 1)").count() == base.count(),
        "the pre-rename snapshot must time-travel under its own shape")
      require(Snapshots.history(s, out).collect().map(_.getString(1)).toSeq
        == Seq("append", "rename_column", "append", "drop_column"),
        "each evolution event is one metadata-only snapshot")
      s.sql(
        """SELECT o_orderkey, status, o_totalprice, o_orderpriority
          |FROM graft_snap_ren_tbl WHERE status <> 'P'""".stripMargin)
    }),

    // CHECK constraints — the ADD CONSTRAINT lifecycle from SQL: a rule
    // added via CALL gates every later write lane (violating INSERT and
    // UPDATE both fail NAMING the rule, with nothing published —
    // asserted in-query), a tighter rule the data violates is refused
    // at ADD, and dropping the rule releases it. Oracle: base ∪ the
    // valid inserts ∪ the post-drop (previously invalid) inserts.
    "sink_snapshot_constraints" -> ((s, dir) => {
      val out = Files.createTempDirectory("graft_snap_ck").toString
      val esc = out.replace("'", "''")
      val base = Tables(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderpriority")
      base.createOrReplaceTempView("graft_snap_ck_src")
      Snapshots.write(base.coalesce(1), out, Seq("o_orderpriority"))
      s.sql("DROP TABLE IF EXISTS graft_snap_ck_tbl")
      Snapshots.registerTable(s, out, "graft_snap_ck_tbl")
      s.sql(s"CALL graft_add_constraint('$esc', 'price_pos', " +
        "'o_totalprice > 0')")
      s.sql(
        """INSERT INTO graft_snap_ck_tbl
          |SELECT o_orderkey + 1000000, o_custkey, 'C', o_totalprice,
          |  o_orderpriority
          |FROM graft_snap_ck_src WHERE o_orderkey % 8 = 0""".stripMargin)
      def fails(sql: String, naming: String): Unit = {
        val ok =
          try { s.sql(sql); false }
          catch {
            case e: Throwable =>
              def msgs(t: Throwable): String =
                if (t == null) "" else t.getMessage + "|" + msgs(t.getCause)
              msgs(e).contains(naming)
          }
        require(ok, s"statement must fail naming $naming: $sql")
      }
      fails(
        """INSERT INTO graft_snap_ck_tbl
          |SELECT o_orderkey + 5000000, o_custkey, 'B', -o_totalprice,
          |  o_orderpriority
          |FROM graft_snap_ck_src WHERE o_orderkey % 5 = 0""".stripMargin,
        "CHECK constraint 'price_pos'")
      fails(
        "UPDATE graft_snap_ck_tbl SET o_totalprice = -1 " +
          "WHERE o_orderkey % 9 = 0", "CHECK constraint 'price_pos'")
      fails(s"CALL graft_add_constraint('$esc', 'price_cap', " +
        "'o_totalprice < 10')", "existing rows violate")
      require(Snapshots.currentSnapshot(s, out).contains(3),
        "failed statements must publish NOTHING")
      s.sql(s"CALL graft_drop_constraint('$esc', 'price_pos')")
      s.sql(
        """INSERT INTO graft_snap_ck_tbl
          |SELECT o_orderkey + 2000000, o_custkey, 'X', -o_totalprice,
          |  o_orderpriority
          |FROM graft_snap_ck_src WHERE o_orderkey % 50 = 0""".stripMargin)
      require(Snapshots.history(s, out).collect().map(_.getString(1)).toSeq
        == Seq("append", "add_constraint", "append", "drop_constraint",
          "append"), "the constraint lifecycle must be audited history")
      s.sql(
        """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
          |  o_orderpriority
          |FROM graft_snap_ck_tbl""".stripMargin)
    }),

    // Predicate-scoped overwrite — the Delta-replaceWhere statement
    // through the STANDARD writer API (df.write.partitionBy flows via
    // the v1 encoded option): one `replace_where` snapshot atomically
    // swaps exactly the matching rows for the incoming batch (never a
    // delete+append pair). First a partition-predicate rebuild (asserted
    // in-query: only that partition's files leave the manifest), then a
    // row-predicate replacement (file-bounded copy-on-write). Oracle:
    // untouched slices ∪ both replacement batches.
    "sink_snapshot_replace_where" -> ((s, dir) => {
      val out = Files.createTempDirectory("graft_snap_rw").toString
      val base = Tables(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderpriority")
      base.write.format("graft-snapshot").partitionBy("o_orderpriority")
        .save(out)
      // rebuild the URGENT partition from source: even keys only (the
      // replacement legitimately changes cardinality), re-statused and
      // re-priced
      base.filter(col("o_orderpriority") === "1-URGENT" &&
          col("o_orderkey") % 2 === 0)
        .withColumn("o_orderstatus", lit("R"))
        .withColumn("o_totalprice", col("o_totalprice") * 3)
        .write.format("graft-snapshot").mode("overwrite")
        .option("replaceWhere", "o_orderpriority = '1-URGENT'").save(out)
      val m2 = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$out/snapshots/s2")))
      val removed = m2.linesIterator.filter(_.startsWith("remove=")).toSeq
      require(removed.nonEmpty &&
        removed.forall(_.contains("o_orderpriority=1-URGENT")),
        s"only the URGENT partition's files may rewrite, got $removed")
      // a ROW-predicate replacement: the finished high-priority slice
      // re-lands as every-third-key rows with a service surcharge
      base.filter(col("o_orderstatus") === "F" &&
          col("o_orderpriority") === "2-HIGH" &&
          col("o_orderkey") % 3 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 100)
        .write.format("graft-snapshot").mode("overwrite")
        .option("replaceWhere",
          "o_orderstatus = 'F' AND o_orderpriority = '2-HIGH'").save(out)
      require(Snapshots.history(s, out).collect().map(_.getString(1)).toSeq
        == Seq("append", "replace_where", "replace_where"),
        "each replaceWhere must publish ONE replace_where snapshot")
      Snapshots.read(s, out)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderpriority")
    }),

    // Subscribe-to-the-table: three appended thirds land in a source
    // dataset (with a compact interleaved — the follower must skip it);
    // a SnapshotFollower mirrors each batch into a SECOND snapshot
    // dataset with `follow-<id>` replay tags, crashing once AFTER a
    // write and BEFORE its offset commit — the redelivered batch must
    // converge through the sink's tag window, not double-append. The
    // oracle is the full source table against the MIRROR's content.
    "sink_snapshot_follow" -> ((s, dir) => {
      val src = Files.createTempDirectory("graft_snap_fsrc").toString
      val mirror = Files.createTempDirectory("graft_snap_fmir").toString
      val cp = Files.createTempDirectory("graft_snap_fcp").toString
      val base = Tables(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderpriority")
      for (m <- 0 to 1)
        Snapshots.write(base.filter(col("o_orderkey") % 3 === m).coalesce(1),
          src, Seq("o_orderpriority"), Snapshots.SnapAppend)
      Snapshots.compact(s, src, Seq("o_orderpriority"))
      Snapshots.write(base.filter(col("o_orderkey") % 3 === 2).coalesce(1),
        src, Seq("o_orderpriority"), Snapshots.SnapAppend)
      val follower = new graft.streaming.SnapshotFollower(s, src, cp)
      var crashed = false
      def mirrorBatch(df: DataFrame,
          b: graft.streaming.SnapshotFollower.BatchInfo): Unit = {
        Snapshots.write(df.coalesce(1), mirror, Seq("o_orderpriority"),
          Snapshots.SnapAppend, batchTag = Some(s"follow-${b.snapshotId}")): Unit
        if (b.snapshotId == 2 && !crashed) {
          crashed = true; sys.error("injected crash")
        }
      }
      val first =
        try { follower.drain(mirrorBatch); Seq.empty[Int] }
        catch { case _: RuntimeException => Seq(1) }
      require(first.nonEmpty, "the injected crash must surface")
      follower.drain(mirrorBatch)
      require(follower.lastCommitted.contains(4),
        s"follower must drain to s4: ${follower.lastCommitted}")
      Snapshots.read(s, mirror)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderpriority")
    }),

    // Format parity for the snapshot layer: the travel fixture on an
    // ORC + zstd dataset — write, logically overwrite, time-travel, and
    // read back through the manifest in the dataset's own format. The
    // oracle is the same two-state derivation as sink_snapshot_travel.
    "sink_snapshot_travel_orc" -> ((s, dir) => {
      val out = Files.createTempDirectory("graft_snap_travel_orc").toString
      val base = Tables(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderpriority")
      val s1 = Snapshots.write(base.coalesce(1), out, Seq("o_orderpriority"),
        format = Some(OrcFormat), codec = Some("zstd"))
      Snapshots.write(
        base.filter(col("o_orderpriority") === "1-URGENT"
          && col("o_orderkey") % 2 === 0).coalesce(1),
        out, Seq("o_orderpriority"), Snapshots.SnapOverwritePartitions)
      def agg(df: DataFrame, snap: Int) = df
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_rows"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("sum_cents"))
        .withColumn("snapshot", lit(snap))
      agg(Snapshots.read(s, out, asOf = Some(s1)), 1)
        .unionByName(agg(Snapshots.read(s, out), 2))
        .select("snapshot", "o_orderpriority", "n_rows", "sum_cents")
    }),
  )

  /** Shared two-snapshot fixture: full orders land as s1 (one file per
    * partition), then an overwrite-partitions batch replaces 1-URGENT
    * with only its even keys as s2. Returns (base projection, s1, s2). */
  private def snapshotFixture(
      s: SparkSession, dir: String, out: String): (DataFrame, Int, Int) = {
    val base = Tables(s, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderpriority")
    val s1 = Snapshots.write(base.coalesce(1), out, Seq("o_orderpriority"))
    val s2 = Snapshots.write(
      base.filter(col("o_orderpriority") === "1-URGENT"
        && col("o_orderkey") % 2 === 0).coalesce(1),
      out, Seq("o_orderpriority"), Snapshots.SnapOverwritePartitions)
    (base, s1, s2)
  }

  /** Range-sharded export round-trip (registered into [[all]] below):
    * content identity is the oracle; shard-file count and global ordering
    * are asserted in `SinkSurfaceSpec` (shard boundaries come from a
    * sampler, so the per-shard split is not oracle-stable — the content
    * is). */
  private def rangeShardRoundTrip(s: SparkSession, dir: String): DataFrame = {
    val out = Files.createTempDirectory("graft_sink_range").toString
    PartitionedSink.writeRangeSharded(
      Tables(s, dir, "documents"), out, "doc_id", nShards = 8)
    s.read.parquet(out)
  }

  private def orcAvroOracle = ordersOracle

  val oracles: Map[String, String] = Map(
    "sink_parquet_partitioned" -> ordersOracle,
    "sink_zstd_partitioned" -> ordersOracle,
    "sink_compacted" -> ordersOracle,

    // the in-place compaction preserves content; retention then drops
    // the urgent partition wholesale
    "sink_plain_sql_maintain" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  o_orderpriority
        |FROM orders WHERE o_orderpriority <> '1-URGENT'""".stripMargin,
    "sink_retention" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  trim(cast(o_orderpriority as varchar)) AS o_orderpriority
        |FROM orders
        |WHERE trim(cast(o_orderpriority as varchar)) NOT LIKE '5%'""".stripMargin,
    "sink_compacted_sized" -> ordersOracle,
    "sink_evolution_widen" ->
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |  CASE WHEN o_orderkey % 2 = 1 THEN o_orderstatus END
        |    AS o_orderstatus,
        |  trim(cast(o_orderpriority as varchar)) AS o_orderpriority
        |FROM orders""".stripMargin,
    "sink_overwrite_partitions" ->
      """SELECT o_orderkey, o_custkey,
        |  CASE WHEN trim(cast(o_orderpriority as varchar)) = '1-URGENT'
        |    THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
        |  o_totalprice,
        |  trim(cast(o_orderpriority as varchar)) AS o_orderpriority
        |FROM orders""".stripMargin,
    "sink_merge_upsert" ->
      """WITH upd AS (
        |  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
        |    o_totalprice + 1000.0 AS o_totalprice,
        |    '1-URGENT' AS o_orderpriority
        |  FROM orders WHERE o_orderkey % 10 = 3
        |), ins AS (
        |  SELECT o_orderkey + 1000000 AS o_orderkey, o_custkey,
        |    'N' AS o_orderstatus, o_totalprice, '5-LOW' AS o_orderpriority
        |  FROM orders WHERE o_orderkey % 10 = 4 AND o_orderkey % 3 = 0
        |), delk AS (
        |  SELECT o_orderkey FROM orders
        |  WHERE o_orderkey % 17 = 0 AND o_orderkey % 10 != 3
        |)
        |SELECT b.o_orderkey, b.o_custkey, b.o_orderstatus, b.o_totalprice,
        |  trim(cast(b.o_orderpriority as varchar)) AS o_orderpriority
        |FROM orders b
        |WHERE b.o_orderkey % 10 != 3
        |  AND b.o_orderkey NOT IN (SELECT o_orderkey FROM delk)
        |UNION ALL SELECT * FROM upd
        |UNION ALL SELECT * FROM ins""".stripMargin,
    "sink_orc_partitioned" -> orcAvroOracle,
    "sink_avro_partitioned" -> orcAvroOracle,
    "sink_range_sharded" ->
      "SELECT doc_id, text, lang, source, n_chars FROM documents",
    // Mirrors ZOrder.zorder2 + writeZOrdered exactly: min-max scale each
    // column to 16 bits, 5 spread steps per column (magic masks in
    // decimal), OR one bit apart, equal-width slabs over the analytic
    // z domain [0, 2^32). All non-negative integer math — exact in both
    // engines.
    "sink_zorder_layout" ->
      """WITH mm AS (
        |  SELECT min(l_partkey) AS amin,
        |    greatest(max(l_partkey) - min(l_partkey), 1) AS aspan,
        |    min(l_suppkey) AS bmin,
        |    greatest(max(l_suppkey) - min(l_suppkey), 1) AS bspan
        |  FROM lineitem),
        |z0 AS (
        |  SELECT l_partkey, l_suppkey,
        |    ((CAST(l_partkey AS BIGINT) - amin) * 65535) // aspan AS a0,
        |    ((CAST(l_suppkey AS BIGINT) - bmin) * 65535) // bspan AS b0
        |  FROM lineitem, mm),
        |z1 AS (SELECT l_partkey, l_suppkey,
        |  (a0 | (a0 << 16)) & 281470681808895 AS a1,
        |  (b0 | (b0 << 16)) & 281470681808895 AS b1 FROM z0),
        |z2 AS (SELECT l_partkey, l_suppkey,
        |  (a1 | (a1 << 8)) & 71777214294589695 AS a2,
        |  (b1 | (b1 << 8)) & 71777214294589695 AS b2 FROM z1),
        |z3 AS (SELECT l_partkey, l_suppkey,
        |  (a2 | (a2 << 4)) & 1085102592571150095 AS a3,
        |  (b2 | (b2 << 4)) & 1085102592571150095 AS b3 FROM z2),
        |z4 AS (SELECT l_partkey, l_suppkey,
        |  (a3 | (a3 << 2)) & 3689348814741910323 AS a4,
        |  (b3 | (b3 << 2)) & 3689348814741910323 AS b4 FROM z3),
        |z5 AS (SELECT l_partkey, l_suppkey,
        |  ((a4 | (a4 << 1)) & 6148914691236517205)
        |    | (((b4 | (b4 << 1)) & 6148914691236517205) << 1) AS zv FROM z4),
        |b AS (SELECT l_partkey, l_suppkey,
        |  zv // ((4294967295 // 16) + 1) AS bucket FROM z5)
        |SELECT CAST(bucket AS varchar) AS zbucket, count(*) AS n_rows,
        |  min(l_partkey) AS min_part, max(l_partkey) AS max_part,
        |  min(l_suppkey) AS min_supp, max(l_suppkey) AS max_supp
        |FROM b GROUP BY bucket""".stripMargin,

    "sink_skewed_write" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  CASE WHEN o_orderkey % 100 < 90 THEN 'hot'
        |    ELSE 'c' || cast(o_orderkey % 100 as varchar) END AS shard
        |FROM orders""".stripMargin,

    "sink_partition_stats" ->
      """SELECT trim(cast(o_orderpriority as varchar)) AS o_orderpriority,
        |  count(*) AS n_rows
        |FROM orders GROUP BY 1""".stripMargin,

    "sink_multifield_layout" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
        |  cast(sum(cast(round(l_quantity * 100, 0) as bigint)) / 100.0 as double) AS sum_qty
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    // snapshot 1 is the full table; snapshot 2 drops odd 1-URGENT keys
    "sink_snapshot_travel" ->
      """WITH b AS (
        |  SELECT o_orderkey, o_orderpriority,
        |    cast(round(o_totalprice * 100, 0) as bigint) AS cents
        |  FROM orders)
        |SELECT 1 AS snapshot, o_orderpriority,
        |  count(*) AS n_rows, cast(sum(cents) as bigint) AS sum_cents
        |FROM b GROUP BY o_orderpriority
        |UNION ALL
        |SELECT 2 AS snapshot, o_orderpriority,
        |  count(*) AS n_rows, cast(sum(cents) as bigint) AS sum_cents
        |FROM b
        |WHERE o_orderpriority != '1-URGENT' OR o_orderkey % 2 = 0
        |GROUP BY o_orderpriority""".stripMargin,

    // identical derivation to sink_snapshot_travel: the WAP fixture's
    // published states are the same two states, reached through the
    // stage→audit→publish lane instead of direct writes
    "sink_snapshot_wap" ->
      """WITH b AS (
        |  SELECT o_orderkey, o_orderpriority,
        |    cast(round(o_totalprice * 100, 0) as bigint) AS cents
        |  FROM orders)
        |SELECT 1 AS snapshot, o_orderpriority,
        |  count(*) AS n_rows, cast(sum(cents) as bigint) AS sum_cents
        |FROM b GROUP BY o_orderpriority
        |UNION ALL
        |SELECT 2 AS snapshot, o_orderpriority,
        |  count(*) AS n_rows, cast(sum(cents) as bigint) AS sum_cents
        |FROM b
        |WHERE o_orderpriority != '1-URGENT' OR o_orderkey % 2 = 0
        |GROUP BY o_orderpriority""".stripMargin,

    // every verdict row recomputed in plain SQL: exact conditional
    // counts, count(*)-count(distinct) duplicate surplus, the one IEEE
    // division for the ratio, and the threshold compare for passed
    "sink_expectations" ->
      """WITH a AS (
        |  SELECT count(*) AS n,
        |    sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS v_null,
        |    sum(CASE WHEN n_chars IS NOT NULL AND
        |      (cast(n_chars as double) < 1.0 OR cast(n_chars as double) > 500.0)
        |      THEN 1 ELSE 0 END) AS v_range,
        |    sum(CASE WHEN lang IS NOT NULL AND lang NOT IN ('en','de','fr')
        |      THEN 1 ELSE 0 END) AS v_set,
        |    sum(CASE WHEN lang IS NOT NULL AND
        |      NOT regexp_matches(lang, '^[a-z]{2}$')
        |      THEN 1 ELSE 0 END) AS v_re,
        |    count(*) - count(DISTINCT doc_id) AS v_uniq
        |  FROM documents)
        |SELECT 'not_null(lang)' AS "check", cast(v_null as bigint) AS violations,
        |  n AS n_rows, cast(v_null as double) / n AS violation_ratio,
        |  cast(v_null as double) / n <= 0.0 AS passed FROM a
        |UNION ALL
        |SELECT 'in_range(n_chars,1.0,500.0)', cast(v_range as bigint), n,
        |  cast(v_range as double) / n,
        |  cast(v_range as double) / n <= 0.05 FROM a
        |UNION ALL
        |SELECT 'in_set(lang)', cast(v_set as bigint), n, cast(v_set as double) / n,
        |  cast(v_set as double) / n <= 0.5 FROM a
        |UNION ALL
        |SELECT 'matches_regex(lang)', cast(v_re as bigint), n, cast(v_re as double) / n,
        |  cast(v_re as double) / n <= 0.0 FROM a
        |UNION ALL
        |SELECT 'unique(doc_id)', cast(v_uniq as bigint), n, cast(v_uniq as double) / n,
        |  v_uniq = 0 FROM a
        |UNION ALL
        |SELECT 'non_empty(100)',
        |  cast(CASE WHEN n < 100 THEN 100 - n ELSE 0 END as bigint), n,
        |  cast(CASE WHEN n < 100 THEN 100 - n ELSE 0 END as double) / n,
        |  n >= 100 FROM a""".stripMargin,

    // the pruned range read returns exactly the range rows
    "sink_snapshot_cluster" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id BETWEEN 100 AND 299""".stripMargin,

    // upserted status for every 7th key, every 11th key deleted
    "sink_snapshot_merge" ->
      """SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderkey % 7 = 0 AND o_orderkey % 11 != 0
        |    THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
        |  o_totalprice, o_orderpriority
        |FROM orders WHERE o_orderkey % 11 != 0""".stripMargin,

    // the era-mixed read reassembles the full table exactly
    "sink_snapshot_evolve" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  o_orderpriority
        |FROM orders""".stripMargin,

    // the streamed CDC batch lands the identical logical state — the
    // streaming lane earns the batch merges' oracle
    "sink_snapshot_mor_stream" ->
      """SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderkey % 7 = 0 AND o_orderkey % 11 != 0
        |    THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
        |  o_totalprice, o_orderpriority
        |FROM orders WHERE o_orderkey % 11 != 0""".stripMargin,

    // merge-on-read lands the identical logical state as the
    // copy-on-write merge — same oracle derivation
    "sink_snapshot_mor" ->
      """SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderkey % 7 = 0 AND o_orderkey % 11 != 0
        |    THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
        |  o_totalprice, o_orderpriority
        |FROM orders WHERE o_orderkey % 11 != 0""".stripMargin,

    // after batch 1 (delete %11, patch %7-not-%11 to X) and batch 2
    // (re-insert %22 with status R), folded to plain files
    "sink_snapshot_fold" ->
      """SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderkey % 7 = 0 AND o_orderkey % 11 != 0
        |    THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
        |  o_totalprice, o_orderpriority
        |FROM orders WHERE o_orderkey % 11 != 0
        |UNION ALL
        |SELECT o_orderkey, o_custkey, 'R' AS o_orderstatus,
        |  o_totalprice, o_orderpriority
        |FROM orders WHERE o_orderkey % 22 = 0""".stripMargin,

    // batches 2 and 3 of the three mod-3 appends
    "sink_snapshot_incremental" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  o_orderpriority
        |FROM orders WHERE o_orderkey % 3 IN (1, 2)""".stripMargin,

    // compaction is a pure layout rewrite — content identity
    "sink_snapshot_compact" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  o_orderpriority
        |FROM orders""".stripMargin,

    // current state after overwrite + append-back + expiry: everything
    // except odd 1-URGENT keys with key % 4 == 3
    "sink_snapshot_expire" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  o_orderpriority
        |FROM orders
        |WHERE o_orderpriority != '1-URGENT'
        |  OR o_orderkey % 2 = 0 OR o_orderkey % 4 = 1""".stripMargin,

    // every batch lands one file per touched partition: s1 = one per
    // priority, s2 replaces one partition's file (count unchanged),
    // s3 appends one more file into 1-URGENT
    "sink_snapshot_history" ->
      """WITH p AS (SELECT count(DISTINCT o_orderpriority) AS np FROM orders)
        |SELECT 1 AS snapshot_id, 'append' AS mode, np AS n_files,
        |  np AS n_partitions, false AS is_current FROM p
        |UNION ALL
        |SELECT 2, 'overwrite_partitions', np, np, false FROM p
        |UNION ALL
        |SELECT 3, 'append', np + 1, np, true FROM p""".stripMargin,

    // update = post-image (status X), delete = pre-image, insert = the
    // negated-key copies; unchanged rows never surface
    "sink_snapshot_changes" ->
      """SELECT o_orderkey, o_custkey, 'X' AS o_orderstatus, o_totalprice,
        |  o_orderpriority, 'update' AS change_type
        |FROM orders WHERE o_orderkey % 7 = 0 AND o_orderkey % 11 != 0
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  o_orderpriority, 'delete' AS change_type
        |FROM orders WHERE o_orderkey % 11 = 0
        |UNION ALL
        |SELECT -o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  o_orderpriority, 'insert' AS change_type
        |FROM orders WHERE o_orderkey % 13 = 0 AND o_orderkey != 0""".stripMargin,

    // the stat-pruned range read returns exactly the key range
    "sink_snapshot_skipping" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  o_orderpriority
        |FROM orders
        |WHERE o_orderkey BETWEEN 1 AND
        |  (SELECT CAST(FLOOR(max(o_orderkey) / 8.0) AS BIGINT) FROM orders)""".stripMargin,

    // the maintained aggregate must equal a direct recompute over the
    // merged state (price 100.00 on 7-not-11 keys, 11-keys deleted)
    "sink_snapshot_incr_agg" ->
      """SELECT o_orderpriority, count(*) AS n_rows,
        |  cast(sum(CASE WHEN o_orderkey % 7 = 0 AND o_orderkey % 11 != 0
        |    THEN 10000
        |    ELSE cast(round(o_totalprice * 100, 0) as bigint) END) as bigint)
        |    AS sum_cents
        |FROM orders WHERE o_orderkey % 11 != 0
        |GROUP BY o_orderpriority""".stripMargin,

    // TRUE deletes (low-key F rows); false-or-null rows survive
    "sink_snapshot_delete_where" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  o_orderpriority
        |FROM orders
        |WHERE NOT (o_orderkey <=
        |    (SELECT CAST(FLOOR(max(o_orderkey) / 4.0) AS BIGINT) FROM orders)
        |  AND o_orderstatus = 'F')""".stripMargin,

    // the fast-forwarded state: every 9th key carries status U (the CDC
    // merge reinserted the odd-1-URGENT ones the overwrite dropped);
    // other keys survive only if not deleted (%21) and not dropped by the
    // 1-URGENT overwrite; plus the inserted 5-LOW copies
    "sink_snapshot_branch" ->
      """SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderkey % 9 = 0 THEN 'U' ELSE o_orderstatus END
        |    AS o_orderstatus,
        |  o_totalprice, o_orderpriority
        |FROM orders
        |WHERE o_orderkey % 9 = 0
        |  OR (o_orderkey % 21 != 0
        |    AND (o_orderpriority != '1-URGENT' OR o_orderkey % 2 = 0))
        |UNION ALL
        |SELECT o_orderkey + 1000000, o_custkey, 'N', o_totalprice, '5-LOW'
        |FROM orders WHERE o_orderkey % 10 = 4 AND o_orderkey % 3 = 0""".stripMargin,

    // the rebased state: main after its own append + 1-URGENT overwrite,
    // plus both branch appends replayed onto the new head
    "sink_snapshot_rebase" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  o_orderpriority
        |FROM orders
        |WHERE o_orderpriority != '1-URGENT' OR o_orderkey % 2 = 0
        |UNION ALL
        |SELECT o_orderkey + 3000000, o_custkey, o_orderstatus, o_totalprice,
        |  '9-EXTRA'
        |FROM orders WHERE o_orderkey % 10 = 6
        |UNION ALL
        |SELECT o_orderkey + 1000000, o_custkey, 'N', o_totalprice, '5-LOW'
        |FROM orders WHERE o_orderkey % 10 = 3
        |UNION ALL
        |SELECT o_orderkey + 2000000, o_custkey, o_orderstatus, o_totalprice,
        |  '3-MEDIUM'
        |FROM orders WHERE o_orderkey % 10 = 8""".stripMargin,

    // the source minus the bloom-point-deleted key (the smallest even
    // key with odd keys on both sides)
    "sink_snapshot_bloom" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  o_orderpriority
        |FROM orders
        |WHERE o_orderkey != (
        |  SELECT min(o_orderkey) FROM orders
        |  WHERE o_orderkey % 2 = 0
        |    AND o_orderkey > (SELECT min(o_orderkey) FROM orders
        |                      WHERE o_orderkey % 2 = 1)
        |    AND o_orderkey < (SELECT max(o_orderkey) FROM orders
        |                      WHERE o_orderkey % 2 = 1))""".stripMargin,

    // the source minus the bloom-point-deleted key, the predicate
    // (7th-key F) slice, the small (inlined IN-list) purge subquery,
    // and the large (semi-join lane) purge subquery — all four DELETEs
    "sink_snapshot_sql_delete" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  o_orderpriority
        |FROM orders
        |WHERE o_orderkey != (
        |  SELECT min(o_orderkey) FROM orders
        |  WHERE o_orderkey % 2 = 0
        |    AND o_orderkey > (SELECT min(o_orderkey) FROM orders
        |                      WHERE o_orderkey % 2 = 1)
        |    AND o_orderkey < (SELECT max(o_orderkey) FROM orders
        |                      WHERE o_orderkey % 2 = 1))
        |  AND NOT (o_orderkey % 7 = 0 AND o_orderstatus = 'F')
        |  AND NOT (o_orderstatus = 'O' AND o_orderkey < 200
        |           AND o_orderkey % 2 = 1)
        |  AND o_orderkey % 11 != 3""".stripMargin,

    // both UPDATEs as sequential CASE projections: the urgent-3rd-key
    // price doubling (status U), then the 50th-key+7 partition move
    "sink_snapshot_sql_update" ->
      """SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderpriority = '1-URGENT' AND o_orderkey % 3 = 0
        |    THEN 'U' ELSE o_orderstatus END AS o_orderstatus,
        |  CASE WHEN o_orderpriority = '1-URGENT' AND o_orderkey % 3 = 0
        |    THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice,
        |  CASE WHEN o_orderkey % 50 = 7
        |    THEN '8-MOVED' ELSE o_orderpriority END AS o_orderpriority
        |FROM orders""".stripMargin,

    // the upsert (4th-key replacements re-priced into 7-MERGE, 6th-key
    // shifted inserts), the 17th-key delete-matched merge, then the
    // conditional CDC apply (26th-key deletes, 13th-key partial updates,
    // pre-merge-price sums, conditional 8th-key inserts, 100th-key+7
    // rows claimed by no clause)
    "sink_snapshot_sql_merge" ->
      """WITH state AS (
        |  SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_orderkey % 10 = 4 THEN 'M' ELSE o_orderstatus END
        |      AS o_orderstatus,
        |    CASE WHEN o_orderkey % 10 = 4 THEN o_totalprice + 1000
        |      ELSE o_totalprice END AS o_totalprice,
        |    CASE WHEN o_orderkey % 10 = 4 THEN '7-MERGE'
        |      ELSE o_orderpriority END AS o_orderpriority
        |  FROM orders WHERE o_orderkey % 17 != 0
        |  UNION ALL
        |  SELECT o_orderkey + 2000000, o_custkey, 'N', o_totalprice,
        |    '7-MERGE'
        |  FROM orders WHERE o_orderkey % 10 = 6)
        |SELECT st.o_orderkey, st.o_custkey,
        |  CASE WHEN u.o_orderkey IS NOT NULL THEN 'C'
        |    ELSE st.o_orderstatus END AS o_orderstatus,
        |  CASE WHEN u.o_orderkey IS NOT NULL
        |    THEN u.o_totalprice + st.o_totalprice
        |    ELSE st.o_totalprice END AS o_totalprice,
        |  st.o_orderpriority
        |FROM state st
        |LEFT JOIN orders u ON u.o_orderkey = st.o_orderkey
        |  AND u.o_orderkey % 13 = 1 AND u.o_orderkey % 26 != 1
        |WHERE NOT (st.o_orderkey % 13 = 1 AND st.o_orderkey % 26 = 1
        |           AND st.o_orderkey < 2000000)
        |  AND NOT (st.o_orderkey % 100 = 7
        |           AND NOT (st.o_orderkey % 13 = 1
        |                    AND st.o_orderkey < 2000000))
        |UNION ALL
        |SELECT o_orderkey + 3000000, o_custkey, 'I', o_totalprice,
        |  '7-CDC'
        |FROM orders WHERE o_orderkey % 10 = 8""".stripMargin,

    // widened contract: originals read a NULL note and NULL score, the
    // 9th-key copies carry notes, the 11th-key copies carry the
    // beyond-int scores the TYPE widening admitted
    "sink_snapshot_sql_alter" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  o_orderpriority, CAST(NULL AS VARCHAR) AS o_note,
        |  CAST(NULL AS BIGINT) AS o_score
        |FROM orders
        |UNION ALL
        |SELECT o_orderkey + 1000000, o_custkey, 'A', o_totalprice,
        |  '6-ALTER', concat('n', CAST(o_orderkey AS VARCHAR)),
        |  CAST(NULL AS BIGINT)
        |FROM orders WHERE o_orderkey % 9 = 0
        |UNION ALL
        |SELECT o_orderkey + 2000000, o_custkey, 'W', o_totalprice,
        |  '8-WIDE', CAST(NULL AS VARCHAR), o_orderkey * 1000000000
        |FROM orders WHERE o_orderkey % 11 = 0
        |  AND o_orderkey < 1000000""".stripMargin,

    // maintenance must never change content
    "sink_snapshot_sql_maintain" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  o_orderpriority
        |FROM orders""".stripMargin,

    // base ∪ the constrained-era valid inserts (8th keys, 'C') ∪ the
    // post-drop negative-priced inserts (50th keys, 'X'); every
    // violating statement was proven to publish nothing in-query
    "sink_snapshot_constraints" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  o_orderpriority
        |FROM orders
        |UNION ALL
        |SELECT o_orderkey + 1000000, o_custkey, 'C', o_totalprice,
        |  o_orderpriority
        |FROM orders WHERE o_orderkey % 8 = 0
        |UNION ALL
        |SELECT o_orderkey + 2000000, o_custkey, 'X', -o_totalprice,
        |  o_orderpriority
        |FROM orders WHERE o_orderkey % 50 = 0""".stripMargin,

    // base ∪ 'T'-statused shifted copies (the refill restored both from
    // history), minus the TRUNCATE PARTITION'd urgent partition, plus
    // the static-PARTITION 'P' refill of it, with the 5-LOW region
    // replaced wholesale by the static-OVERWRITE 'L' rebuild
    "sink_snapshot_sql_ddl" ->
      """WITH state AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |    o_orderpriority
        |  FROM orders
        |  UNION ALL
        |  SELECT o_orderkey + 1000000, o_custkey, 'T', o_totalprice,
        |    o_orderpriority
        |  FROM orders)
        |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  o_orderpriority
        |FROM state
        |WHERE o_orderpriority NOT IN ('1-URGENT', '5-LOW')
        |UNION ALL
        |SELECT o_orderkey + 3000000, o_custkey, 'P', o_totalprice,
        |  o_orderpriority
        |FROM orders WHERE o_orderpriority = '1-URGENT'
        |UNION ALL
        |SELECT o_orderkey, o_custkey, 'L', o_totalprice,
        |  o_orderpriority
        |FROM orders WHERE o_orderpriority = '5-LOW'""".stripMargin,

    // base ∪ shifted 'R' copies, status renamed, custkey dropped,
    // filtered on the renamed column across both name epochs
    "sink_snapshot_rename_column" ->
      """WITH state AS (
        |  SELECT o_orderkey, o_orderstatus AS status, o_totalprice,
        |    o_orderpriority
        |  FROM orders
        |  UNION ALL
        |  SELECT o_orderkey + 1000000, 'R', o_totalprice, o_orderpriority
        |  FROM orders)
        |SELECT o_orderkey, status, o_totalprice, o_orderpriority
        |FROM state WHERE status <> 'P'""".stripMargin,

    // untouched slices ∪ the urgent rebuild (even keys, 'R', tripled)
    // ∪ the F/2-HIGH replacement (third keys, +100 surcharge)
    "sink_snapshot_replace_where" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  o_orderpriority
        |FROM orders
        |WHERE o_orderpriority <> '1-URGENT'
        |  AND NOT (o_orderstatus = 'F' AND o_orderpriority = '2-HIGH')
        |UNION ALL
        |SELECT o_orderkey, o_custkey, 'R' AS o_orderstatus,
        |  o_totalprice * 3 AS o_totalprice, o_orderpriority
        |FROM orders
        |WHERE o_orderpriority = '1-URGENT' AND o_orderkey % 2 = 0
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_orderstatus,
        |  o_totalprice + 100 AS o_totalprice, o_orderpriority
        |FROM orders
        |WHERE o_orderstatus = 'F' AND o_orderpriority = '2-HIGH'
        |  AND o_orderkey % 3 = 0""".stripMargin,

    // the SQL-written state: appended 5th-key copies + the 1-URGENT
    // partition dynamically overwritten down to its even keys
    "sink_snapshot_sql_insert" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  o_orderpriority
        |FROM orders
        |WHERE o_orderpriority != '1-URGENT' OR o_orderkey % 2 = 0
        |UNION ALL
        |SELECT o_orderkey + 1000000, o_custkey, 'N', o_totalprice, '5-SQL'
        |FROM orders WHERE o_orderkey % 5 = 0""".stripMargin,

    // registered-table reads = the two-write state
    "sink_snapshot_sql_table" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  o_orderpriority
        |FROM orders
        |UNION ALL
        |SELECT o_orderkey + 1000000, o_custkey, o_orderstatus, o_totalprice,
        |  '9-COPY'
        |FROM orders WHERE o_orderkey % 10 = 9""".stripMargin,

    // the mirror must converge to exactly the source rows
    "sink_snapshot_follow" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  o_orderpriority
        |FROM orders""".stripMargin,

    // rollback restores the pre-overwrite state exactly
    "sink_snapshot_rollback" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  o_orderpriority
        |FROM orders""".stripMargin,

    // same two-state derivation as sink_snapshot_travel — the dataset
    // format (orc+zstd) must be invisible to the content
    "sink_snapshot_travel_orc" ->
      """WITH b AS (
        |  SELECT o_orderkey, o_orderpriority,
        |    cast(round(o_totalprice * 100, 0) as bigint) AS cents
        |  FROM orders)
        |SELECT 1 AS snapshot, o_orderpriority,
        |  count(*) AS n_rows, cast(sum(cents) as bigint) AS sum_cents
        |FROM b GROUP BY o_orderpriority
        |UNION ALL
        |SELECT 2 AS snapshot, o_orderpriority,
        |  count(*) AS n_rows, cast(sum(cents) as bigint) AS sum_cents
        |FROM b
        |WHERE o_orderpriority != '1-URGENT' OR o_orderkey % 2 = 0
        |GROUP BY o_orderpriority""".stripMargin,
  )
}
