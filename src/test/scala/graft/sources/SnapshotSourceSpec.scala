package graft.sources

import graft.SparkSpec
import graft.sink.Snapshots
import graft.sink.Snapshots.{SnapAppend, SnapOverwritePartitions}
import org.apache.spark.sql.functions._

/** The catalog face of the snapshot table format: a metastore-registered
  * external table resolves the CURRENT manifest per scan (publish = the
  * refresh), supports time-travel pins, and prunes files from pushed
  * filters — against the suite's real Derby metastore, not asserted DDL
  * text. */
class SnapshotSourceSpec extends SparkSpec {

  private def orders = graft.Tables(spark, sf0001, "orders")
    .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")

  private def keys(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("o_orderkey").collect().map(_.getLong(0)).toSet

  test("registerTable: SQL reads equal Snapshots.read and stay current across publishes") {
    val root = java.nio.file.Files.createTempDirectory("srcsnap_reg").toString
    Snapshots.write(orders, root, Seq("o_orderpriority"))
    Snapshots.registerTable(spark, root, "snap_reg_tbl")
    assert(keys(spark.sql("SELECT o_orderkey FROM snap_reg_tbl"))
      == keys(orders))
    // a publish AFTER registration is visible to the NEXT query with no
    // re-registration or REFRESH — the pointer flip is the refresh
    val ins = orders.filter(col("o_orderkey") % 10 === 2)
      .withColumn("o_orderkey", col("o_orderkey") + 1000000L)
    Snapshots.write(ins, root, Seq("o_orderpriority"), SnapAppend)
    assert(keys(spark.sql("SELECT o_orderkey FROM snap_reg_tbl"))
      == keys(orders) ++ keys(ins))
    // an overwrite (logical replace) is equally current
    Snapshots.write(orders.filter(col("o_orderpriority") === "1-URGENT"
        && col("o_orderkey") % 2 === 0), root,
      Seq("o_orderpriority"), SnapOverwritePartitions)
    assert(keys(spark.sql("SELECT o_orderkey FROM snap_reg_tbl"))
      == keys(Snapshots.read(spark, root)))
    // aggregates and filters through plain SQL
    val viaSql = spark.sql(
      """SELECT o_orderpriority, count(*) AS n FROM snap_reg_tbl
        |WHERE o_orderkey % 2 = 0 GROUP BY o_orderpriority""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val direct = Snapshots.read(spark, root)
      .filter(col("o_orderkey") % 2 === 0)
      .groupBy("o_orderpriority").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viaSql == direct)
    // DROP TABLE never touches the dataset (external semantics)
    spark.sql("DROP TABLE snap_reg_tbl")
    assert(keys(Snapshots.read(spark, root)).nonEmpty)
  }

  test("registerTable asOf pins a time-travel table; format reader and stat-skipping work") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("srcsnap_asof").toString
    Snapshots.write(
      Seq((1L, "a", 10.0), (2L, "a", 20.0)).toDF("k", "p", "v").coalesce(1),
      root, Seq("p"), statsColumns = Seq("k"))
    Snapshots.write(
      Seq((100L, "b", 30.0)).toDF("k", "p", "v").coalesce(1),
      root, Seq("p"), SnapAppend)
    Snapshots.registerTable(spark, root, "snap_v1_tbl", asOf = Some(1))
    assert(spark.sql("SELECT k FROM snap_v1_tbl").collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L),
      "the pinned table must keep reading snapshot 1")
    // the short-name reader path (DataSourceRegister) sees the current
    // snapshot, and a pushed range filter produces correct results while
    // skipping non-intersecting files
    val viaFormat = spark.read.format("graft-snapshot").load(root)
      .filter(col("k") >= 100L)
    assert(viaFormat.collect().map(_.getLong(0)).toSet == Set(100L))
    spark.sql("DROP TABLE snap_v1_tbl")
  }

  test("recorded byte sizes drive broadcast planning for registered snapshot tables") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("srcsnap_bc").toString
    Snapshots.write(
      Seq((1L, "a", "x"), (2L, "a", "y")).toDF("k", "p", "s").coalesce(1),
      root, Seq("p"))
    spark.sql("DROP TABLE IF EXISTS snap_bc_tbl")
    Snapshots.registerTable(spark, root, "snap_bc_tbl")
    val big = orders.withColumnRenamed("o_orderkey", "k")
    val joined = big.join(spark.table("snap_bc_tbl"), "k")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"a few-KB snapshot table must broadcast (manifest-recorded size):\n$plan")
    assert(joined.count() == 2)
    spark.sql("DROP TABLE snap_bc_tbl")
  }

  test("SQL INSERT INTO/OVERWRITE and the DataFrame writer route through the snapshot commit protocol") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("srcsnap_ins").toString
    // the writer CREATES the dataset (partitionBy required only here) —
    // and can declare the skipping metadata, which is creation-fixed
    Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("k", "p", "v")
      .coalesce(1).write.format("graft-snapshot")
      .option("partitionBy", "p")
      .option("statsColumns", "k").option("bloomColumns", "k").save(root)
    assert(Snapshots.currentSnapshot(spark, root).contains(1))
    assert(Snapshots.snapshotLog(spark, root).collect()
      .forall(r => !r.isNullAt(9) && !r.isNullAt(10)),
      "writer-declared statsColumns must record row/byte counts")
    assert(Snapshots.read(spark, root, prune = Seq(
      Snapshots.StatRange("k", Some(1L), Some(1L)))).inputFiles.length == 1,
      "writer-declared stats must point-prune")
    assert(new java.io.File(s"$root/blooms").listFiles()
      .exists(f => !f.getName.startsWith(".")),
      "writer-declared bloomColumns must land a sidecar")
    // a second ErrorIfExists write fails; Ignore is a no-op
    intercept[IllegalStateException] {
      Seq((9L, "a", 0.0)).toDF("k", "p", "v")
        .write.format("graft-snapshot").save(root)
    }
    Seq((9L, "a", 0.0)).toDF("k", "p", "v")
      .write.format("graft-snapshot").mode("ignore").save(root)
    assert(Snapshots.currentSnapshot(spark, root).contains(1))
    // SQL INSERT INTO appends under the RECORDED spec (no partitionBy)
    Snapshots.registerTable(spark, root, "snap_ins_tbl")
    spark.sql("INSERT INTO snap_ins_tbl VALUES (3, 'a', 30.0)")
    assert(spark.sql("SELECT k FROM snap_ins_tbl").collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
    // INSERT OVERWRITE = dynamic partition overwrite: only partition 'a'
    // (the one the batch touches) is replaced; 'b' rides through
    spark.sql("INSERT OVERWRITE snap_ins_tbl VALUES (7, 'a', 70.0)")
    assert(spark.sql("SELECT k FROM snap_ins_tbl").collect()
      .map(_.getLong(0)).toSet == Set(2L, 7L))
    // every write is an audited snapshot: history shows the full lineage
    val modes = Snapshots.history(spark, root).collect()
      .map(_.getString(1)).toSeq
    assert(modes == Seq("append", "append", "overwrite_partitions"))
    // pre-insert states stay time-travelable
    assert(Snapshots.read(spark, root, asOf = Some(1)).count() == 2)
    // a writer append with a MISMATCHED spec fails loudly
    val ex = intercept[IllegalArgumentException] {
      Seq((8L, "a", 0.0)).toDF("k", "p", "v")
        .write.format("graft-snapshot").mode("append")
        .option("partitionBy", "k").save(root)
    }
    assert(ex.getMessage.contains("partitioned by p"))
    // a time-travel-pinned table rejects inserts
    Snapshots.registerTable(spark, root, "snap_ins_v1", asOf = Some(1))
    val exPinned = intercept[Exception] {
      spark.sql("INSERT INTO snap_ins_v1 VALUES (5, 'a', 50.0)")
    }
    def messages(t: Throwable): String =
      if (t == null) "" else s"${t.getMessage}\n${messages(t.getCause)}"
    assert(messages(exPinned).contains("read-only view of history"),
      messages(exPinned))
    spark.sql("DROP TABLE snap_ins_tbl")
    spark.sql("DROP TABLE snap_ins_v1")
  }

  test("branch option: SQL reads the branch head, inserts land on the branch, fastForward closes the loop") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("srcsnap_br").toString
    Snapshots.write(Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("k", "p", "v")
      .coalesce(1), root, Seq("p"))
    Snapshots.createBranch(spark, root, "audit")
    Snapshots.writeToBranch(Seq((3L, "a", 30.0)).toDF("k", "p", "v")
      .coalesce(1), root, "audit", Seq("p"))
    spark.sql("DROP TABLE IF EXISTS snap_br_tbl")
    Snapshots.registerTable(spark, root, "snap_br_tbl",
      branch = Some("audit"))
    def ks(sql: String) = spark.sql(sql).collect().map(_.getLong(0)).toSet
    // the branch table sees fork state + branch writes; main is untouched
    assert(ks("SELECT k FROM snap_br_tbl") == Set(1L, 2L, 3L))
    assert(Snapshots.read(spark, root).select("k").collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L))
    // INSERT INTO the branch table lands on the BRANCH head (WAP in SQL)
    spark.sql("INSERT INTO snap_br_tbl VALUES (4, 'b', 40.0)")
    assert(ks("SELECT k FROM snap_br_tbl") == Set(1L, 2L, 3L, 4L))
    assert(Snapshots.read(spark, root).count() == 2,
      "main must never see unaudited branch writes")
    // the DataFrame writer's branch option appends the same way
    Seq((5L, "a", 50.0)).toDF("k", "p", "v").write
      .format("graft-snapshot").mode("append")
      .option("branch", "audit").save(root)
    assert(ks("SELECT k FROM snap_br_tbl") == Set(1L, 2L, 3L, 4L, 5L))
    // a pushed filter still file-prunes through the branch read path
    assert(ks("SELECT k FROM snap_br_tbl WHERE k >= 4") == Set(4L, 5L))
    // the audit passes: fastForward publishes the branch state to main
    Snapshots.fastForward(spark, root, "audit")
    assert(Snapshots.read(spark, root).count() == 5)
    // the dropped branch's table now fails loudly, never serves stale data
    intercept[Exception] { spark.sql("SELECT k FROM snap_br_tbl").collect() }
    spark.sql("DROP TABLE snap_br_tbl")
  }

  test("schema is publish-current: a widening publish surfaces through SQL after REFRESH TABLE") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("srcsnap_wide").toString
    Snapshots.write(Seq((1L, "a", 10.0)).toDF("k", "p", "v").coalesce(1),
      root, Seq("p"))
    spark.sql("DROP TABLE IF EXISTS snap_wide_tbl")
    Snapshots.registerTable(spark, root, "snap_wide_tbl")
    assert(spark.sql("SELECT * FROM snap_wide_tbl").columns.toSeq
      == Seq("k", "p", "v"))
    // a WIDENING publish: new column w lands in the recorded contract
    Snapshots.write(Seq((2L, "a", 20.0, "x")).toDF("k", "p", "v", "w")
      .coalesce(1), root, Seq("p"), Snapshots.SnapAppend)
    // a FRESH relation (format read) sees the widened contract at once
    val direct = spark.read.format("graft-snapshot").load(root)
    assert(direct.columns.toSeq == Seq("k", "p", "v", "w"))
    // the catalog table sits behind the relation cache: REFRESH TABLE —
    // not re-registration — surfaces the new column, with pre-widening
    // rows reading null
    spark.sql("REFRESH TABLE snap_wide_tbl")
    val rows = spark.sql("SELECT k, w FROM snap_wide_tbl ORDER BY k")
      .collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(rows(0).isNullAt(1) && rows(1).getString(1) == "x")
    // data stays publish-current regardless (the pointer flip is the
    // refresh for DATA; only the analyzed column set needs the REFRESH)
    Snapshots.write(Seq((3L, "a", 30.0, "y")).toDF("k", "p", "v", "w")
      .coalesce(1), root, Seq("p"), Snapshots.SnapAppend)
    assert(spark.sql("SELECT count(*) AS n FROM snap_wide_tbl")
      .head().getLong(0) == 3L)
    spark.sql("DROP TABLE snap_wide_tbl")
    // a TYPE widening under a stale cached plan must fail LOUDLY naming
    // REFRESH TABLE — long rows flowing through int-planned attributes
    // would read silently wrong past 2^31
    val r2 = java.nio.file.Files.createTempDirectory("srcsnap_twide").toString
    Snapshots.write(Seq((1, "a")).toDF("c", "p").coalesce(1), r2, Seq("p"))
    spark.sql("DROP TABLE IF EXISTS snap_twide_tbl")
    Snapshots.registerTable(spark, r2, "snap_twide_tbl")
    assert(spark.sql("SELECT c FROM snap_twide_tbl").collect()
      .map(_.getInt(0)).toSet == Set(1))
    Snapshots.write(Seq((8000000000L, "a")).toDF("c", "p").coalesce(1),
      r2, Seq("p"), Snapshots.SnapAppend) // int → bigint widening
    def messages(t: Throwable): String =
      if (t == null) "" else s"${t.getMessage}\n${messages(t.getCause)}"
    val exDrift = intercept[Exception] {
      spark.sql("SELECT c FROM snap_twide_tbl").collect()
    }
    assert(messages(exDrift).contains("REFRESH TABLE"), messages(exDrift))
    spark.sql("REFRESH TABLE snap_twide_tbl")
    assert(spark.sql("SELECT c FROM snap_twide_tbl").collect()
      .map(_.getLong(0)).toSet == Set(1L, 8000000000L),
      "the refreshed plan serves the widened type exactly")
    spark.sql("DROP TABLE snap_twide_tbl")
  }

  test("IN-list and timestamp point lookups derive prune ranges from pushed SQL filters") {
    import spark.implicits._
    import org.apache.spark.sql.{sources => sf}
    val root = java.nio.file.Files.createTempDirectory("srcsnap_in").toString
    // the interleaved-bloom shape: min/max cannot separate the two files
    val evens = spark.range(0, 200, 2).select(col("id").as("k"),
      lit("a").as("p"),
      to_timestamp(lit("2026-01-01 00:00:00")).as("ts"))
    val odds = spark.range(1, 200, 2).select(col("id").as("k"),
      lit("a").as("p"),
      to_timestamp(lit("2026-06-01 12:00:00")).as("ts"))
    Snapshots.write(evens.coalesce(1), root, Seq("p"),
      statsColumns = Seq("k"), bloomColumns = Seq("k", "ts"))
    Snapshots.write(odds.coalesce(1), root, Seq("p"), Snapshots.SnapAppend)
    val rel = new SnapshotRelation(spark.sqlContext, root, None, None)
    // an IN filter becomes ONE disjunctive range (survivor set = union) …
    val in = rel.toRangesForTest(Array(sf.In("k",
      Array[Any](java.lang.Long.valueOf(2L), java.lang.Long.valueOf(4L)))))
    assert(in.length == 1 && in.head.anyOf.exists(_.length == 2), s"$in")
    // … which Snapshots.read prunes with: exactly the holding file
    assert(Snapshots.read(spark, root, prune = in).inputFiles.length == 1,
      "a same-parity IN must plan exactly the one holding file")
    // an over-cap IN degrades to no ranges (correct, just unpruned)
    assert(rel.toRangesForTest(Array(sf.In("k",
      (0 to Snapshots.MaxInPruneValues).map(i =>
        java.lang.Long.valueOf(i.toLong): Any).toArray))).isEmpty)
    // timestamp EQUALITY forwards (exact typed value → Bloom probe);
    // a timestamp INEQUALITY forwards too, and planning keeps every file
    // for it (tz-rendered stats are never compared)
    val ts0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val tsEq = rel.toRangesForTest(Array(sf.EqualTo("ts", ts0)))
    assert(tsEq.length == 1 && tsEq.head.lower.contains(ts0))
    val tsGt = rel.toRangesForTest(Array(sf.GreaterThan("ts", ts0)))
    assert(Snapshots.read(spark, root, prune = tsGt).inputFiles.length == 2,
      "a timestamp inequality must never drop a file")
    assert(Snapshots.read(spark, root, prune = tsEq).inputFiles.length == 1,
      "the exact timestamp probe must bloom-prune the other file")
    // end-to-end through the registered table: the batched point lookup
    // answers exactly (file skipping is a superset guarantee)
    spark.sql("DROP TABLE IF EXISTS snap_in_tbl")
    Snapshots.registerTable(spark, root, "snap_in_tbl")
    assert(spark.sql("SELECT k FROM snap_in_tbl WHERE k IN (2, 5, 1050)")
      .collect().map(_.getLong(0)).toSet == Set(2L, 5L))
    assert(spark.sql(
      "SELECT count(*) AS n FROM snap_in_tbl " +
        "WHERE ts = timestamp'2026-06-01 12:00:00'").head().getLong(0)
      == 100L)
    spark.sql("DROP TABLE snap_in_tbl")
  }

  test("INSERT with a column list reorders and null-fills through the snapshot writer") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("srcsnap_cl").toString
    Snapshots.write(Seq((1L, "x", "a")).toDF("k", "v", "p"), root, Seq("p"))
    spark.sql("DROP TABLE IF EXISTS snap_cl_tbl")
    Snapshots.registerTable(spark, root, "snap_cl_tbl")
    // reordered list: the analyzer maps by NAME before the v1 insert
    spark.sql("INSERT INTO snap_cl_tbl (p, k, v) VALUES ('b', 3, 'z')")
    // partial list: unnamed columns fill null (SQL INSERT semantics)
    spark.sql("INSERT INTO snap_cl_tbl (k, p) VALUES (4, 'a')")
    val rows = spark.sql("SELECT k, v, p FROM snap_cl_tbl ORDER BY k")
      .collect().map(r => (r.getLong(0), Option(r.getString(1)), r.getString(2)))
    assert(rows.toSeq == Seq((1L, Some("x"), "a"), (3L, Some("z"), "b"),
      (4L, None, "a")))
    spark.sql("DROP TABLE snap_cl_tbl")
  }

  test("INSERT ... PARTITION: static values intercept pre-analyzer and rewrite to the in-row form") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("srcsnap_sp").toString
    Snapshots.write(Seq((1L, "x", "a")).toDF("k", "v", "p"), root, Seq("p"))
    spark.sql("DROP TABLE IF EXISTS snap_sp_tbl")
    Snapshots.registerTable(spark, root, "snap_sp_tbl")
    // the Hive-habituated static spelling appends with the literal
    // injected at its schema slot (Spark alone would die on catalog
    // partition metadata before any extension rule ran)
    spark.sql("INSERT INTO snap_sp_tbl PARTITION (p = 'c') VALUES (5, 'w')")
    // case-variant column, SELECT source, comments around the statement
    spark.sql("-- backfill\nINSERT INTO snap_sp_tbl PARTITION (P = 'c') " +
      "SELECT 6, 'u' /* in-row form is equivalent */")
    assert(spark.sql("SELECT k, v FROM snap_sp_tbl WHERE p = 'c' ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((5L, "w"), (6L, "u")))
    // static OVERWRITE replaces EXACTLY the named region, atomically,
    // leaving every other partition untouched...
    spark.sql(
      "INSERT OVERWRITE snap_sp_tbl PARTITION (p = 'c') VALUES (9, 'only')")
    assert(spark.sql("SELECT k FROM snap_sp_tbl WHERE p = 'c'")
      .collect().map(_.getLong(0)).toSeq == Seq(9L))
    assert(spark.sql("SELECT count(*) FROM snap_sp_tbl WHERE p = 'a'")
      .head().getLong(0) == 1L)
    assert(Snapshots.history(spark, root).collect()
      .map(_.getString(1)).last == "replace_where")
    // ...and an EMPTY source clears the region (the idempotent backfill)
    spark.sql("INSERT OVERWRITE snap_sp_tbl PARTITION (p = 'c') " +
      "SELECT k, v FROM snap_sp_tbl WHERE false")
    assert(spark.sql("SELECT count(*) FROM snap_sp_tbl WHERE p = 'c'")
      .head().getLong(0) == 0L)
    // RE-RUNNING the empty backfill against the now-empty region is an
    // idempotent no-op — no error, no snapshot burned
    val curBefore = Snapshots.currentSnapshot(spark, root)
    spark.sql("INSERT OVERWRITE snap_sp_tbl PARTITION (p = 'c') " +
      "SELECT k, v FROM snap_sp_tbl WHERE false")
    assert(Snapshots.currentSnapshot(spark, root) == curBefore,
      "an all-no-op replaceWhere must not publish")
    // a trailing semicolon parses like any other Spark statement
    spark.sql("INSERT INTO snap_sp_tbl PARTITION (p = 'c') " +
      "VALUES (11, 's');")
    // a DOUBLE-quoted value with a comma inside is one literal (legal
    // Spark SQL) — the spec splitter must not split inside it
    spark.sql("INSERT INTO snap_sp_tbl PARTITION (p = \"c,x\") " +
      "VALUES (12, 'dq')")
    assert(spark.sql("SELECT k FROM snap_sp_tbl WHERE p = 'c,x'")
      .head().getLong(0) == 12L)
    // a foldable function-call value with commas splits correctly
    spark.sql("DROP TABLE IF EXISTS snap_spd_tbl")
    val rootD = java.nio.file.Files.createTempDirectory("srcsnap_spd")
      .toString
    Snapshots.write(
      Seq((1L, java.sql.Date.valueOf("2024-01-01")))
        .toDF("k", "d"), rootD, Seq("d"))
    Snapshots.registerTable(spark, rootD, "snap_spd_tbl")
    spark.sql("INSERT INTO snap_spd_tbl " +
      "PARTITION (d = make_date(2024, 2, 3)) VALUES (2)")
    assert(spark.sql("SELECT k FROM snap_spd_tbl WHERE d = '2024-02-03'")
      .head().getLong(0) == 2L)
    spark.sql("DROP TABLE snap_spd_tbl")
    // argument errors are OURS and loud — never Spark's misleading
    // PARTITIONS_NOT_FOUND: wrong value count names the expected list
    val exCount = intercept[Exception] {
      spark.sql(
        "INSERT INTO snap_sp_tbl PARTITION (p = 'd') VALUES (7, 'x', 'y')")
    }
    assert(exCount.getMessage.contains("table-schema order"),
      exCount.getMessage)
    // a non-partition column names the recorded spec
    val exCol = intercept[Exception] {
      spark.sql("INSERT INTO snap_sp_tbl PARTITION (v = 'd') VALUES (7, 'a')")
    }
    assert(exCol.getMessage.contains("recorded spec"), exCol.getMessage)
    // a non-literal value is rejected at parse
    val exVal = intercept[Exception] {
      spark.sql("INSERT INTO snap_sp_tbl PARTITION (p = k) VALUES (7, 'a')")
    }
    assert(exVal.getMessage.contains("must be a literal"), exVal.getMessage)
    spark.sql("DROP TABLE snap_sp_tbl")

    // MIXED static/dynamic over a two-column spec: the static column is
    // fixed, the dynamic one rides in the query (last non-static slot)
    val root2 = java.nio.file.Files.createTempDirectory("srcsnap_sp2").toString
    Snapshots.write(Seq((1L, "a", "q1")).toDF("k", "p", "q"), root2,
      Seq("p", "q"))
    spark.sql("DROP TABLE IF EXISTS snap_sp2_tbl")
    Snapshots.registerTable(spark, root2, "snap_sp2_tbl")
    spark.sql("INSERT INTO snap_sp2_tbl PARTITION (p = 'b', q) " +
      "VALUES (2, 'q1'), (3, 'q2')")
    assert(spark.sql("SELECT k, q FROM snap_sp2_tbl WHERE p = 'b' ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((2L, "q1"), (3L, "q2")))
    // static OVERWRITE on the partial spec replaces the whole p='b'
    // region (Spark's default static partitionOverwriteMode semantics)
    spark.sql("INSERT OVERWRITE snap_sp2_tbl PARTITION (p = 'b', q) " +
      "VALUES (8, 'q3')")
    assert(spark.sql("SELECT k, q FROM snap_sp2_tbl WHERE p = 'b'")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((8L, "q3")))
    assert(spark.sql("SELECT count(*) FROM snap_sp2_tbl WHERE p = 'a'")
      .head().getLong(0) == 1L)
    // a dynamic-ONLY spec on an OVERWRITE is rejected loudly: Spark's
    // static default would overwrite ALL partitions for this spelling,
    // the table's plain OVERWRITE only the touched ones — neither
    // reading may win silently. The error names both lanes; the table
    // is untouched. (A dynamic-only INTO still appends, tested above
    // via the mixed lane.)
    val exDyn = intercept[Exception] {
      spark.sql("INSERT OVERWRITE snap_sp2_tbl PARTITION (p, q) " +
        "VALUES (7, 'x', 'q9')")
    }
    assert(exDyn.getMessage.contains("names only dynamic"),
      exDyn.getMessage)
    assert(spark.sql("SELECT count(*) FROM snap_sp2_tbl").head()
      .getLong(0) == 2L, "the rejected statement must write nothing")
    spark.sql("DROP TABLE snap_sp2_tbl")

    // NON-graft tables keep Spark's own PARTITION behavior untouched
    val ext = java.nio.file.Files.createTempDirectory("srcsnap_ext").toString
    spark.sql("DROP TABLE IF EXISTS plain_part_tbl")
    spark.sql("CREATE TABLE plain_part_tbl (k BIGINT, p STRING) USING " +
      s"parquet PARTITIONED BY (p) LOCATION '${ext.replace("'", "''")}'")
    spark.sql("INSERT INTO plain_part_tbl PARTITION (p = 'z') VALUES (1)")
    assert(spark.sql("SELECT k FROM plain_part_tbl WHERE p = 'z'")
      .head().getLong(0) == 1L)
    spark.sql("DROP TABLE plain_part_tbl")
  }

  test("ALTER TABLE RENAME/DROP COLUMN: parser-intercepted to the metadata-only column-mapping events") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("srcsnap_ren").toString
    val esc = root.replace("'", "''")
    Snapshots.write(Seq((1L, "x1", "a"), (2L, "x2", "b"))
      .toDF("k", "v", "p").coalesce(1), root, Seq("p"))
    spark.sql("DROP TABLE IF EXISTS snap_ren_tbl")
    Snapshots.registerTable(spark, root, "snap_ren_tbl")
    // rename: the very next SELECT serves old files under the NEW name
    // (no REFRESH TABLE needed — the command refreshes)
    spark.sql("ALTER TABLE snap_ren_tbl RENAME COLUMN v TO w")
    assert(spark.sql("SELECT k, w FROM snap_ren_tbl ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "x1"), (2L, "x2")))
    // inserts land under the new contract
    spark.sql("INSERT INTO snap_ren_tbl VALUES (3, 'x3', 'a')")
    assert(spark.sql(
      "SELECT count(*) FROM snap_ren_tbl WHERE w > 'x1'").head().getLong(0)
      == 2L)
    // history time-travels under the OLD name through the TVF
    assert(spark.sql(s"SELECT v FROM graft_snapshot('$esc', 1)").collect()
      .map(_.getString(0)).toSet == Set("x1", "x2"))
    // a DROP COLUMNS list with a refused member anywhere applies
    // NOTHING (the engine validates the whole list before one atomic
    // publish)
    val exList = intercept[Exception] {
      spark.sql("ALTER TABLE snap_ren_tbl DROP COLUMNS (w, p)")
    }
    assert(exList.getMessage.contains("partition column"), exList.getMessage)
    assert(spark.sql("SELECT * FROM snap_ren_tbl").columns.toSeq ==
      Seq("k", "w", "p"), "the refused list must apply nothing")
    // drop: the column leaves the live contract, history keeps it
    spark.sql("ALTER TABLE snap_ren_tbl DROP COLUMN w")
    assert(spark.sql("SELECT * FROM snap_ren_tbl").columns.toSeq ==
      Seq("k", "p"))
    assert(spark.sql(s"SELECT w FROM graft_snapshot('$esc', 3)").count()
      == 3L)
    // ALTER COLUMN TYPE widens metadata-only through the same lane:
    // an int column promotes to bigint, old files read upcast, and a
    // narrowing request fails with the evolution gate's reason
    val rootW = java.nio.file.Files.createTempDirectory("srcsnap_wid")
      .toString
    Snapshots.write(Seq((7, "a")).toDF("n", "p").coalesce(1), rootW,
      Seq("p"))
    spark.sql("DROP TABLE IF EXISTS snap_wid_tbl")
    Snapshots.registerTable(spark, rootW, "snap_wid_tbl")
    spark.sql("ALTER TABLE snap_wid_tbl ALTER COLUMN n TYPE BIGINT")
    assert(spark.sql("SELECT n FROM snap_wid_tbl").schema("n").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(spark.sql("SELECT sum(n) FROM snap_wid_tbl").head().getLong(0)
      == 7L)
    spark.sql("INSERT INTO snap_wid_tbl VALUES (9999999999, 'a')")
    assert(spark.sql("SELECT max(n) FROM snap_wid_tbl").head().getLong(0)
      == 9999999999L)
    val exNarrow = intercept[Exception] {
      spark.sql("ALTER TABLE snap_wid_tbl ALTER COLUMN n TYPE INT")
    }
    assert(exNarrow.getMessage.toLowerCase.contains("narrow") ||
      exNarrow.getMessage.contains("broken"), exNarrow.getMessage)
    spark.sql("DROP TABLE snap_wid_tbl")
    // a pinned registration rejects ALTER loudly
    spark.sql("DROP TABLE IF EXISTS snap_ren_pin")
    Snapshots.registerTable(spark, root, "snap_ren_pin", asOf = Some(1))
    val exPin = intercept[Exception] {
      spark.sql("ALTER TABLE snap_ren_pin RENAME COLUMN p TO q")
    }
    assert(exPin.getMessage.contains("pinned"), exPin.getMessage)
    spark.sql("DROP TABLE snap_ren_pin")
    spark.sql("DROP TABLE snap_ren_tbl")
    // NON-snapshot tables keep Spark's own (v2-only) ALTER behavior
    spark.sql("DROP TABLE IF EXISTS plain_ren_tbl")
    spark.sql("CREATE TABLE plain_ren_tbl (k BIGINT, v STRING) USING parquet")
    val exPlain = intercept[Exception] {
      spark.sql("ALTER TABLE plain_ren_tbl RENAME COLUMN v TO w")
    }
    assert(!exPlain.getMessage.contains("graft"), exPlain.getMessage)
    spark.sql("DROP TABLE plain_ren_tbl")
  }

  test("asOfTimestamp option pins by recorded publish instant (both public spellings)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("srcsnap_ts").toString
    Snapshots.write(Seq((1L, "a")).toDF("k", "p"), root, Seq("p"))
    val between = System.currentTimeMillis()
    Thread.sleep(5)
    Snapshots.write(Seq((2L, "a")).toDF("k", "p"), root, Seq("p"),
      Snapshots.SnapAppend)
    // epoch-millis spelling: resolves to s1 (the newest at-or-before)
    assert(spark.read.format("graft-snapshot")
      .option("asOfTimestamp", between.toString).load(root).count() == 1)
    // Delta's option spelling, session-parsable timestamp string
    val tsStr = new java.sql.Timestamp(between).toString
    assert(spark.read.format("graft-snapshot")
      .option("timestampAsOf", tsStr).load(root).count() == 1)
    // an all-digit value implausibly small as MILLIS (the classic
    // epoch-SECONDS mistake, '1700000000' → 1970) is rejected naming
    // both readings, not surfaced as a confusing "no retained snapshot"
    val ex = intercept[IllegalArgumentException] {
      spark.read.format("graft-snapshot")
        .option("asOfTimestamp", "1700000000").load(root)
    }
    assert(ex.getMessage.contains("epoch SECONDS"))
    // a pre-history timestamp STRING still names the real condition
    val exPre = intercept[IllegalArgumentException] {
      spark.read.format("graft-snapshot")
        .option("asOfTimestamp", "1970-01-02 00:00:00").load(root)
    }
    assert(exPre.getMessage.contains("no retained snapshot"))
    // the pin is read-only and excludes the id spelling
    val exBoth = intercept[IllegalArgumentException] {
      spark.read.format("graft-snapshot").option("asOf", "1")
        .option("asOfTimestamp", between.toString).load(root)
    }
    assert(exBoth.getMessage.contains("one"))
    // a present-but-EMPTY value is loud, never a silent fall-through to
    // the live head (the unset-template-variable bug)
    val exEmpty = intercept[IllegalArgumentException] {
      spark.read.format("graft-snapshot")
        .option("timestampAsOf", "  ").load(root)
    }
    assert(exEmpty.getMessage.contains("empty"))
    // a malformed value names the OPTION, not a bare ANSI cast error
    val exBad = intercept[IllegalArgumentException] {
      spark.read.format("graft-snapshot")
        .option("asOfTimestamp", "yesterday-ish").load(root)
    }
    assert(exBad.getMessage.contains("asOfTimestamp"))
  }

  test("Trigger.AvailableNow drains the snapshot stream to the current head and stops") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("srcsnap_an").toString
    val cp = java.nio.file.Files.createTempDirectory("srcsnap_ancp").toString
    for (i <- 0 until 3)
      Snapshots.write(Seq((i.toLong, "a")).toDF("k", "p"), root, Seq("p"),
        Snapshots.SnapAppend)
    val got = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.format("graft-snapshot")
      // one snapshot per trigger: AvailableNow must still drain ALL of
      // them before terminating (the catch-up contract under a cap)
      .option("maxSnapshotsPerTrigger", "1").load(root)
      .writeStream.option("checkpointLocation", cp)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        got.synchronized { got ++= df.select("k").collect().map(_.getLong(0)) }: Unit
      }.start()
    assert(q.awaitTermination(120000),
      "AvailableNow must terminate after draining to the head")
    assert(got.sorted.toSeq == Seq(0L, 1L, 2L))
  }

  test("df.write.partitionBy flows through the v1 writer encoding; conflicts with the option are loud") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("srcsnap_pb").toString
    // the STANDARD writer API — no graft-specific option needed
    Seq((1L, "a"), (2L, "b")).toDF("k", "p")
      .write.format("graft-snapshot").partitionBy("p").save(root)
    assert(Snapshots.recordedPartitionCols(spark, root) == Seq("p"))
    assert(Snapshots.read(spark, root).count() == 2)
    // both spellings given and AGREEING is fine; disagreeing is loud
    Seq((3L, "a")).toDF("k", "p").write.format("graft-snapshot")
      .mode("append").partitionBy("p").option("partitionBy", "p").save(root)
    assert(Snapshots.read(spark, root).count() == 3)
    val ex = intercept[IllegalArgumentException] {
      Seq((4L, "a")).toDF("k", "p").write.format("graft-snapshot")
        .mode("append").partitionBy("p").option("partitionBy", "k")
        .save(root)
    }
    assert(ex.getMessage.contains("conflicts"))
  }

  test("writer replaceWhere option: the predicate-scoped overwrite in one snapshot") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("srcsnap_rw").toString
    (0 until 40).map(i => (i.toLong, if (i < 20) "a" else "b"))
      .toDF("k", "p").write.format("graft-snapshot").partitionBy("p")
      .save(root)
    // rebuild partition b through the writer — SaveMode.Overwrite scoped
    // by the predicate, one replace_where snapshot
    (0 until 5).map(i => (500L + i, "b")).toDF("k", "p")
      .write.format("graft-snapshot").mode("overwrite")
      .option("replaceWhere", "p = 'b'").save(root)
    val now = Snapshots.read(spark, root)
    assert(now.filter(col("p") === "a").count() == 20, "a rides through")
    assert(now.filter(col("p") === "b").count() == 5)
    assert(Snapshots.history(spark, root).collect().map(_.getString(1))
      .toSeq == Seq("append", "replace_where"))
    // non-partition predicates work too (file-bounded row replacement)
    Seq((0L, "a")).toDF("k", "p").write.format("graft-snapshot")
      .mode("overwrite").option("replaceWhere", "k < 3 AND p = 'a'")
      .save(root)
    val a = Snapshots.read(spark, root).filter(col("p") === "a")
    assert(a.count() == 18 && a.filter(col("k") < 3).count() == 1)
    // replaceWhere demands Overwrite — any other mode is a wrong mental
    // model and fails loudly
    val exMode = intercept[IllegalArgumentException] {
      Seq((9L, "b")).toDF("k", "p").write.format("graft-snapshot")
        .mode("append").option("replaceWhere", "p = 'b'").save(root)
    }
    assert(exMode.getMessage.contains("SaveMode.Overwrite"))
  }
}
