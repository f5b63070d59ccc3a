package graft.functions

import graft.SparkSpec
import graft.ops.Relational
import org.apache.spark.sql.functions._

class DdSketchSpec extends SparkSpec {
  import spark.implicits._

  private def exactQuantile(vs: Seq[Long], p: Double): Long = {
    val sorted = vs.sorted
    sorted((math.ceil(p * vs.size) - 1).toInt)
  }

  test("enc is monotone and order-preserving across signs, zero, extremes") {
    val h = new LogHistogram(1.02)
    val vs = Seq(Long.MinValue, -1000000L, -37L, -2L, -1L, 0L, 1L, 2L, 3L,
      999L, 1000L, 123456789L, Long.MaxValue)
    val encs = vs.map(h.enc)
    assert(encs == encs.sorted, s"enc must be monotone: $encs")
    assert(h.enc(0L) == 0 && h.enc(1L) == 1 && h.enc(-1L) == -1)
  }

  test("bucket counts are exact and merge order cannot change the histogram") {
    val rnd = new scala.util.Random(7)
    val vs = Seq.fill(5000)(rnd.nextLong() % 100000L)
    val whole = new LogHistogram(1.05)
    vs.foreach(whole.add(_))
    // three-way split merged in two different orders
    val parts = vs.grouped(1700).map { chunk =>
      val h = new LogHistogram(1.05); chunk.foreach(h.add(_)); h
    }.toSeq
    val m1 = new LogHistogram(1.05)
    parts.foreach(m1.merge)
    val m2 = new LogHistogram(1.05)
    parts.reverse.foreach(m2.merge)
    assert(m1.sorted.toSeq == whole.sorted.toSeq)
    assert(m2.sorted.toSeq == whole.sorted.toSeq)
    assert(m1.sorted.map(_._2).sum == vs.size, "no count is ever lost")
  }

  test("serialize/deserialize round-trips the buffer") {
    val h = new LogHistogram(1.02)
    Seq(-500L, -1L, 0L, 0L, 3L, 3L, 3L, 999999L).foreach(h.add(_))
    val agg = DdSketchAgg(org.apache.spark.sql.graft.GraftSqlBridge
      .expression(col("x")), 1.02)
    val back = agg.deserialize(agg.serialize(h))
    assert(back.gamma == h.gamma && back.sorted.toSeq == h.sorted.toSeq)
  }

  test("sketchQuantile returns the exact rank-ceil(p*n) value on mixed-sign data") {
    val rnd = new scala.util.Random(42)
    val rows = (1 to 4000).map { i =>
      val g = s"g${i % 5}"
      // heavy duplication + negatives + zeros + a huge outlier per group
      val v = rnd.nextInt(7) match {
        case 0 => 0L
        case 1 => -(rnd.nextInt(500).toLong)
        case 2 => 1000000000L + rnd.nextInt(3)
        case _ => rnd.nextInt(200).toLong
      }
      (g, v)
    }
    val df = rows.toDF("g", "v")
    for (p <- Seq(0.25, 0.5, 0.9)) {
      val got = Relational.sketchQuantile(df, "g", "v", p, outCol = "q")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val want = rows.groupBy(_._1).map { case (g, gs) =>
        g -> exactQuantile(gs.map(_._2), p) }
      assert(got == want, s"p=$p")
    }
  }

  test("sketchQuantile is exact under a coarse gamma (wide buckets) too") {
    val rows = (1 to 1000).map(i => ("only", (i * 7 % 997).toLong))
    val got = Relational.sketchQuantile(
      rows.toDF("g", "v"), "g", "v", 0.5, gamma = 1.5, outCol = "q")
      .collect().map(r => r.getLong(1)).head
    assert(got == exactQuantile(rows.map(_._2), 0.5))
  }

  test("nulls are excluded from the rank universe; constant groups return the constant") {
    val df = Seq(("a", Some(10L)), ("a", None), ("a", Some(20L)),
      ("a", Some(30L)), ("b", Some(5L)), ("b", Some(5L)))
      .toDF("g", "v")
    val got = Relational.sketchQuantile(df, "g", "v", 0.5, outCol = "q")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // a: non-null {10,20,30}, rank ceil(1.5)=2 -> 20; b: constant 5
    assert(got == Map("a" -> 20L, "b" -> 5L))
  }

  test("sketchQuantiles: one sketch serves a quantile vector, matching per-p exact results") {
    val rnd = new scala.util.Random(11)
    val rows = (1 to 3000).map { i =>
      (s"g${i % 4}", (rnd.nextInt(1000) - 200).toLong)
    }
    val ps = Seq(0.25, 0.5, 0.9, 0.99)
    val got = Relational.sketchQuantiles(rows.toDF("g", "v"), "g", "v", ps)
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getLong(2))
      .toMap
    val want = (for {
      (g, gs) <- rows.groupBy(_._1); p <- ps
    } yield (g, p) -> exactQuantile(gs.map(_._2), p)).toMap
    assert(got == want)
  }

  private def exactWeightedQuantile(vws: Seq[(Long, Long)], p: Double): Long = {
    val total = vws.map(_._2).sum
    val r = math.ceil(p * total).toLong
    var cum = 0L
    for ((v, w) <- vws.sortBy(_._1)) { cum += w; if (cum >= r) return v }
    throw new IllegalStateException("unreachable")
  }

  test("weighted quantiles: exact at weighted rank; weight 1 reduces to unweighted") {
    val rnd = new scala.util.Random(19)
    val rows = (1 to 2000).map { i =>
      (s"g${i % 3}", (rnd.nextInt(500) - 100).toLong,
        // include zero/negative/null-ish weights to prove exclusion
        (rnd.nextInt(12) - 2).toLong)
    }
    val df = rows.toDF("g", "v", "w")
    val ps = Seq(0.5, 0.9)
    val got = Relational.sketchQuantilesWeighted(df, "g", "v", "w", ps)
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getLong(2))
      .toMap
    val want = (for {
      (g, gs) <- rows.filter(_._3 > 0).groupBy(_._1); p <- ps
    } yield (g, p) -> exactWeightedQuantile(
      gs.map(t => (t._2, t._3)), p)).toMap
    assert(got == want)
    // weight ≡ 1 is exactly the unweighted lane
    val ones = df.withColumn("w", lit(1L))
    assert(Relational.sketchQuantilesWeighted(ones, "g", "v", "w", ps)
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getLong(2))
      .toMap ==
      Relational.sketchQuantiles(df, "g", "v", ps)
        .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getLong(2))
        .toMap)
  }

  test("persisted quantile state: distributed folds are exact; state path matches direct path") {
    val rnd = new scala.util.Random(5)
    val rows = (1 to 3000).map(i =>
      (s"g${i % 3}", (rnd.nextInt(2000) - 300).toLong))
    val (b0, rest) = rows.splitAt(1000)
    val (b1, b2) = rest.splitAt(1000)
    val path = java.nio.file.Files.createTempDirectory("q_state").toString
    Relational.writeQuantileState(b0.toDF("g", "v"), "g", "v", path)
    Relational.appendToQuantileState(b1.toDF("g", "v"), path)
    Relational.appendToQuantileState(b2.toDF("g", "v"), path)
    val ps = Seq(0.5, 0.95)
    val all = rows.toDF("g", "v")
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getDouble(1)) -> r.getLong(2)).toMap
    val fromState = m(Relational.quantilesFromState(all, path, ps))
    assert(fromState == m(Relational.sketchQuantiles(all, "g", "v", ps)))
    // and both equal brute force
    val want = (for { (g, gs) <- rows.groupBy(_._1); p <- ps }
      yield (g, p) -> exactQuantile(gs.map(_._2), p)).toMap
    assert(fromState == want)
    // the no-scan bounds read brackets the true value with the true rank
    Relational.quantileStateBounds(spark, path, ps).collect().foreach { r =>
      val (g, p, rank, lo, hi) = (r.getString(0), r.getDouble(1),
        r.getLong(2), r.getDouble(3), r.getDouble(4))
      val n = rows.count(_._1 == g)
      assert(rank == math.ceil(p * n).toLong)
      val q = want((g, p)).toDouble
      assert(q > lo - 1e-9 && q <= hi + 1e-9, s"($g,$p): $q not in ($lo,$hi]")
    }
  }

  test("quantilesFromState raises on a drifted corpus instead of a wrong exact value") {
    val path = java.nio.file.Files.createTempDirectory("q_drift").toString
    val b = (1 to 100).map(i => ("g", i.toLong))
    Relational.writeQuantileState(b.toDF("g", "v"), "g", "v", path)
    // clean corpus: exact
    assert(Relational.quantilesFromState(b.toDF("g", "v"), path, Seq(0.5))
      .collect().map(_.getLong(2)).toSeq == Seq(50L))
    // corpus holding a batch the state never folded: the rank basis and
    // the verify mass disagree — must raise, never return "exact" at the
    // state's rank over the wrong distribution
    val drifted = (b ++ (101 to 120).map(i => ("g", i.toLong))).toDF("g", "v")
    val ex = intercept[Exception] {
      Relational.quantilesFromState(drifted, path, Seq(0.5)).collect()
    }
    assert(ex.getMessage != null && ex.getMessage.contains("drifted"),
      s"expected the drift guard, got: ${ex.getMessage}")
    // missing rows drift the other way — same guard
    val shrunk = b.filter(_._2 % 2 == 0).toDF("g", "v")
    val ex2 = intercept[Exception] {
      Relational.quantilesFromState(shrunk, path, Seq(0.5)).collect()
    }
    assert(ex2.getMessage != null && ex2.getMessage.contains("drifted"))
  }

  test("quantile state replays converge and empty batches don't publish") {
    val path = java.nio.file.Files.createTempDirectory("q_replay").toString
    val b = (1 to 100).map(i => ("g", i.toLong))
    Relational.writeQuantileState(b.toDF("g", "v"), "g", "v", path)
    val more = (101 to 200).map(i => ("g", i.toLong))
    Relational.appendToQuantileState(more.toDF("g", "v"), path, Some(0L))
    // a re-delivered batch (same id + content) must not double-fold: a
    // double fold inflates n, pushing every rank past the corpus
    Relational.appendToQuantileState(more.toDF("g", "v"), path, Some(0L))
    val corpus = (b ++ more).toDF("g", "v")
    val got = Relational.quantilesFromState(corpus, path, Seq(0.5))
      .collect().map(_.getLong(2))
    assert(got.toSeq == Seq(100L), s"median of 1..200 is 100: ${got.toSeq}")
    // same id, DIFFERENT content (a fresh checkpoint lineage) must land
    val fresh = (201 to 300).map(i => ("g", i.toLong))
    Relational.appendToQuantileState(fresh.toDF("g", "v"), path, Some(0L))
    assert(Relational.quantilesFromState(
      (b ++ more ++ fresh).toDF("g", "v"), path, Seq(0.5))
      .collect().map(_.getLong(2)).toSeq == Seq(150L))
    // an all-null batch publishes nothing and breaks nothing
    Relational.appendToQuantileState(
      Seq(("g", Option.empty[Long])).toDF("g", "v"), path)
    assert(Relational.quantileStateBounds(spark, path, Seq(0.5))
      .collect().head.getLong(2) == 150L)
  }

  test("quantileStream folds micro-batches exactly-once") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val path = java.nio.file.Files.createTempDirectory("q_stream").toString
    Relational.writeQuantileState(
      (1 to 50).map(i => ("g", i.toLong)).toDF("g", "v"), "g", "v", path)
    val input = MemoryStream[(String, Long)]
    val q = Relational.quantileStream(input.toDF().toDF("g", "v"), path)
    try {
      input.addData((51 to 75).map(i => ("g", i.toLong)))
      q.processAllAvailable()
      input.addData((76 to 100).map(i => ("g", i.toLong)))
      q.processAllAvailable()
    } finally q.stop()
    assert(Relational.quantilesFromState(
      (1 to 100).map(i => ("g", i.toLong)).toDF("g", "v"), path, Seq(0.5))
      .collect().map(_.getLong(2)).toSeq == Seq(50L))
  }

  test("sketchQuantile plan broadcasts the target frame and never goes cartesian") {
    val df = (1 to 500).map(i => (s"g${i % 3}", i.toLong)).toDF("g", "v")
    val plan = Relational.sketchQuantile(df, "g", "v", 0.5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }
}
