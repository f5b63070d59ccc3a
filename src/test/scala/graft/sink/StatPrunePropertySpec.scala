package graft.sink

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Shrink, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty

import scala.jdk.CollectionConverters._

/**
 * Pruning never changes results: for random [[Snapshots.StatRange]] sets
 * (equality, IN, open and closed bounds, IS [NOT] NULL) over a table with
 * min/max stats on long, double, string, date and timestamp columns and
 * Bloom filters on the long and timestamp ones — its files appended under
 * two session zones and read under a third — the pruned `read` and
 * `readAddedSince`, filtered by the predicate the ranges stand for, equal
 * the unpruned reads filtered the same way.
 */
class StatPrunePropertySpec extends SparkSpec {
  import Snapshots.StatRange

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("d", DoubleType),
    StructField("s", StringType), StructField("dt", DateType),
    StructField("ts", TimestampType), StructField("p", StringType)))

  private val writeZones = Seq("UTC", "America/New_York")
  private val readZones = writeZones :+ "Asia/Kolkata"
  private val appends = 4

  private def withZone[T](zone: String)(body: => T): T = {
    val prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", zone)
    try body finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  /** Rows of append `i`: ten per partition, each column null now and
    * then, and now and then null for a whole file. Timestamps span 12
    * hours — a zone's offset is a large share of a file's range — and
    * straddle the 2026-03-08 US daylight-saving switch. */
  private def batch(rnd: scala.util.Random, i: Int): Seq[Row] =
    Seq("a", "b").flatMap { p =>
      val allNull = Seq.fill(5)(rnd.nextInt(7) == 0)
      def v(c: Int)(x: => Any): Any =
        if (allNull(c) || rnd.nextInt(5) == 0) null else x
      Seq.fill(10)(Row(
        v(0)(java.lang.Long.valueOf(i * 20L + rnd.nextInt(40))),
        v(1)(if (rnd.nextInt(15) == 0) Double.NaN
             else (rnd.nextInt(10000) - 5000) / 100.0),
        v(2)(Seq.fill(1 + rnd.nextInt(3))(
          "abcdé😀"(rnd.nextInt(7))).mkString),
        v(3)(java.sql.Date.valueOf(
          java.time.LocalDate.of(2026, 1, 1).plusDays(rnd.nextInt(90)))),
        v(4)(java.sql.Timestamp.from(java.time.Instant
          .parse("2026-03-08T00:00:00Z").plusSeconds(60L * rnd.nextInt(720)))),
        p))
    }

  private def predicate(r: StatRange): Column = {
    val c = col(r.column)
    r.nullness match {
      case Some(true) => c.isNull
      case Some(false) => c.isNotNull
      case None => r.anyOf match {
        case Some(vs) => c.isin(vs: _*)
        case None => (r.lower.map(c >= lit(_)) ++ r.upper.map(c <= lit(_)))
          .reduceOption(_ && _).getOrElse(lit(true))
      }
    }
  }

  private def rangeGen(pools: Map[String, Seq[Any]]): Gen[StatRange] = for {
    c <- Gen.oneOf(pools.keys.toSeq.sorted)
    v = Gen.oneOf(pools(c))
    r <- Gen.oneOf(
      v.map(x => StatRange(c, Some(x), Some(x))),
      Gen.choose(1, 4).flatMap(Gen.listOfN(_, v))
        .map(vs => StatRange(c, anyOf = Some(vs))),
      v.map(x => StatRange(c, lower = Some(x))),
      v.map(x => StatRange(c, upper = Some(x))),
      Gen.zip(v, v).map { case (lo, hi) => StatRange(c, Some(lo), Some(hi)) },
      Gen.oneOf(true, false).map(n => StatRange(c, nullness = Some(n))))
  } yield r

  private case class Case(zone: String, sinceId: Int, ranges: List[StatRange])

  private implicit val shrinkCase: Shrink[Case] = Shrink { c =>
    Shrink.shrink(c.ranges).filter(_.nonEmpty).map(rs => c.copy(ranges = rs))
  }

  private def rows(df: DataFrame): Map[String, Int] =
    df.collect().toSeq.map(_.toString).groupBy(identity).map {
      case (r, rs) => r -> rs.length
    }

  test("property: a stat- and Bloom-pruned read equals the unpruned read under the same predicate") {
    val root = java.nio.file.Files.createTempDirectory("snap_pruneprop").toString
    val rnd = new scala.util.Random(11)
    val batches = (1 to appends).map(i => batch(rnd, i))
    batches.zipWithIndex.foreach { case (b, i) =>
      withZone(writeZones(i % writeZones.length)) {
        Snapshots.write(
          spark.createDataFrame(b.asJava, schema).coalesce(1), root,
          Seq("p"), statsColumns = Seq("k", "d", "s", "dt", "ts"),
          bloomColumns = Seq("k", "ts"))
      }
    }
    val all = batches.flatten
    // every stored value of each column, plus values outside its domain
    val pools = schema.fieldNames.filter(_ != "p").zipWithIndex.map {
      case (c, i) => c -> (all.map(_.get(i)).filter(_ != null).distinct ++ (c match {
        case "k" => Seq(-1L, 500L)
        case "d" => Seq(-1e9, 1e9, Double.NaN)
        case "s" => Seq("", "zz")
        case "dt" => Seq(java.sql.Date.valueOf("2025-01-01"))
        case _ => Seq(java.sql.Timestamp.from(
          java.time.Instant.parse("2026-03-08T07:00:00Z")))
      }))
    }.toMap
    // the unpruned expectations as driver-local frames: filtering them
    // launches no job
    def local(df: DataFrame) =
      spark.createDataFrame(df.collect().toSeq.asJava, df.schema)
    val full = local(Snapshots.read(spark, root))
    val added = (1 until appends).map(id => id -> local(
      Snapshots.readAddedSince(spark, root, id).get)).toMap
    val caseGen = for {
      zone <- Gen.oneOf(readZones)
      since <- Gen.choose(1, appends - 1)
      n <- Gen.choose(1, 3)
      rs <- Gen.listOfN(n, rangeGen(pools))
    } yield Case(zone, since, rs)
    val prop = Prop.forAll(caseGen) { c =>
      val pred = c.ranges.map(predicate).reduce(_ && _)
      withZone(c.zone) {
        val read = rows(Snapshots.read(spark, root, prune = c.ranges)
          .filter(pred))
        val incr = Snapshots.readAddedSince(spark, root, c.sinceId,
          prune = c.ranges).map(df => rows(df.filter(pred)))
          .getOrElse(Map.empty)
        Prop(read == rows(full.filter(pred))) :| "read" &&
          Prop(incr == rows(added(c.sinceId).filter(pred))) :| "readAddedSince"
      }
    }
    val res = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(60).withWorkers(1)
      .withInitialSeed(Seed(20261020L)), prop)
    assert(res.passed, Pretty.pretty(res, Pretty.Params(2)))
  }
}
