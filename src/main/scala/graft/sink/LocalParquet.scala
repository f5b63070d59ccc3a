package graft.sink

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Type, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types._

/**
 * Driver-side parquet I/O for the engine's own METADATA parts — the
 * state-sized files every publish lane carries (generation `meta` rows,
 * `seen/` replay ledgers, heavy-hitter counter tables, per-batch Bloom
 * sidecars, IVF centroid and PQ codebook sidecars).
 *
 * Write side: a `df.coalesce(1).write.parquet(...)` of a LocalRelation
 * spawns a WHOLE Spark job (planning, one task, commit protocol) to
 * write a handful of rows the driver already holds; a state fixture
 * publishing three generations pays that ~6-9 times per run. [[write]]
 * collects the LocalRelation (free — `LocalTableScanExec` returns its
 * rows without launching a job) and streams them through parquet's own
 * writer: one file, standard logical types, byte-compatible with every
 * `spark.read.parquet` consumer.
 *
 * Read side: `spark.read.parquet(...).collect()` of the same few KB
 * costs TWO jobs (schema inference, then the collect), each analyzed and
 * planned — on every point lookup, replay check and top-k batch.
 * [[read]] decodes the files on the driver with parquet's own reader
 * instead: no DataFrameReader, no job, rows under the footer's schema.
 * It reads files this writer produced and Spark-written `coalesce(1)`
 * parts of the same flat types, plus `array<double>` in Spark's 3-level
 * LIST layout (the IVF sidecars).
 *
 * Scale note: this is NOT a driver funnel — eligibility is decided by
 * PLAN SHAPE on write (a LocalRelation is driver-resident by
 * construction) and by CALL SITE on read: every reader collected all of
 * its rows onto the driver before, and every part is
 * O(vocab)/O(seen-window)/O(batch-files)/O(cells) bounded by contract.
 * Distributed parts keep Spark.
 */
private[graft] object LocalParquet {

  private def primFor(dt: DataType): Option[PrimitiveTypeName] = dt match {
    case StringType | BinaryType => Some(PrimitiveTypeName.BINARY)
    case LongType => Some(PrimitiveTypeName.INT64)
    case IntegerType => Some(PrimitiveTypeName.INT32)
    case DoubleType => Some(PrimitiveTypeName.DOUBLE)
    case FloatType => Some(PrimitiveTypeName.FLOAT)
    case BooleanType => Some(PrimitiveTypeName.BOOLEAN)
    case _ => None
  }

  /** Eligible iff the optimized plan IS a LocalRelation (one-row-relation
    * projections fold into one) and every column maps to a flat parquet
    * primitive. Anything else — a distributed part, a nested type —
    * falls back to the ordinary Spark write at the call site. */
  def supported(df: DataFrame): Boolean =
    (df.queryExecution.optimizedPlan match {
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => true
      case _ => false
    }) && df.schema.fields.forall(f => primFor(f.dataType).isDefined)

  /** Write `df` (must satisfy [[supported]]) as ONE snappy parquet file
    * `name` under `dir`, creating `dir` if needed. */
  def write(df: DataFrame, dir: String, name: String =
      s"part-00000-${java.util.UUID.randomUUID().toString.take(12)}.parquet")
      : Unit = {
    val schema = df.schema
    val mt: MessageType = {
      val b = Types.buildMessage()
      schema.fields.foreach { f =>
        val prim = primFor(f.dataType).get
        val fb =
          if (f.nullable) Types.optional(prim) else Types.required(prim)
        val withAnn = f.dataType match {
          case StringType => fb.as(LogicalTypeAnnotation.stringType())
          case _ => fb
        }
        b.addField(withAnn.named(f.name))
      }
      b.named("spark_schema")
    }
    val spark = df.sparkSession
    val conf = spark.sessionState.newHadoopConf()
    val (_, qdir) = FsOps.fs(spark, dir)
    val file = new Path(qdir, name)
    val writer = ExampleParquetWriter.builder(
        org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(file, conf))
      .withConf(conf)
      .withType(mt)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
    val factory = new SimpleGroupFactory(mt)
    try {
      df.collect().foreach { row =>
        val g = factory.newGroup()
        schema.fields.zipWithIndex.foreach { case (f, i) =>
          if (!row.isNullAt(i)) f.dataType match {
            case StringType => g.add(f.name, row.getString(i))
            case BinaryType => g.add(f.name,
              Binary.fromConstantByteArray(row.getAs[Array[Byte]](i)))
            case LongType => g.add(f.name, row.getLong(i))
            case IntegerType => g.add(f.name, row.getInt(i))
            case DoubleType => g.add(f.name, row.getDouble(i))
            case FloatType => g.add(f.name, row.getFloat(i))
            case BooleanType => g.add(f.name, row.getBoolean(i))
            case other => throw new IllegalStateException(
              s"unsupported local-parquet type $other — guarded by supported()")
          }
        }
        writer.write(g)
      }
    } finally writer.close()
  }

  /** The one-call shape every metadata part uses: the local fast path
    * when eligible, the ordinary one-file Spark write otherwise. */
  def writeOrFallback(df: DataFrame, dir: String): Unit =
    if (supported(df)) write(df, dir)
    else df.coalesce(1).write.parquet(dir)

  /** Every row of the parquet files at `paths` — each a file, or a
    * directory whose visible files (hidden entries — `_SUCCESS`, `.crc` —
    * skipped, as Spark's file index skips them) are its parts — read on
    * the driver, files in name order, rows in file order. Each row
    * carries its file's footer schema. Columns decode from string,
    * binary, long, int, double, float and boolean (nullable or not) and
    * from `array<double>` in the 3-level LIST layout; any other column
    * type throws, naming the column. A missing path throws
    * `FileNotFoundException`. */
  def read(spark: SparkSession, paths: String*): Seq[Row] = {
    val conf = spark.sessionState.newHadoopConf()
    paths.flatMap { p =>
      val (f, qp) = FsOps.fs(spark, p)
      val st = f.getFileStatus(qp)
      if (st.isFile) Seq(st)
      else FsOps.visibleFiles(f, qp).toSeq.sortBy(_.getPath.getName)
    }.flatMap(readFile(_, conf))
  }

  private def readFile(
      st: FileStatus, conf: org.apache.hadoop.conf.Configuration): Seq[Row] = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
    try {
      val mt = reader.getFooter.getFileMetaData.getSchema
      val schema = StructType(mt.getFields.toArray(Array.empty[Type]).map(t =>
        StructField(t.getName, sparkType(t, st.getPath),
          t.getRepetition != Type.Repetition.REQUIRED)))
      val io = new ColumnIOFactory().getColumnIO(mt)
      val out = Seq.newBuilder[Row]
      var pages = reader.readNextRowGroup()
      while (pages != null) {
        val records = io.getRecordReader(pages, new GroupRecordConverter(mt))
        var i = 0L
        while (i < pages.getRowCount) {
          val g = records.read()
          out += new GenericRowWithSchema(
            Array.tabulate[Any](schema.length)(c =>
              value(g, c, schema.fields(c).dataType)), schema)
          i += 1
        }
        pages = reader.readNextRowGroup()
      }
      out.result()
    } finally reader.close()
  }

  /** The Spark type of one footer column: the writer's flat primitives
    * (no logical annotation but a string's) or a 3-level LIST of doubles. */
  private def sparkType(t: Type, file: Path): DataType = {
    def unsupported = throw new UnsupportedOperationException(
      s"LocalParquet.read: column '${t.getName}' of $file has unsupported " +
        s"type ${t.toString.trim}")
    val ann = t.getLogicalTypeAnnotation
    if (t.isRepetition(Type.Repetition.REPEATED)) unsupported
    else if (t.isPrimitive) {
      (t.asPrimitiveType.getPrimitiveTypeName, ann) match {
        case (PrimitiveTypeName.BINARY, _: LogicalTypeAnnotation.StringLogicalTypeAnnotation) =>
          StringType
        case (PrimitiveTypeName.BINARY, null) => BinaryType
        case (PrimitiveTypeName.INT64, null) => LongType
        case (PrimitiveTypeName.INT32, null) => IntegerType
        case (PrimitiveTypeName.DOUBLE, null) => DoubleType
        case (PrimitiveTypeName.FLOAT, null) => FloatType
        case (PrimitiveTypeName.BOOLEAN, null) => BooleanType
        case _ => unsupported
      }
    } else {
      // LIST-annotated group → repeated group `list` → one `element`
      val g = t.asGroupType
      val elem = Option.when(
          ann.isInstanceOf[LogicalTypeAnnotation.ListLogicalTypeAnnotation] &&
          g.getFieldCount == 1 && !g.getType(0).isPrimitive &&
          g.getType(0).isRepetition(Type.Repetition.REPEATED))(
        g.getType(0).asGroupType).filter(_.getFieldCount == 1).map(_.getType(0))
      elem match {
        case Some(e) if e.isPrimitive &&
            !e.isRepetition(Type.Repetition.REPEATED) &&
            e.getLogicalTypeAnnotation == null &&
            e.asPrimitiveType.getPrimitiveTypeName == PrimitiveTypeName.DOUBLE =>
          ArrayType(DoubleType, e.isRepetition(Type.Repetition.OPTIONAL))
        case _ => unsupported
      }
    }
  }

  private def value(g: Group, c: Int, dt: DataType): Any =
    if (g.getFieldRepetitionCount(c) == 0) null
    else dt match {
      case StringType => g.getString(c, 0)
      case BinaryType => g.getBinary(c, 0).getBytes
      case LongType => g.getLong(c, 0)
      case IntegerType => g.getInteger(c, 0)
      case DoubleType => g.getDouble(c, 0)
      case FloatType => g.getFloat(c, 0)
      case BooleanType => g.getBoolean(c, 0)
      case _: ArrayType =>
        val list = g.getGroup(c, 0)
        scala.collection.mutable.ArraySeq.make(
          Array.tabulate[Any](list.getFieldRepetitionCount(0)) { j =>
            val e = list.getGroup(0, j)
            if (e.getFieldRepetitionCount(0) == 0) null else e.getDouble(0, 0)
          })
      case other => throw new IllegalStateException(
        s"unsupported local-parquet type $other — guarded by sparkType")
    }
}
