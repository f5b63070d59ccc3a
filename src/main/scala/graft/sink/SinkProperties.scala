package graft.sink

import graft.macros.MacroParser
import graft.schema.{GraftSchemaException, SchemaDef, Validators}
import org.apache.spark.sql.types.StructType

/**
 * String-properties config surface for the sink — the Spark twin of the
 * reference's plugin configuration (SURVEY.md §1.2, §2.5):
 * `name`, `basePath`, `schema`, `fieldNames`, `format`,
 * `compressionCodec`, `appendToPartition` (default "No" → CREATE,
 * `PartitionedFileSetSinkConfig.java:63-65`), plus the ORC tuning options.
 * Every value supports `${...}` runtime-macro expansion
 * (`common/MacroParser.java`) against the supplied runtime properties.
 */
object SinkProperties {

  final case class ResolvedSink(
      name: String, path: String, schema: StructType, config: SinkConfig)

  /** Outcome of configure-time validation: which property checks ran and
    * which were deferred to run time because their backing value still
    * contains an unexpanded `${...}` macro. */
  final case class ConfigureReport(validated: Set[String], deferred: Set[String])

  /**
   * Configure-time validation — reference parity
   * (`PartitionedFileSetSink.java:56-67`,
   * `PartitionedFileSetSinkConfig.java:152-162`): each check is SKIPPED when
   * its backing property still contains an unexpanded macro, because macro
   * values only exist at run time; dataset creation is likewise deferred (in
   * this library nothing is created until [[PartitionedSink.write]] runs, so
   * the deferral is inherent). Full resolution — where every macro must
   * expand — is [[resolve]], called at run time.
   *
   * Required properties must be PRESENT at configure time (a macro can
   * change a value, not add a key); a present-but-macroed value defers its
   * checks. Cross-property checks (fieldNames ⊂ schema, codec-vs-format
   * whitelist, ORC option gating) run only when every involved property is
   * macro-free.
   */
  def validateConfigure(props: Map[String, String]): ConfigureReport = {
    Seq("name", "basePath", "schema", "fieldNames").foreach(k =>
      if (!props.contains(k))
        throw new GraftSchemaException(s"Missing sink property '$k'"))
    val validated = scala.collection.mutable.LinkedHashSet.empty[String]
    val deferred = scala.collection.mutable.LinkedHashSet.empty[String]
    // macro-free value (unescaped), or None with the check recorded deferred
    def free(key: String): Option[String] = props.get(key).flatMap { v =>
      if (MacroParser.containsMacro(v)) { deferred += key; None }
      else Some(MacroParser.expand(v, Map.empty))
    }
    if (free("name").isDefined) validated += "name"
    if (free("basePath").isDefined) validated += "basePath"
    val schema = free("schema").map { s =>
      val parsed = SchemaDef.parse(s); validated += "schema"; parsed
    }
    (schema, free("fieldNames")) match {
      case (Some(sch), Some(fn)) =>
        Validators.partitionFields(sch, fn); validated += "fieldNames"
      case (None, Some(_)) => deferred += "fieldNames" // needs the schema
      case _ => ()
    }
    val format = free("format") match {
      case Some(f) =>
        val fmt = SinkFormat.byName(f).getOrElse(throw new GraftSchemaException(
          s"Unknown sink format '${f.toLowerCase}'"))
        validated += "format"; Some(fmt)
      case None => if (props.contains("format")) None else Some(ParquetFormat)
    }
    (format, free("compressionCodec")) match {
      case (Some(fmt), Some(c)) if c.toLowerCase != "none" =>
        Validators.resolveCodec(fmt.codecs, c, fmt.name)
        validated += "compressionCodec"
      case (Some(_), Some(_)) => validated += "compressionCodec" // "none"
      case (None, Some(_)) => deferred += "compressionCodec" // needs format
      case _ => ()
    }
    val orcKeys = Seq("compressionChunkSize", "stripeSize", "indexStride", "createIndex")
    val orcPresent = orcKeys.filter(props.contains)
    format match {
      case None => // format itself is deferred — can't gate the options yet
        orcPresent.foreach(deferred += _)
      case Some(OrcFormat) =>
        val anyMacroed = orcKeys.exists(k =>
          props.get(k).exists(MacroParser.containsMacro))
        val codecMacroed =
          props.get("compressionCodec").exists(MacroParser.containsMacro)
        if (anyMacroed || codecMacroed) {
          // some involved property is unresolved — the completeness check
          // can't run yet; the whole option group is deferred
          orcPresent.foreach(deferred += _)
        } else {
          // run-time parity, including "codec set but options incomplete"
          val vals = orcKeys.map(free)
          val opts =
            if (vals.forall(_.isDefined)) {
              val Seq(c, s, i, x) = vals.map(_.get)
              Some(Validators.OrcOptions(c.toLong, s.toLong, i.toInt, x.toBoolean))
            } else None
          Validators.validateOrcOptions(
            props.get("compressionCodec").map(MacroParser.expand(_, Map.empty))
              .filter(_.toLowerCase != "none"),
            opts)
          validated ++= orcPresent
        }
      case Some(_) => () // non-ORC format ignores the options (run-time parity)
    }
    ConfigureReport(validated.toSet, deferred.toSet)
  }

  def resolve(
      props: Map[String, String],
      runtime: Map[String, String] = Map.empty,
      functions: Map[String, Seq[String] => String] = Map.empty): ResolvedSink = {

    def get(key: String): Option[String] =
      props.get(key).map(v => MacroParser.expand(v, runtime, functions))
    def require(key: String): String =
      get(key).getOrElse(throw new GraftSchemaException(s"Missing sink property '$key'"))

    val name = require("name")
    val basePath = require("basePath")
    val schema = SchemaDef.parse(require("schema"))
    val fields = Validators.partitionFields(schema, require("fieldNames"))
    val formatName = get("format").getOrElse("parquet")
    val format = SinkFormat.byName(formatName).getOrElse(throw new
      GraftSchemaException(s"Unknown sink format '${formatName.toLowerCase}'"))
    val codec = get("compressionCodec").filter(_.toLowerCase != "none")
    val disposition = get("appendToPartition").map(_.toLowerCase) match {
      case Some("yes") | Some("true") => CreateOrAppend
      case _ => Create // reference default: appendToPartition = "No"
    }
    val orc = (format, get("compressionChunkSize"), get("stripeSize"),
      get("indexStride"), get("createIndex")) match {
      case (OrcFormat, Some(c), Some(s), Some(i), Some(x)) =>
        Some(Validators.OrcOptions(c.toLong, s.toLong, i.toInt, x.toBoolean))
      case _ => None
    }
    val cfg = SinkConfig(format, fields, codec, disposition, orc)
    Validators.validateOrcOptions(if (format == OrcFormat) codec else None, orc)
    ResolvedSink(name, s"$basePath/$name", schema, cfg)
  }
}
