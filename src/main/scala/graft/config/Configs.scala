package graft.config

import java.nio.file.{Files, Paths}

import scala.collection.immutable.VectorMap
import scala.jdk.CollectionConverters._

import org.yaml.snakeyaml.{DumperOptions, LoaderOptions, Yaml}
import org.yaml.snakeyaml.constructor.SafeConstructor
import org.yaml.snakeyaml.representer.Representer
import org.yaml.snakeyaml.resolver.Resolver

/** Job configuration — the reference's YAML sections
  * (`configs/xetra_report1_config.yaml`) as case classes (≅ the
  * `XetraSourceConfig`/`XetraTargetConfig` NamedTuples,
  * `xetra_transformer.py:13-66`). Storage endpoints are plain URIs: the
  * engine doesn't care whether they're file://, s3a://, or hdfs://.
  */
final case class SourceConfig(
    uri: String,
    firstExtractDate: String,
    columns: Seq[String],
    colDate: String, colIsin: String, colTime: String,
    colStartPrice: String, colMinPrice: String, colMaxPrice: String,
    colTradedVol: String)

final case class TargetConfig(
    uri: String,
    key: String,
    keyDateFormat: String,
    format: String,
    colIsin: String, colDate: String,
    colOpPrice: String, colClosPrice: String,
    colMinPrice: String, colMaxPrice: String,
    colDailyTradedVol: String, colChPrevClos: String)

final case class MetaConfig(metaUri: String)

/** The reference's `logging:` dictConfig section (`run.py:28-29`) reduced
  * to the two knobs that have a log4j2 meaning in a Spark process: the
  * root level and the console format pattern (Python %-style, converted by
  * [[LogSetup.toLog4jPattern]]). Handler topology (which is Python
  * `logging`-machinery-specific) has no analogue and is not modeled.
  */
final case class LoggingConfig(rootLevel: Option[String],
    pattern: Option[String])

final case class JobConfig(source: SourceConfig, target: TargetConfig,
    meta: MetaConfig, logging: Option[LoggingConfig] = None)

/** Loader for the reference's config shape: the `source`/`target`/`meta`
  * sections of scalar or list values, plus the nested `logging:`
  * dictConfig section. The text is parsed by SnakeYAML (on the classpath
  * through Spark's jars) with a resolver that adds no implicit resolvers,
  * so every scalar stays the verbatim string the file holds: an unquoted
  * `2021-04-17` is the text "2021-04-17", not a `java.util.Date`. The
  * logging section's root level and formatter pattern
  * ([[Configs.parseLogging]]) are what [[LogSetup]] applies to log4j2.
  */
object Configs {

  def load(path: String): JobConfig = {
    val doc = parse(Files.readString(Paths.get(path)))
    def section(name: String): Map[String, Any] = doc.get(name) match {
      case Some(m: Map[String, Any] @unchecked) => m
      case _ => sys.error(s"config: missing '$name' section")
    }
    val s = section("source")
    val t = section("target")
    val m = section("meta")
    def one(sec: Map[String, Any], k: String): String =
      sec.getOrElse(k, sys.error(s"config: missing key '$k'")) match {
        case v: String => v
        case _ => sys.error(s"config: key '$k' should be scalar")
      }
    def list(sec: Map[String, Any], k: String): Seq[String] =
      sec.getOrElse(k, sys.error(s"config: missing key '$k'")) match {
        case v: Seq[_] => v.map(String.valueOf)
        case _ => sys.error(s"config: key '$k' should be a list")
      }
    JobConfig(
      SourceConfig(
        uri = one(s, "src_uri"),
        firstExtractDate = one(s, "src_first_extract_date"),
        columns = list(s, "src_columns"),
        colDate = one(s, "src_col_date"),
        colIsin = one(s, "src_col_isin"),
        colTime = one(s, "src_col_time"),
        colStartPrice = one(s, "src_col_start_price"),
        colMinPrice = one(s, "src_col_min_price"),
        colMaxPrice = one(s, "src_col_max_price"),
        colTradedVol = one(s, "src_col_traded_vol")),
      TargetConfig(
        uri = one(t, "trg_uri"),
        key = one(t, "trg_key"),
        keyDateFormat = one(t, "trg_key_date_format"),
        format = one(t, "trg_format"),
        colIsin = one(t, "trg_col_isin"),
        colDate = one(t, "trg_col_date"),
        colOpPrice = one(t, "trg_col_op_price"),
        colClosPrice = one(t, "trg_col_clos_price"),
        colMinPrice = one(t, "trg_col_min_price"),
        colMaxPrice = one(t, "trg_col_max_price"),
        colDailyTradedVol = one(t, "trg_col_dail_trad_vol"),
        colChPrevClos = one(t, "trg_col_ch_prev_clos")),
      MetaConfig(metaUri = one(m, "meta_uri")),
      logging = logging(doc))
  }

  /** Root level + formatter pattern of the nested `logging:` dictConfig
    * section: `logging.root.level`, not the `level:` keys inside handler
    * definitions (dictConfig semantics: the root level is what gates
    * emission; handler levels only filter further), and the last
    * `logging.formatters.*.format`.
    */
  private[graft] def parseLogging(text: String): Option[LoggingConfig] =
    logging(parse(text))

  private def logging(doc: Map[String, Any]): Option[LoggingConfig] = {
    def at(node: Option[Any], key: String): Option[Any] = node.collect {
      case m: Map[String, Any] @unchecked => m.get(key)
    }.flatten
    def text(node: Option[Any]): Option[String] =
      node.collect { case v: String => v }
    val log = doc.get("logging")
    val rootLevel = text(at(at(log, "root"), "level"))
    val pattern = at(log, "formatters").collect {
      case fs: Map[String, Any] @unchecked =>
        fs.values.flatMap(f => text(at(Some(f), "format"))).lastOption
    }.flatten
    if (rootLevel.isEmpty && pattern.isEmpty) None
    else Some(LoggingConfig(rootLevel, pattern))
  }

  /** The YAML text as nested Scala values: mappings in file order, lists,
    * and verbatim-string scalars. An empty or non-mapping document is an
    * empty map.
    */
  private def parse(text: String): Map[String, Any] = {
    val verbatim = new Resolver {
      override protected def addImplicitResolvers(): Unit = ()
    }
    val dump = new DumperOptions
    val yaml = new Yaml(new SafeConstructor(new LoaderOptions),
      new Representer(dump), dump, verbatim)
    def toScala(node: Any): Any = node match {
      case m: java.util.Map[_, _] =>
        m.asScala.iterator
          .map { case (k, v) => String.valueOf(k) -> toScala(v) }
          .to(VectorMap)
      case l: java.util.List[_] => l.asScala.map(toScala).toSeq
      case v => v
    }
    toScala(yaml.load[Any](text)) match {
      case m: Map[String, Any] @unchecked => m
      case _ => Map.empty
    }
  }
}
