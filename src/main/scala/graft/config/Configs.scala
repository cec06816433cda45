package graft.config

import scala.io.Source

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
    colTradedVol: String,
    /** Non-role numeric columns typed DoubleType in the declared schema
      * (`src_extra_double_cols`, optional). Default covers the reference's
      * EndPrice, which is read but never used by the report.
      */
    extraDoubleCols: Seq[String] = Seq("EndPrice"))

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

/** Minimal YAML-subset loader for the reference's config shape: sections
  * of scalar or inline-list values, plus the nested `logging:` dictConfig
  * section. No external YAML dependency exists in this build (zero-egress,
  * Spark jars only), and the config grammar genuinely needed is this small.
  * One indentation-aware [[scan]] of the text serves both readers: the
  * two-level `source`/`target`/`meta` keys, and the logging section's root
  * level and formatter pattern ([[Configs.parseLogging]]), which
  * [[LogSetup]] applies to log4j2.
  */
object Configs {

  private type Value = Either[String, Seq[String]]

  def load(path: String): JobConfig = {
    val entries = scan(Source.fromFile(path, "UTF-8").mkString)
    val sections = entries
      .collect { case Entry(List(sec), k, v) => (sec, k, value(v)) }
      .groupBy(_._1).map { case (sec, kvs) => sec -> kvs.map(e => e._2 -> e._3).toMap }
    def section(name: String): Map[String, Value] =
      sections.getOrElse(name, sys.error(s"config: missing '$name' section"))
    val s = section("source")
    val t = section("target")
    val m = section("meta")
    def one(sec: Map[String, Value], k: String): String =
      sec.getOrElse(k, sys.error(s"config: missing key '$k'")) match {
        case Left(v) => v
        case Right(_) => sys.error(s"config: key '$k' should be scalar")
      }
    def list(sec: Map[String, Value], k: String): Seq[String] =
      sec.getOrElse(k, sys.error(s"config: missing key '$k'")) match {
        case Right(v) => v
        case Left(_) => sys.error(s"config: key '$k' should be a list")
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
        colTradedVol = one(s, "src_col_traded_vol"),
        extraDoubleCols = s.get("src_extra_double_cols") match {
          case Some(Right(v)) => v
          case Some(Left(v)) => Seq(v)
          case None => Seq("EndPrice")
        }),
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
      logging = logging(entries))
  }

  /** Root level + formatter pattern of the nested `logging:` dictConfig
    * section. The enclosing block keys tell `root: → level:` apart from the
    * `level:` keys inside handler definitions (dictConfig semantics: the
    * root level is what gates emission; handler levels only filter
    * further).
    */
  private[graft] def parseLogging(text: String): Option[LoggingConfig] =
    logging(scan(text))

  private def logging(entries: Seq[Entry]): Option[LoggingConfig] = {
    def last(p: Entry => Boolean): Option[String] =
      entries.filter(e => e.path.headOption.contains("logging") && p(e))
        .lastOption.map(e => unquote(e.value))
    val rootLevel = last(e => e.key == "level" && e.path.last == "root")
    val pattern = last(e => e.key == "format" && e.path.contains("formatters"))
    if (rootLevel.isEmpty && pattern.isEmpty) None
    else Some(LoggingConfig(rootLevel, pattern))
  }

  /** One `key: value` line under the block keys that enclose it,
    * outermost first.
    */
  private final case class Entry(path: List[String], key: String, value: String)

  /** The one scan of the text: comments and blank lines skipped, a bare
    * `key:` opens a block, and every `key: value` line becomes an [[Entry]].
    */
  private def scan(text: String): Seq[Entry] = {
    var blocks = List.empty[(Int, String)] // (indent, key), innermost first
    val out = Seq.newBuilder[Entry]
    for (raw <- text.linesIterator) {
      val line = stripComment(raw).replaceAll("\\s+$", "")
      if (line.contains(":")) {
        val indent = line.takeWhile(_ == ' ').length
        val Array(k, v) = line.split(":", 2)
        blocks = blocks.dropWhile(_._1 >= indent)
        if (v.trim.isEmpty) blocks = (indent, k.trim) :: blocks
        else out += Entry(blocks.reverse.map(_._2), k.trim, v.trim)
      }
    }
    out.result()
  }

  /** Scalar or inline list (`[a, b, c]`); quotes stripped. */
  private def value(v: String): Value =
    if (v.startsWith("[") && v.endsWith("]"))
      Right(v.substring(1, v.length - 1).split(",")
        .map(i => unquote(i.trim)).filter(_.nonEmpty).toSeq)
    else Left(unquote(v))

  /** Strip a trailing comment, respecting quotes. */
  private def stripComment(line: String): String = {
    var inS = false; var inD = false
    val b = new StringBuilder
    for (c <- line) {
      if (c == '\'' && !inD) inS = !inS
      else if (c == '"' && !inS) inD = !inD
      if (c == '#' && !inS && !inD) return b.toString
      b.append(c)
    }
    b.toString
  }

  private def unquote(s: String): String =
    if (s.length >= 2 &&
      ((s.head == '\'' && s.last == '\'') || (s.head == '"' && s.last == '"')))
      s.substring(1, s.length - 1)
    else s
}
