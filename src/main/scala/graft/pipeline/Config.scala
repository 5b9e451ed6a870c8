package graft.pipeline

/** Dot-access configuration over a YAML file (ref `Config`,
  * `src/utils.py:50-115`, exercised by `tests.py:260-280`): a missing or
  * unreadable file falls back to built-in defaults, `get("a.b.c")` walks
  * nested sections, and a per-call default covers absent keys.
  *
  * The parser is a deliberate hand-rolled YAML SUBSET — exactly the shape
  * the reference's `config/config.yaml` uses (nested maps by indentation,
  * scalar leaves, inline `[a, b]` lists, `#` comments, quoted strings).
  * No anchors, multi-line strings, or multi-doc — the zero-egress build
  * can't add a YAML dependency, and config files this engine reads are
  * machine-checked by [[ConfigSpec]] rather than free-form. Parsing is
  * DRIVER-side setup (a few KB once per run) — nothing here touches the
  * data plane.
  */
final class Config private (root: Map[String, Any]) {

  /** Dot-notation lookup: `get("api.retry_attempts")`. */
  def get(path: String): Option[Any] = {
    @annotation.tailrec
    def walk(keys: List[String], node: Any): Option[Any] = keys match {
      case Nil => Some(node)
      case k :: rest => node match {
        case m: Map[_, _] =>
          m.asInstanceOf[Map[String, Any]].get(k) match {
            case Some(next) => walk(rest, next)
            case None => None
          }
        case _ => None
      }
    }
    walk(path.split('.').toList, root)
  }

  def getOrElse(path: String, default: Any): Any = get(path).getOrElse(default)

  def getString(path: String, default: String): String =
    get(path).map(String.valueOf).getOrElse(default)

  // typed getters are as forgiving as load itself: a malformed scalar
  // (`quality_threshold: high`, `batch_size: "1,000"`) falls back to the
  // caller's default rather than crashing a pipeline at startup —
  // consistent with the class's warn-and-default contract

  def getInt(path: String, default: Int): Int = get(path) match {
    case Some(n: Long) => n.toInt
    case Some(d: Double) => d.toInt
    case Some(s: String) => s.trim.toIntOption.getOrElse(default)
    case _ => default
  }

  def getDouble(path: String, default: Double): Double = get(path) match {
    case Some(n: Long) => n.toDouble
    case Some(d: Double) => d
    case Some(s: String) => s.trim.toDoubleOption.getOrElse(default)
    case _ => default
  }

  def getBoolean(path: String, default: Boolean): Boolean = get(path) match {
    case Some(b: Boolean) => b
    // YAML 1.1 boolean spellings a hand-written file plausibly uses
    case Some(s: String) => s.trim.toLowerCase match {
      case "true" | "yes" | "on" => true
      case "false" | "no" | "off" => false
      case _ => default
    }
    case _ => default
  }

  def getStrings(path: String, default: Seq[String]): Seq[String] = get(path) match {
    case Some(xs: Seq[_]) => xs.map(String.valueOf)
    case _ => default
  }

  /** The reference's stage toggles + thresholds as a [[GraftConfig]] —
    * unknown keys are ignored, absent keys keep code defaults, so a
    * partial file (or none at all) always yields a runnable config
    * (`run_pipeline.py --no-validation` ≡ `transformation.enable_* :
    * false` here). */
  def toGraftConfig: GraftConfig = GraftConfig(
    qualityThreshold = getDouble("data_quality.quality_threshold", 80.0),
    requiredFields =
      getStrings("data_quality.required_fields", Quality.RequiredFields),
    enableValidation = getBoolean("transformation.enable_validation", default = true),
    enableCleaning = getBoolean("transformation.enable_cleaning", default = true),
    enableEnrichment = getBoolean("transformation.enable_enrichment", default = true),
    enableStandardization =
      getBoolean("transformation.enable_standardization", default = true),
    incrementalStorage = getBoolean("storage.incremental", default = false),
    exportFormats = getStrings("storage.export_formats", Nil),
    summaryReport = getBoolean("storage.summary_report", default = false))
}

object Config {

  /** Built-in defaults mirroring `utils.py:75-98`. */
  val Defaults: Map[String, Any] = Map(
    "database" -> Map(
      "path" -> "data/orders.parquet",
      "connection_timeout" -> 30L,
      "batch_size" -> 1000L),
    "api" -> Map(
      "base_url" -> "https://jsonplaceholder.typicode.com",
      "timeout" -> 30L,
      "retry_attempts" -> 3L,
      "retry_delay" -> 5L),
    "pipeline" -> Map(
      "batch_size" -> 1000L,
      "max_workers" -> 4L,
      "log_level" -> "INFO"),
    "data_quality" -> Map(
      "quality_threshold" -> 80L,
      "required_fields" -> Quality.RequiredFields))

  def fromDefaults: Config = new Config(Defaults)

  /** Load a YAML file; missing file or parse failure → defaults, like the
    * reference's warn-and-default (`utils.py:59-73`). */
  def load(path: String): Config =
    try {
      val text = new String(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
        java.nio.charset.StandardCharsets.UTF_8)
      parse(text)
    } catch { case _: Exception => fromDefaults }

  /** Parse the YAML subset; any syntax error → defaults (parse never
    * throws, matching the reference's catch-all). */
  def parse(text: String): Config =
    try new Config(parseBlock(prepare(text), 0, 0)._1)
    catch { case _: Exception => fromDefaults }

  // ---- parser ------------------------------------------------------------

  private final case class Line(indent: Int, content: String)

  /** Strip comments/blank lines, record indents. Tabs are rejected (YAML
    * forbids them for indentation). */
  private def prepare(text: String): Vector[Line] =
    text.linesIterator.map { raw =>
      require(!raw.startsWith("\t"), "tab indentation")
      val noComment = stripComment(raw)
      Line(noComment.takeWhile(_ == ' ').length, noComment.trim)
    }.filter(_.content.nonEmpty).toVector

  /** Remove a `#` comment, honoring quotes. */
  private def stripComment(s: String): String = {
    var inS = false; var inD = false
    val i = s.indexWhere { c =>
      if (c == '\'' && !inD) inS = !inS
      else if (c == '"' && !inS) inD = !inD
      c == '#' && !inS && !inD
    }
    if (i < 0) s else s.substring(0, i)
  }

  /** Parse one indentation block starting at `from`; returns (map, next). */
  private def parseBlock(lines: Vector[Line], from: Int, indent: Int): (Map[String, Any], Int) = {
    val out = Map.newBuilder[String, Any]
    var i = from
    while (i < lines.length && lines(i).indent >= indent) {
      val ln = lines(i)
      require(ln.indent == indent, s"bad indent at: ${ln.content}")
      val colon = ln.content.indexOf(':')
      require(colon > 0, s"expected 'key: value' at: ${ln.content}")
      val key = unquote(ln.content.substring(0, colon).trim)
      val rhs = ln.content.substring(colon + 1).trim
      if (rhs.nonEmpty) { out += key -> scalarOrList(rhs); i += 1 }
      else if (i + 1 < lines.length && lines(i + 1).indent > indent) {
        if (lines(i + 1).content.startsWith("- ")) {
          val (xs, next) = parseDashList(lines, i + 1, lines(i + 1).indent)
          out += key -> xs; i = next
        } else {
          val (m, next) = parseBlock(lines, i + 1, lines(i + 1).indent)
          out += key -> m; i = next
        }
      } else if (i + 1 < lines.length && lines(i + 1).indent == indent &&
          lines(i + 1).content.startsWith("- ")) {
        // valid YAML puts list items at the KEY's indent too
        val (xs, next) = parseDashList(lines, i + 1, indent)
        out += key -> xs; i = next
      } else { out += key -> null; i += 1 } // bare key: with nothing nested
    }
    (out.result(), i)
  }

  private def parseDashList(lines: Vector[Line], from: Int, indent: Int): (Seq[Any], Int) = {
    val out = Seq.newBuilder[Any]
    var i = from
    while (i < lines.length && lines(i).indent == indent &&
        lines(i).content.startsWith("- ")) {
      out += scalar(lines(i).content.drop(2).trim)
      i += 1
    }
    (out.result(), i)
  }

  private def scalarOrList(s: String): Any =
    if (s.startsWith("[") && s.endsWith("]")) {
      val inner = s.substring(1, s.length - 1).trim
      if (inner.isEmpty) Seq.empty[Any] else splitTop(inner).map(scalar)
    } else scalar(s)

  /** Split on commas not inside quotes. */
  private def splitTop(s: String): Seq[String] = {
    val parts = Seq.newBuilder[String]
    val cur = new StringBuilder
    var inS = false; var inD = false
    s.foreach { c =>
      if (c == '\'' && !inD) { inS = !inS; cur += c }
      else if (c == '"' && !inS) { inD = !inD; cur += c }
      else if (c == ',' && !inS && !inD) { parts += cur.result().trim; cur.clear() }
      else cur += c
    }
    parts += cur.result().trim
    parts.result()
  }

  private def scalar(s: String): Any = s match {
    case "null" | "~" => null
    case "true" | "True" => true
    case "false" | "False" => false
    case _ if s.matches("[-+]?\\d+") => s.toLong
    case _ if s.matches("[-+]?(\\d+\\.\\d*|\\.\\d+)([eE][-+]?\\d+)?") => s.toDouble
    case _ => unquote(s)
  }

  private def unquote(s: String): String =
    if (s.length >= 2 &&
      ((s.head == '"' && s.last == '"') || (s.head == '\'' && s.last == '\'')))
      s.substring(1, s.length - 1)
    else s
}
