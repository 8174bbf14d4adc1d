package graft.http

/** HTTP status-code list grammar shared by lookup source and sink.
  *
  * Re-expresses the reference connector's code-expression semantics
  * (flink-connector-http `status/HttpCodesParser.java:42-77`):
  * comma-separated entries; `[1-5]XX` (case-insensitive) expands to the whole
  * hundred-group; `!code` excludes a single code (group exclusion is not
  * supported); exclusions win over inclusions; codes must be in [100, 599];
  * empty entries are skipped.
  */
object HttpCodes {
  private val GroupExpr = "[1-5][xX]{2}".r

  /** Parse a code expression like `"2XX,404,!203"` into the concrete code set.
    * Throws [[HttpConfigException]] on malformed input.
    */
  def parse(expression: String): Set[Int] = {
    val include = scala.collection.mutable.Set.empty[Int]
    val exclude = scala.collection.mutable.Set.empty[Int]
    expression.split(",", -1).map(_.trim).filter(_.nonEmpty).foreach { entry =>
      if (entry.startsWith("!")) {
        exclude += parseSingle(entry.substring(1), entry)
      } else if (GroupExpr.matches(entry)) {
        val base = entry.substring(0, 1).toInt * 100
        include ++= (base until base + 100)
      } else {
        include += parseSingle(entry, entry)
      }
    }
    (include -- exclude).toSet
  }

  private def parseSingle(s: String, raw: String): Int = {
    val code =
      try s.toInt
      catch {
        case _: NumberFormatException =>
          throw new HttpConfigException(s"Can not parse http code entry '$raw'")
      }
    if (code < 100 || code > 599)
      throw new HttpConfigException(s"Http code out of range: '$raw'")
    code
  }
}

/** Configuration error in HTTP connector options (reference:
  * `config/ConfigException.java`).
  */
class HttpConfigException(msg: String, cause: Throwable = null)
    extends RuntimeException(msg, cause)
