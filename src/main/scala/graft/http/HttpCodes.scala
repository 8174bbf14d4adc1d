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

/** Success/retry classification for the lookup source (reference:
  * `status/HttpResponseChecker.java:30-77`): success set must be non-empty and
  * disjoint from the retry (temporal-error) set.
  */
final case class ResponseChecker(successCodes: Set[Int], retryCodes: Set[Int]) {
  if (successCodes.isEmpty)
    throw new HttpConfigException("Success code list cannot be empty")
  private val overlap = successCodes.intersect(retryCodes)
  if (overlap.nonEmpty)
    throw new HttpConfigException(
      s"Http codes $overlap cannot be used as both success and retry codes")

  def isSuccessful(code: Int): Boolean = successCodes.contains(code)
  def isRetryable(code: Int): Boolean = retryCodes.contains(code)
}

object ResponseChecker {
  def apply(successExpr: String, retryExpr: String): ResponseChecker =
    ResponseChecker(HttpCodes.parse(successExpr), HttpCodes.parse(retryExpr))
}

/** Sink-side error classifier (reference:
  * `status/ComposeHttpStatusCodeChecker.java`): a code is an error when it is
  * in the error list (default `4XX,5XX`) and not in the exclude list.
  */
final case class SinkErrorClassifier(errorCodes: Set[Int], excluded: Set[Int]) {
  def isError(code: Int): Boolean =
    errorCodes.contains(code) && !excluded.contains(code)
}

object SinkErrorClassifier {
  val DefaultErrorExpr = "4XX,5XX"

  def apply(errorExpr: String, excludeExpr: String): SinkErrorClassifier =
    SinkErrorClassifier(HttpCodes.parse(errorExpr), HttpCodes.parse(excludeExpr))
}
