package graft.http

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Drift guard for docs/HTTP_OPTIONS.md (generated by
  * tools/http_options_doc.py): the committed table must stay in sync with
  * `HttpOptions.scala` — a new option key without a regenerated doc, a
  * dropped row, or a row whose "pinned by" column regressed to empty all
  * fail here, and so does any cell that differs from what the generator
  * prints now, so the option reference cannot silently rot.
  */
class HttpOptionsDocSpec extends AnyFunSuite with Matchers {

  private val optionsSrc =
    Paths.get("src/main/scala/graft/http/HttpOptions.scala")
  private val doc = Paths.get("docs/HTTP_OPTIONS.md")

  private def sourceKeys: Seq[String] = {
    val text = new String(Files.readAllBytes(optionsSrc), "UTF-8")
    "val [A-Z]\\w* =\\s+\"([^\"]+)\"".r
      .findAllMatchIn(text)
      .map(_.group(1))
      .filterNot(_.contains("^")) // regex constants, not option keys
      .toSeq
  }

  private def docRows: Seq[(String, String)] = {
    val text = new String(Files.readAllBytes(doc), "UTF-8")
    text.linesIterator
      .filter(_.startsWith("| `"))
      .map { line =>
        val cells = line.split("\\|").map(_.trim)
        // cells(0) is the empty pre-pipe split; key is cells(1), pinned-by
        // cells(3)
        (cells(1).stripPrefix("`").stripSuffix("`"), cells(3))
      }
      .toSeq
  }

  test("every HttpOptions key has a doc row (regenerate tools/http_options_doc.py)") {
    assume(Files.exists(optionsSrc) && Files.exists(doc),
      "run from the repo root (sbt test working dir)")
    val keys = sourceKeys
    keys should not be empty
    val documented = docRows.map(_._1).toSet
    val missing = keys.filterNot(documented)
    withClue(
      "options missing from docs/HTTP_OPTIONS.md — re-run " +
        "`python3 tools/http_options_doc.py > docs/HTTP_OPTIONS.md`: ") {
      missing shouldBe empty
    }
    // and no stale rows for since-removed options
    val known = keys.toSet
    docRows.map(_._1).filterNot(known) shouldBe empty
  }

  test("no doc row has an empty 'pinned by' column") {
    assume(Files.exists(doc), "run from the repo root (sbt test working dir)")
    val unpinned = docRows.collect { case (k, pin) if pin == "—" || pin.isEmpty => k }
    withClue("options with no gate or spec coverage: ") {
      unpinned shouldBe empty
    }
  }

  test("docs/HTTP_OPTIONS.md is the generator's output, byte for byte") {
    val generator = Paths.get("tools/http_options_doc.py")
    assume(Files.exists(generator) && Files.exists(doc),
      "run from the repo root (sbt test working dir)")
    assume(
      sys.env.getOrElse("PATH", "").split(java.io.File.pathSeparator)
        .exists(d => Files.isExecutable(Paths.get(d, "python3"))),
      "no python3 on PATH")
    import scala.sys.process._
    val out = new java.io.ByteArrayOutputStream()
    (Seq("python3", generator.toString) #> out).! shouldBe 0
    // compared as text for a readable diff
    withClue("docs/HTTP_OPTIONS.md is stale (a pinned-by cell, default or " +
        "doc sentence) — re-run " +
        "`python3 tools/http_options_doc.py > docs/HTTP_OPTIONS.md`: ") {
      new String(out.toByteArray, "UTF-8") shouldBe
        new String(Files.readAllBytes(doc), "UTF-8")
    }
  }

  test("doc option count trailer matches the source") {
    assume(Files.exists(optionsSrc) && Files.exists(doc),
      "run from the repo root (sbt test working dir)")
    val text = new String(Files.readAllBytes(doc), "UTF-8")
    val trailer = "(\\d+) options;".r.findFirstMatchIn(text)
    trailer.map(_.group(1).toInt) shouldBe Some(sourceKeys.size)
  }
}
