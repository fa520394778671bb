package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.FunctionIdentifier

/** Every function an `expr(...)`/`selectExpr(...)` string in `src/main`
  * calls must resolve in a session configured only through
  * [[GraftExtensions]]: it is either a Spark builtin or on
  * `Registration.natives`, so a cluster session built with the
  * extensions plans every query without any `register` helper having
  * run on it. */
class RegistryCoverageSpec extends SparkSpec {

  /** SQL keywords that may precede a parenthesis without being a call. */
  private val Syntax = Set("and", "as", "between", "case", "else", "group",
    "in", "is", "like", "not", "or", "over", "then", "when")

  /** The string literals inside each `expr(...)`/`selectExpr(...)` call
    * of a Scala source, interpolations blanked. */
  private def sqlStrings(src: String): Seq[String] =
    """\b(?:expr|selectExpr)\(""".r.findAllMatchIn(src).toSeq.flatMap { m =>
      val out = Seq.newBuilder[String]
      var i = m.end
      var depth = 1
      while (depth > 0 && i < src.length) {
        src(i) match {
          case '(' => depth += 1; i += 1
          case ')' => depth -= 1; i += 1
          case '"' =>
            val interpolated = src(i - 1) == 's' || src(i - 1) == 'f'
            val quote = if (src.startsWith("\"\"\"", i)) "\"\"\"" else "\""
            val body = new StringBuilder
            i += quote.length
            while (!src.startsWith(quote, i)) {
              if (interpolated && src(i) == '$' && src(i + 1) == '{') {
                // skip a `${...}` block, nested strings and braces included
                var braces = 1
                i += 2
                while (braces > 0) {
                  if (src(i) == '{') braces += 1
                  else if (src(i) == '}') braces -= 1
                  i += 1
                }
                body += ' '
              } else if (interpolated && src(i) == '$') {
                i += 1
                while (src(i).isLetterOrDigit || src(i) == '_') i += 1
                body += ' '
              } else if (quote == "\"" && src(i) == '\\') {
                body ++= src.substring(i, i + 2); i += 2
              } else {
                body += src(i); i += 1
              }
            }
            out += body.result()
            i += quote.length
          case _ => i += 1
        }
      }
      out.result()
    }

  /** Function names called in a SQL string (single-quoted SQL literals
    * and backquoted names dropped). */
  private def calls(sql: String): Seq[String] =
    """([A-Za-z_][A-Za-z0-9_]*)\s*\(""".r
      .findAllMatchIn(sql.replaceAll("""'(?:[^'\\]|\\.)*'|`[^`]*`""", "''"))
      .map(_.group(1).toLowerCase).filterNot(Syntax).toSeq

  test("every function called in an expr/selectExpr string resolves with GraftExtensions only") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"sources not found at $root")
    val used = Files.walk(root).iterator().asScala.toSeq
      .filter(_.toString.endsWith(".scala"))
      .flatMap { f =>
        sqlStrings(new String(Files.readAllBytes(f), "UTF-8"))
          .flatMap(calls).map(_ -> root.relativize(f).toString)
      }
      .groupBy(_._1).map { case (n, fs) => n -> fs.map(_._2).distinct }
    assert(used.size > 50 && used.contains("opt_barrier"),
      s"scan found too few calls: ${used.keys}")

    withExtensionsSession { s2 =>
      val registry = s2.sessionState.functionRegistry
      val missing = used.filterNot { case (n, _) =>
        registry.functionExists(FunctionIdentifier(n))
      }
      assert(missing.isEmpty, "unresolved functions (name -> sources): " +
        missing.toSeq.sortBy(_._1).mkString("; "))
    }
  }
}
