package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Mechanical convention over the product source (the
  * [[OracleHygieneSpec]] idea applied to src/main): a parquet read
  * without an explicit schema runs a one-task Spark job to infer it, so
  * every such read goes through [[Tables.parquet]], which reads the
  * footer on the driver instead. A new `s.read.parquet(p)` or
  * `s.read.format("parquet").load(p)` anywhere else fails here. Reads
  * that pass `.schema(...)` and parquet WRITES are fine. */
class ParquetReadHygieneSpec extends AnyFunSuite {

  private val srcMain = Paths.get("src/main/scala")

  /** Source text with comments blanked out (strings kept as-is). */
  private def code(p: Path): String =
    new String(Files.readAllBytes(p), "UTF-8")
      .replaceAll("(?s)/\\*.*?\\*/", " ")
      .replaceAll("//[^\\n]*", " ")

  /** Method names (with raw argument text) of the call chain that starts
    * at `from`: `.schema(x).option(a, b).parquet(p)` →
    * Seq(schema -> x, option -> "a, b", parquet -> p). */
  private def chain(src: String, from: Int): Seq[(String, String)] = {
    val call = """\A\s*\.\s*(\w+)""".r
    val out = Seq.newBuilder[(String, String)]
    var i = from
    var more = true
    while (more) call.findPrefixMatchOf(src.substring(i)) match {
      case Some(m) =>
        i += m.end
        val open = src.indexWhere(c => !c.isWhitespace, i)
        if (open >= 0 && src(open) == '(') {
          var depth = 0
          var j = open
          do {
            if (src(j) == '(') depth += 1 else if (src(j) == ')') depth -= 1
            j += 1
          } while (depth > 0 && j < src.length)
          out += (m.group(1) -> src.substring(open + 1, j - 1))
          i = j
        } else out += (m.group(1) -> "")
      case None => more = false
    }
    out.result()
  }

  /** Lines of the schema-inferring parquet reads in one file. */
  private def inferringReads(p: Path): Seq[Int] = {
    val src = code(p)
    """\.read(Stream)?\b""".r.findAllMatchIn(src).toSeq.flatMap { m =>
      val calls = chain(src, m.end)
      val parquet = calls.exists {
        case ("parquet", _) => true
        case ("format", arg) => arg.trim == "\"parquet\""
        case _ => false
      }
      if (parquet && !calls.exists(_._1 == "schema"))
        Seq(src.substring(0, m.start).count(_ == '\n') + 1)
      else Nil
    }
  }

  test("only Tables.parquet reads parquet without an explicit schema") {
    assert(Files.isDirectory(srcMain), s"run from the repo root: $srcMain missing")
    val files = Files.walk(srcMain).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val reads = files.flatMap(f => inferringReads(f).map(line => s"$f:$line"))
    // Tables.parquet's own fallback (mergeSchema on) is the one allowed site
    val (helper, others) = reads.partition(_.contains("/graft/Tables.scala:"))
    assert(others.isEmpty,
      s"schema-inferring parquet reads outside Tables.parquet: ${others.mkString(", ")}")
    assert(helper.size == 1, s"expected one read inside Tables.parquet: $helper")
  }

  test("the scan sees reads spelled across lines, via format, and as writes") {
    val dir = Files.createTempDirectory("graft-read-hygiene")
    val f = dir.resolve("Probe.scala")
    Files.write(f, Seq(
      "object Probe {",
      "  val a = s.read.parquet(p)",                               // 2: flagged
      "  val b = s.read",
      "    .option(\"x\", f(1))",
      "    .format(\"parquet\").load(p)",                          // 3: flagged
      "  val c = s.read.schema(t).parquet(p)",                     // typed: fine
      "  df.write.format(\"parquet\").saveAsTable(t)",             // write: fine
      "  // s.read.parquet(p) in a comment",
      "  val d = s.read.json(p)",
      "}").asJava)
    assert(inferringReads(f) == Seq(2, 3))
  }
}
