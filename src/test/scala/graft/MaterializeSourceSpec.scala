package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Spark-free source check: [[graft.core.Materialize]] is the only code
  * in `src/main/scala` that persists, unpersists or checkpoints a frame
  * (plus the graftbridge factory it calls), but for two named lineage
  * cuts that pick their own Spark call. Comments are ignored; a call
  * anywhere else fails by file and line. */
class MaterializeSourceSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  private val allowed = Set(
    "graft/core/Materialize.scala",
    "org/apache/spark/sql/graftbridge/Bridge.scala")

  /** (file, call): the connected-components rounds' reliable
    * checkpoint and the BPE trainer's lazy local checkpoint. */
  private val allowedCalls = Set(
    "graft/operators/Dedup.scala" -> "df.checkpoint()",
    "graft/operators/LmOps.scala" -> "applied.localCheckpoint(eager = false)")

  private val calls =
    """\.persist\(|\.cache\(\)|\.unpersist\(|localCheckpoint\(|\.checkpoint\(""".r

  /** `src` with comments blanked out, line structure kept. String
    * literals are copied through so a `//` inside one is not a comment. */
  private def stripComments(src: String): String = {
    val out = new StringBuilder
    var i = 0
    var block = false
    var str = false
    while (i < src.length) {
      val c = src.charAt(i)
      val next = if (i + 1 < src.length) src.charAt(i + 1) else '\u0000'
      if (block) {
        if (c == '*' && next == '/') { block = false; i += 1 }
        else if (c == '\n') out += c
      } else if (str) {
        out += c
        if (c == '\\') { if (i + 1 < src.length) out += next; i += 1 }
        else if (c == '"') str = false
      } else if (c == '\'' && (next == '\\' ||
          (i + 2 < src.length && src.charAt(i + 2) == '\''))) {
        // a char literal such as '"' or '\n': copied, never a delimiter
        val end = src.indexOf('\'', if (next == '\\') i + 3 else i + 2)
        out ++= src.substring(i, end + 1)
        i = end
      } else if (c == '/' && next == '*') { block = true; i += 1 }
      else if (c == '/' && next == '/') {
        while (i < src.length && src.charAt(i) != '\n') i += 1
        i -= 1
      } else {
        if (c == '"') str = true
        out += c
      }
      i += 1
    }
    out.toString
  }

  test("only Materialize persists, unpersists or checkpoints in src/main") {
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val files: Seq[Path] = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 100, s"only ${files.size} sources found under $root")
    val offenders = files.flatMap { f =>
      val rel = root.relativize(f).toString.replace('\\', '/')
      if (allowed(rel)) Nil
      else stripComments(new String(Files.readAllBytes(f), "UTF-8"))
        .split("\n", -1).zipWithIndex.collect {
          case (line, n) if calls.findFirstIn(line).isDefined &&
              !allowedCalls.exists { case (file, call) =>
                file == rel && line.contains(call) } =>
            s"$rel:${n + 1}: ${line.trim}"
        }.toSeq
    }
    assert(offenders.isEmpty,
      "lifecycle calls outside graft.core.Materialize:\n" +
        offenders.mkString("\n"))
  }
}
