package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.piglatin.{EmbeddedCode, PigletReference, PigParser, PigScript}

/** Front-end compatibility: every Pig script in the reference's
  * integration suite must parse (after the same pre-passes a real run
  * applies: param substitution, IMPORT inlining, macro expansion,
  * embedded-block extraction). */
class ParseCompatSpec extends AnyFunSuite {

  test("all reference integration scripts parse") {
    val dir = Paths.get(PigletReference.Root, "src/it/resources")
    assume(Files.isDirectory(dir))
    val pigs = Files.list(dir).iterator().asScala
      .filter(_.toString.endsWith(".pig")).toSeq.sortBy(_.toString)
    val failures = pigs.flatMap { p =>
      val sub = Files.readString(p)
        .replaceAll("\\$[A-Za-z_][A-Za-z0-9_]*", "X")
      try {
        val imported =
          PigScript.expandImports(sub, Some(PigletReference.Root))
        val expanded = PigScript.expandMacros(imported)
        val (cleaned, _) = EmbeddedCode.blockStrip(expanded)
        PigParser.parseScript(cleaned)
        None
      } catch {
        case e: Throwable => Some(s"${p.getFileName}: ${e.getMessage.take(80)}")
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
    assert(pigs.size == 61) // guard against an empty directory passing
  }

  test("every keyword in the reference grammar is handled by graft's parser") {
    import java.nio.file.{Files, Paths}
    val refSrc = Files.readString(Paths.get(PigletReference(
      "src/main/scala/dbis/piglet/parser/PigParser.scala")))
    // the reference binds each keyword as `xKeyword = "word".ignoreCase`
    val refKw = """[A-Za-z]+Keyword\s*:?[^=\n]*=\s*"([a-z_ ]+)"""".r
      .findAllMatchIn(refSrc).map(_.group(1)).toSet
    val graftSrc = Files.readString(Paths.get(
      "src/main/scala/graft/piglatin/PigParser.scala"))
    val graftKw = """kw\("([a-z_]+)"\)""".r
      .findAllMatchIn(graftSrc).map(_.group(1)).toSet
    // keywords graft handles through a DIFFERENT mechanism than kw():
    val elsewhere = Set(
      // type names: schemaSpec idents → PigCompiler.sparkType
      "int", "long", "float", "double", "chararray", "bytearray",
      "boolean", "map", "tuple", "bag", "timestamp",
      // spatial predicates arrive as funcCall names (containedby/...)
      "contains", "intersects",
      // index/partition method names are idents in indexClause (grid/
      // rtree/bsp), as are their flag params
      "grid", "rtree", "bsp", "pointsonly",
      // DEFINE ... RETURNS macros are textually expanded (PigScript)
      "returns",
      // CEP match modes and socket zmq mode parse as plain idents after
      // the MODE keyword
      "skip_till_any_match", "first_match", "recent_match",
      "cognitive_match", "zmq",
      // multi-word RDFLOAD clause: parsed as kw(grouped) kw(on) kw(pos)
      "grouped on",
      // literals / misc parsed structurally
      "true", "false", "if", "asc", "desc", "mode")
    val missing = refKw -- graftKw -- elsewhere
    assert(missing.isEmpty,
      s"reference grammar keywords graft's parser never mentions: " +
        s"${missing.toSeq.sorted.mkString(", ")}")
    assert(refKw.size > 60, s"suspiciously few reference keywords: ${refKw.size}")
  }
}
