package graft

import org.scalatest.funsuite.AnyFunSuite

/** Repo hygiene: no source file may contain control bytes that make
  * grep/ripgrep classify it as BINARY — a binary-looking source file is
  * invisible to every future text search, which is how regressions
  * hide. (The known pitfall: editor tools silently embedding literal
  * NUL bytes where an escape sequence was intended.) */
class HygieneSpec extends AnyFunSuite {

  test("no Scala source file contains NUL bytes") {
    val roots = Seq("src/main", "src/test").map(java.nio.file.Paths.get(_))
      .filter(java.nio.file.Files.exists(_))
    val offenders = roots.flatMap { root =>
      val it = java.nio.file.Files.walk(root).iterator()
      val bad = scala.collection.mutable.Buffer[String]()
      while (it.hasNext) {
        val p = it.next()
        if (p.toString.endsWith(".scala")) {
          val bytes = java.nio.file.Files.readAllBytes(p)
          if (bytes.contains(0.toByte)) bad += p.toString
        }
      }
      bad
    }
    assert(offenders.isEmpty,
      s"source files with literal NUL bytes (use \\u0000 escapes): " +
        offenders.mkString(", "))
  }

  test("WKT is parsed in one main source file: one point-in-polygon path") {
    val it = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main")).iterator()
    val parsers = scala.collection.mutable.Buffer[String]()
    while (it.hasNext) {
      val p = it.next()
      if (p.toString.endsWith(".scala") &&
          new String(java.nio.file.Files.readAllBytes(p), "UTF-8").contains("WKTReader"))
        parsers += p.toString
    }
    assert(parsers.size <= 1,
      s"WKTReader in ${parsers.mkString(", ")}: route containment through graft.ops.ZonalIndex")
  }

  test("registered queries verify on the array Jaccard kernel, not gram strings") {
    val it = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main")).iterator()
    val callers = scala.collection.mutable.Buffer[String]()
    while (it.hasNext) {
      val p = it.next()
      if (p.getFileName.toString.endsWith("Queries.scala") &&
          new String(java.nio.file.Files.readAllBytes(p), "UTF-8").contains("Dedup.pairJaccard("))
        callers += p.toString
    }
    assert(callers.isEmpty,
      s"Dedup.pairJaccard( in ${callers.mkString(", ")}: verify with Dedup.pairJaccardArrays")
  }

  private def mainSources(root: String): Seq[(java.nio.file.Path, String)] = {
    val it = java.nio.file.Files.walk(java.nio.file.Paths.get(root)).iterator()
    val out = scala.collection.mutable.Buffer[(java.nio.file.Path, String)]()
    while (it.hasNext) {
      val p = it.next()
      if (p.toString.endsWith(".scala"))
        out += p -> new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
    }
    out.toSeq
  }

  test("only the kept entry points and Lab define a main") {
    val kept = Set("Bench", "Verify", "SparkEntry", "GenScale", "SoakPipelineScale",
      "SoakGrid", "SoakVds", "SoakAnn", "SoakCuration", "Lab")
    val mains = mainSources("src/main/scala/graft")
      .collect { case (p, src) if src.contains("def main(") =>
        p.getFileName.toString.stripSuffix(".scala") }
    assert(mains.nonEmpty && mains.toSet.subsetOf(kept),
      s"unexpected main objects ${mains.filterNot(kept).mkString(", ")}: " +
        "measure with graft.Lab instead of adding a one-off main")
  }

  test("graft.* conf keys are limited to the two live switches") {
    val allowed = Set("graft.span.windowShapeMaxBytes", "graft.engine.migrateFlatLayout")
    val keys = mainSources("src/main").flatMap { case (_, src) =>
      "\"(graft\\.[a-zA-Z.]+)\"".r.findAllMatchIn(src).map(_.group(1)) }.toSet
    assert(keys.subsetOf(allowed),
      s"new graft.* conf keys ${(keys -- allowed).mkString(", ")}: a settled switch " +
        "collapses to its winner")
  }

  test("no limit(n + 1).collect() size probe outside model.collectUnderCap") {
    val probe = "\\.limit\\([^()]*\\+\\s*1\\)\\s*\\.collect\\(\\)".r
    // collectUnderCap's own skew fallback is the one allowed probe
    val offenders = mainSources("src/main").collect {
      case (p, src) if probe.findAllIn(src).size > (if (p.endsWith("model/package.scala")) 1 else 0) =>
        p.getFileName.toString }
    assert(offenders.isEmpty,
      s"size probes in ${offenders.mkString(", ")}: executeTake scans one partition, then " +
        "the rest (two jobs); gate with graft.model.collectUnderCap")
  }

  test("parquet is opened only in Tables.scala: one open path") {
    val offenders = mainSources("src/main").collect {
      case (p, src) if p.getFileName.toString != "Tables.scala" &&
          (src.contains(".read.parquet(") || src.contains(".read.schema(")) => p.getFileName.toString }
    assert(offenders.isEmpty,
      s"parquet read in ${offenders.mkString(", ")}: open it with graft.Tables.open, which " +
        "runs no job and lists the path once")
  }

  test("SlotStats.slotStats( is called only from Zonal: one zonal reducer") {
    val callers = mainSources("src/main").collect {
      case (p, src) if src.contains("SlotStats.slotStats(") => p.getFileName.toString }
    assert(callers.toSet.subsetOf(Set("Zonal.scala")),
      s"SlotStats.slotStats( in ${callers.mkString(", ")}: reduce through graft.ops.Zonal")
  }
}
