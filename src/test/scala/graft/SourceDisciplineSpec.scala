package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The engine's source disciplines as EXECUTABLE rules, not prose:
  *
  *  1. No `udf(...)` anywhere in main source — per-row logic is
  *     either `org.apache.spark.sql.functions` algebra or a compiled
  *     Catalyst Expression (codegen-able, prunable, no serialization
  *     tax).
  *  2. Driver-side `.collect()` only in files that carry a documented
  *     BOUNDED collect (k-row cluster tables, partition-count
  *     offsets, histogram/threshold frames) — a new unbounded
  *     collect in any other operator fails this suite before it
  *     fails a 100-TB run.
  *  3. One session factory: `core/GraftSession.scala` is the only
  *     file, main or test, that builds a `SparkSession`, so every run
  *     sees the same session semantics.
  */
class SourceDisciplineSpec extends AnyFunSuite {
  private val mainRoot = Paths.get("src/main/scala/graft")
  private val testRoot = Paths.get("src/test/scala")

  private def scalaFiles(root: java.nio.file.Path) =
    Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala")).toSeq

  // files with documented bounded collects (see their scaladocs)
  private val collectAllowlist = Set(
    "lake/StatsManifest.scala",      // per-file min/max manifest rows
    "operators/Experiments.scala",   // k-bounded assignment tables
    "operators/Ranks.scala",         // P-row partition-count offsets
    "operators/Sampling.scala",      // histogram/threshold/offset rows
    "operators/ProductQuantization.scala", // nlist-row coarse quantizer
    "operators/SemanticDedup.scala", // k-row sampled quantizer
    "operators/Similarity.scala",    // k-row sampled centroids
    "pipeline/PhaseClassifier.scala",// ≤k cluster rows (reference A1)
    "streaming/EventStreams.scala")  // 1-row min/max bounds

  test("no udf() anywhere in main source") {
    val offenders = scalaFiles(mainRoot).filter { p =>
      Files.readString(p).linesIterator.exists(l =>
        !l.trim.startsWith("*") && !l.trim.startsWith("//") &&
          l.matches(".*\\budf\\s*\\(.*"))
    }
    assert(offenders.isEmpty, s"udf() found in: $offenders")
  }

  test("collect() only in the documented bounded-collect files") {
    val offenders = scalaFiles(mainRoot).filter { p =>
      val rel = mainRoot.relativize(p).toString
      !collectAllowlist(rel) &&
        Files.readString(p).contains(".collect()")
    }
    assert(offenders.isEmpty,
      s"undocumented .collect() in: ${offenders.map(mainRoot.relativize)}")
  }

  test("a SparkSession is built only in core/GraftSession.scala") {
    // matches the call across a line break; this pattern's own text
    // does not match it
    val builderCall = "SparkSession\\s*\\.\\s*builder".r
    val factory = mainRoot.resolve("core/GraftSession.scala")
    val sites = (scalaFiles(mainRoot) ++ scalaFiles(testRoot))
      .filter(p => builderCall.findFirstIn(Files.readString(p)).nonEmpty)
    assert(sites == Seq(factory), s"SparkSession built outside the factory: $sites")
  }
}
