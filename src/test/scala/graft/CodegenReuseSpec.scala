package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Generated code survives across operations on a session started through
  * `spark.sql.extensions=graft.GraftExtensions`. Spark sizes its
  * generated-class cache once per JVM, and the shared test session starts
  * without the extension, so each case forks a fresh JVM
  * ([[CodegenReuseProbe]], through [[ForkedProbe]]).
  */
class CodegenReuseSpec extends AnyFunSuite {
  import CodegenReuseProbe.Plans

  /** The probe's count of classes compiled by its second pass. */
  private def recompiled(props: String*): Long =
    ForkedProbe.run(CodegenReuseProbe, CodegenReuseProbe.Marker, props, timeoutSec = 240).toLong

  test("the extension keeps an operation's generated classes across repeats") {
    val n = recompiled()
    assert(n <= 5, s"second pass over $Plans plans recompiled $n classes")
  }

  test("an explicit spark.sql.codegen.cache.maxEntries wins over the floor") {
    val n = recompiled("-Dspark.sql.codegen.cache.maxEntries=100")
    assert(n >= Plans / 2,
      s"with a 100-entry cache a second pass over $Plans plans recompiled only $n classes")
  }
}

/** Forked by [[CodegenReuseSpec]]: builds its session through the
  * `spark.sql.extensions` conf, runs [[Plans]] distinct one-row plans twice
  * and prints how many classes the second pass compiled.
  */
object CodegenReuseProbe {
  val Plans = 150
  val Marker = "recompiled:"

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[1]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // the inlined literal makes each plan's generated class distinct
    def pass(): Unit =
      (1 to Plans).foreach(i => spark.range(1).selectExpr(s"id * $i + 1 AS x").collect())
    try {
      pass()
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      pass()
      println(s"$Marker ${CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before}")
    } finally spark.stop()
  }
}
