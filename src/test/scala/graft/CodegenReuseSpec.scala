package graft

import java.util.concurrent.TimeUnit

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Generated code survives across operations on a session started through
  * `spark.sql.extensions=graft.GraftExtensions`. Spark sizes its
  * generated-class cache once per JVM, and the shared test session starts
  * without the extension, so each case forks a fresh JVM
  * ([[CodegenReuseProbe]]) from the test classpath.
  */
class CodegenReuseSpec extends AnyFunSuite {
  import CodegenReuseProbe.Plans

  /** The probe's count of classes compiled by its second pass. */
  private def recompiled(props: String*): Long = {
    val java = s"${System.getProperty("java.home")}/bin/java"
    val cmd = Seq(java, "-Xmx1g", "-XX:TieredStopAtLevel=1") ++
      org.apache.spark.launcher.JavaModuleOptions.defaultModuleOptionArray() ++
      Seq("-Dspark.ui.enabled=false") ++ props ++
      Seq("-cp", System.getProperty("java.class.path"),
        CodegenReuseProbe.getClass.getName.stripSuffix("$"))
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = new StringBuilder
    val reader = new Thread(() =>
      scala.io.Source.fromInputStream(proc.getInputStream).getLines()
        .foreach(l => out.synchronized(out ++= l ++= "\n")))
    reader.start()
    val done = proc.waitFor(240, TimeUnit.SECONDS)
    if (!done) proc.destroyForcibly()
    reader.join(10000)
    val log = out.synchronized(out.toString)
    assert(done && proc.exitValue() == 0, s"probe JVM failed:\n${log.takeRight(4000)}")
    log.linesIterator.collectFirst {
      case l if l.startsWith(CodegenReuseProbe.Marker) =>
        l.stripPrefix(CodegenReuseProbe.Marker).trim.toLong
    }.getOrElse(fail(s"probe printed no count:\n${log.takeRight(4000)}"))
  }

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
