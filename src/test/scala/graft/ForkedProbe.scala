package graft

import java.util.concurrent.TimeUnit

import org.scalatest.Assertions

/** Runs a probe object's `main` in a fresh JVM from the test classpath.
  * Spark sizes its generated-class cache once per JVM and the shared test
  * session starts without the extension, so the specs that count compiled
  * classes count them in a forked session.
  */
object ForkedProbe {

  /** The text after `marker` on the first output line that starts with
    * it; fails unless the probe exits 0 within `timeoutSec`. */
  def run(probe: AnyRef, marker: String, props: Seq[String] = Nil,
      timeoutSec: Long = 300): String = {
    val java = s"${System.getProperty("java.home")}/bin/java"
    val cmd = Seq(java, "-Xmx1g", "-XX:TieredStopAtLevel=1") ++
      org.apache.spark.launcher.JavaModuleOptions.defaultModuleOptionArray() ++
      Seq("-Dspark.ui.enabled=false") ++ props ++
      Seq("-cp", System.getProperty("java.class.path"),
        probe.getClass.getName.stripSuffix("$"))
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = new StringBuilder
    val reader = new Thread(() =>
      scala.io.Source.fromInputStream(proc.getInputStream).getLines()
        .foreach(l => out.synchronized(out ++= l ++= "\n")))
    reader.start()
    val done = proc.waitFor(timeoutSec, TimeUnit.SECONDS)
    if (!done) proc.destroyForcibly()
    reader.join(10000)
    val log = out.synchronized(out.toString)
    Assertions.assert(done && proc.exitValue() == 0, s"probe JVM failed:\n${log.takeRight(4000)}")
    log.linesIterator.collectFirst {
      case l if l.startsWith(marker) => l.stripPrefix(marker).trim
    }.getOrElse(Assertions.fail(s"probe printed no $marker line:\n${log.takeRight(4000)}"))
  }
}
