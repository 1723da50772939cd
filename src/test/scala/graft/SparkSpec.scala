package graft

import java.nio.file.{Files, Path}

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session, ScalaTest
  * runs suites sequentially in the forked JVM).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sqlCtx: SparkSession = spark

  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  /** A fresh scratch dir under `java.io.tmpdir`, deleted with everything
    * in it when the suite ends. */
  def tempDir(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    tempDirs.add(dir)
    dir
  }

  override protected def afterAll(): Unit =
    try tempDirs.forEach(d => FileUtils.deleteQuietly(d.toFile))
    finally super.afterAll()
}

object SparkSpec {
  lazy val session: SparkSession = {
    // keep metastore + warehouse artifacts out of the repo working dir
    val tmp = Files.createTempDirectory("graft_spark")
    sys.addShutdownHook(FileUtils.deleteQuietly(tmp.toFile))
    System.setProperty("derby.system.home", tmp.toString)
    val s = SparkSession.builder()
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.functions.VectorFunctions.register(s)
    s
  }
}
