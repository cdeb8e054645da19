package graft

import java.nio.file.{Files, Path}

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.apache.spark.testkit.ListenerBus
import org.scalactic.source.Position
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.IndexStore

/** Shared local SparkSession for all suites (one JVM per `sbt test` fork). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def sf: String = TestSpark.sf

  /** A test whose body gets `newDir`, a maker of fresh directories under
    * `java.io.tmpdir`; every directory it made is deleted when the test
    * ends, whether it passed or failed.
    */
  def tempDirTest(name: String)(body: (String => Path) => Unit)
                 (implicit pos: Position): Unit =
    test(name) {
      val made = scala.collection.mutable.ListBuffer.empty[Path]
      try body { prefix =>
        val d = Files.createTempDirectory(prefix)
        made += d
        d
      } finally made.foreach(d => FileUtils.deleteQuietly(d.toFile))
    }

  /** Spark jobs that `run` starts, counted under a job group of its own. */
  def jobCount(run: () => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"graft-jobs-${java.util.UUID.randomUUID()}"
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties)
            .exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    ListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      try run() finally sc.clearJobGroup()
      ListenerBus.drain(sc)
    } finally sc.removeSparkListener(listener)
    n.get
  }

  /** Every file under `dir` with its size and mtime: a write of any kind
    * changes it. (The committed-manifest read is cached per JVM, so the
    * disk is what shows a replay rewrote nothing.)
    */
  def files(dir: String): Set[(String, Long, Long)] = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(IndexStore.hadoopConf)
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(dir), true)
    var out = Set.empty[(String, Long, Long)]
    while (it.hasNext) {
      val f = it.next()
      out += ((f.getPath.toString, f.getLen, f.getModificationTime))
    }
    out
  }
}
