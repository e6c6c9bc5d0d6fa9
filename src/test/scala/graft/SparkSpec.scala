package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (getOrCreate → one JVM-wide session). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("local[4]", 8)
      .config("spark.sql.warehouse.dir", "/tmp/graft-test-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"

  private var scratchRoot: Option[Path] = None

  /** A new empty directory under this suite's scratch root, which is
    * deleted with everything in it after the suite. */
  def scratchDir(prefix: String): Path = synchronized {
    val root = scratchRoot.getOrElse {
      val r = Files.createTempDirectory(s"graft-${getClass.getSimpleName}-")
      scratchRoot = Some(r)
      r
    }
    Files.createTempDirectory(root, prefix)
  }

  override def afterAll(): Unit =
    try synchronized {
      scratchRoot.foreach { root =>
        Files.walk(root).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      }
      scratchRoot = None
    } finally super.afterAll()
}
