package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session — Spark
  * startup dominates test wall-clock otherwise).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf0001 = "/root/testdata/sf0.001"
  def sf001 = "/root/testdata/sf0.01"

  /** The version a catalog table's per-table `LATEST` pointer names,
    * read from disk under the catalog `root` (None: no committed
    * version). */
  def latest(root: String, t: String): Option[Int] =
    Some(java.nio.file.Paths.get(s"$root/$t/_manifests/LATEST"))
      .filter(java.nio.file.Files.exists(_))
      .map(p => java.nio.file.Files.readString(p).trim.toInt)
}

object SparkSpec {
  lazy val session: SparkSession = Sessions.local(4,
    "spark.app.name" -> "graft-test",
    // static conf: saveAsTable targets (bucketed-join tests) land in a
    // temp dir, never the repo working directory
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft_wh").toString)
}
