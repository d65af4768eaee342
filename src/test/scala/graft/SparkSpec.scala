package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one per JVM; tests fork once).
  * Mirrors the reference's SparkTestEnv (utils/SparkTestEnv.scala:11-30).
  * Four cores and four shuffle partitions on any host; every other
  * setting is the mains' own ([[GraftSession.settings]]).
  */
object SparkTestEnv {
  lazy val spark: SparkSession = SparkSession
    .builder()
    .master("local[4]")
    .appName("graft-test")
    .config((GraftSession.settings :+ ("spark.sql.shuffle.partitions" -> "4")).toMap)
    .getOrCreate()
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestEnv.spark
  override def beforeAll(): Unit = {
    spark.sparkContext.setLogLevel("ERROR")
    super.beforeAll()
  }

  def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}

/** Flat alert test record, replicating the reference's test model
  * (common/.../models/Alert.scala:38-59) per FIXTURES.md §1.
  */
case class Candidate(jd: Double, programid: Int, candid: Long)
case class Alert(
    id: Long,
    objectId: String,
    candidate: Candidate,
    cdsxmatch: String,
    rfscore: Double,
    snn_snia_vs_nonia: Double,
    snn_sn_vs_all: Double,
    drb: Float,
    ndethist: Int,
    classtar: Float,
    roid: Int,
    mulens_class_1: Option[String],
    mulens_class_2: Option[String],
    year: Int,
    month: Int,
    day: Int
)

object Alert {
  def gen(
      id: Long,
      objectId: String,
      rfscore: Double,
      snn: Double,
      roid: Int,
      classtar: Float,
      cdsxmatch: String,
      mulens1: Option[String],
      mulens2: Option[String],
      snnSnVsAll: Double = 0.80,
      drb: Float = 0.79f,
      ndethist: Int = 392
  ): Alert =
    Alert(
      id = id,
      objectId = objectId,
      candidate = Candidate(0.0, 5, 1034528862715010005L + id),
      cdsxmatch = cdsxmatch,
      rfscore = rfscore,
      snn_snia_vs_nonia = snn,
      snn_sn_vs_all = snnSnVsAll,
      drb = drb,
      ndethist = ndethist,
      roid = roid,
      classtar = classtar,
      mulens_class_1 = mulens1,
      mulens_class_2 = mulens2,
      year = 2019,
      month = 2,
      day = 1
    )
}
