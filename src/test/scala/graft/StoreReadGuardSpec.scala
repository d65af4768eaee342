package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guards the store read path: every Parquet read in the packages that
  * read the stores goes through [[graft.io.Parquet.read]], whose footer
  * schema starts no Spark job. A bare `spark.read.parquet(` there brings
  * back a schema-inference job per read. (`graft.streaming` reads its own
  * state stores and is not covered.)
  */
class StoreReadGuardSpec extends AnyFunSuite {

  private val guarded = Seq("ids", "graph", "job", "meta", "io")
  private val helper  = "graft/io/Parquet.scala"
  private val bareRead = """\bread\s*\.\s*parquet\s*\(""".r

  /** `file:line` of each bare Parquet read in `text`. */
  private def bareReads(file: String, text: String): Seq[String] =
    bareRead.findAllMatchIn(text).map(m => s"$file:${text.take(m.start).count(_ == '\n') + 1}").toSeq

  test("store reads go through graft.io.Parquet.read (no bare spark.read.parquet)") {
    val root = new java.io.File("src/main/scala/graft")
    val files = guarded.flatMap { p =>
      val dir = new java.io.File(root, p)
      assert(dir.isDirectory, s"missing $dir")
      dir.listFiles().filter(_.getName.endsWith(".scala")).toSeq
    }
    val offenders = files.filterNot(_.getPath.endsWith(helper)).flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try bareReads(f.getPath, src.mkString) finally src.close()
    }
    assert(offenders.isEmpty, s"bare Parquet reads (use graft.io.Parquet.read): ${offenders.mkString(", ")}")
    assert(files.exists(_.getPath.endsWith(helper)))
  }

  test("the guard flags a bare read, also split across lines") {
    assert(bareReads("a", "val x = 1\nspark.read.parquet(p)") == Seq("a:2"))
    assert(bareReads("b", "spark.read\n  .parquet(p)\nspark.read.schema(s).parquet(p)").size == 1)
    assert(bareReads("c", "Parquet.read(spark, p); df.write.parquet(p)").isEmpty)
  }
}
