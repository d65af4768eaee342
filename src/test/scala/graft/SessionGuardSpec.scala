package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guards the one session factory: in `src/main`, only
  * [[graft.GraftSession]] builds a SparkSession, so every main runs under
  * the same settings. A `SparkSession.builder` anywhere else brings back a
  * hand-built session whose settings can drift from the others'.
  */
class SessionGuardSpec extends AnyFunSuite {

  private val factory = "graft/GraftSession.scala"
  private val builder = """\bSparkSession\s*\.\s*builder\b|\.\s*builder\s*\(\s*\)""".r

  /** `file:line` of each session builder in `text`. */
  private def builders(file: String, text: String): Seq[String] =
    builder.findAllMatchIn(text).map(m => s"$file:${text.take(m.start).count(_ == '\n') + 1}").toSeq

  private def scalaFiles(dir: java.io.File): Seq[java.io.File] =
    dir.listFiles().toSeq.flatMap { f =>
      if (f.isDirectory) scalaFiles(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }

  test("only graft.GraftSession builds a SparkSession in src/main") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"missing $root")
    val files = scalaFiles(root)
    val offenders = files.filterNot(_.getPath.endsWith(factory)).flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try builders(f.getPath, src.mkString) finally src.close()
    }
    assert(offenders.isEmpty, s"SparkSession built outside GraftSession: ${offenders.mkString(", ")}")
    assert(files.exists(_.getPath.endsWith(factory)))
  }

  test("the guard flags a builder, also split across lines") {
    assert(builders("a", "val x = 1\nSparkSession.builder().getOrCreate()") == Seq("a:2"))
    assert(builders("b", "SparkSession\n  .builder()\n  .master(m)") == Seq("b:1"))
    assert(builders("c", "import org.apache.spark.sql.SparkSession.\n  builder").size == 1)
    assert(builders("d", "GraftSession(); // a query builder\nval builders = Seq()").isEmpty)
  }
}
