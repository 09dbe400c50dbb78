package graft

import graft.operators.StandingIndex
import graft.operators.StandingIndex.{MetaDouble, MetaInt, MetaLong}
import org.apache.spark.sql.functions._

class StandingIndexSpec extends SparkSpec {

  private def tmpDir(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(prefix)

  private def names(dir: java.nio.file.Path): Seq[String] = {
    val s = java.nio.file.Files.list(dir)
    try s.toArray.map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
      .toSeq.sorted
    finally s.close()
  }

  test("publishMetaRow swaps a fully written sidecar into place") {
    val root = tmpDir("graft_meta_publish")
    val path = s"$root/meta"
    StandingIndex.publishMetaRow(spark, path, Seq("n" -> MetaInt(1)))
    // a stray file beside the old row goes with it: the sidecar dir is
    // replaced whole, and no hidden temp dir is left in the parent
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(path, "part-00000.parquet"),
      java.nio.file.Paths.get(path, "stray.parquet"))
    StandingIndex.publishMetaRow(spark, path, Seq("n" -> MetaInt(2),
      "rows" -> MetaLong(7L)))
    assert(names(root) == Seq("meta"))
    assert(StandingIndex.listDataFiles(spark, path).size == 1)
    val m = StandingIndex.readMetaRow(spark, path)
    assert(m.get[Int]("n") == 2 && m.get[Long]("rows") == 7L)
    // a publish that fails while writing leaves the standing row intact
    intercept[Exception] {
      StandingIndex.publishMetaRow(spark, path,
        Seq("n" -> MetaInt(3), "n" -> MetaInt(4)))
    }
    assert(StandingIndex.readMetaRow(spark, path).get[Int]("n") == 2)
    assert(names(root) == Seq("meta"))
  }

  test("readMetaRow refuses a sidecar holding more than one data file") {
    val path = s"${tmpDir("graft_meta_two")}/meta"
    StandingIndex.publishMetaRow(spark, path, Seq("n" -> MetaInt(1)))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(path, "part-00000.parquet"),
      java.nio.file.Paths.get(path, "part-00001.parquet"))
    val e = intercept[IllegalStateException] {
      StandingIndex.readMetaRow(spark, path)
    }
    assert(e.getMessage.contains(path) && e.getMessage.contains("2 data files"),
      e.getMessage)
  }

  test("MetaRow names the field, path and both types on a type mismatch") {
    val path = s"${tmpDir("graft_meta_type")}/meta"
    StandingIndex.publishMetaRow(spark, path,
      Seq("scale" -> MetaDouble(0.5), "n" -> MetaInt(3)))
    val m = StandingIndex.readMetaRow(spark, path)
    assert(m.get[Double]("scale") == 0.5 && m.opt[Int]("n").contains(3))
    val e1 = intercept[IllegalArgumentException](m.get[Int]("scale"))
    assert(Seq("'scale'", path, "Double", "Integer")
      .forall(e1.getMessage.contains), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](m.opt[Long]("n"))
    assert(Seq("'n'", path, "Integer", "Long")
      .forall(e2.getMessage.contains), e2.getMessage)
    // a Spark-written FLOAT field reads back boxed as Float, not Double
    spark.range(1).select(lit(0.5f).as("recall"))
      .coalesce(1).write.mode("overwrite").parquet(path)
    val e3 = intercept[IllegalArgumentException] {
      StandingIndex.readMetaRow(spark, path).opt[Double]("recall")
    }
    assert(Seq("'recall'", "Float", "Double").forall(e3.getMessage.contains),
      e3.getMessage)
  }
}
