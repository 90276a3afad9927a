package graft

import org.scalatest.funsuite.AnyFunSuite

class EntryHelpersSpec extends AnyFunSuite {

  test("readParquet re-infers the schema of a directory rewritten in-process") {
    val spark = graft.spark.SparkTestSession.spark
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-schema-cache")
      .resolve("t").toString
    Seq(1L, 2L).toDF("a").write.parquet(dir)
    assert(EntryHelpers.readParquet(spark, dir).columns.toSeq == Seq("a"))
    // the same path rewritten with the column renamed: a stale cached
    // schema would read column "a" as all-NULL instead of failing or
    // showing "b"
    Seq(3L, 4L).toDF("b").write.mode("overwrite").parquet(dir)
    val df = EntryHelpers.readParquet(spark, dir)
    assert(df.columns.toSeq == Seq("b"))
    assert(df.as[Long].collect().sorted.toSeq == Seq(3L, 4L))
  }
}
