package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamFixture.spark

/** [[Tables.table]]'s schema reuse: a read of a file version read before
  * runs no Spark job, and a file rewritten at the same path, or read
  * under other parquet settings, is inferred again. */
class TablesSpec extends AnyFunSuite {

  private def jobsOf[T](body: => T): (Int, T) = SparkJobs.during(spark.sparkContext)(body)

  test("a second read of an unchanged table runs no Spark job and plans the same") {
    val d = "/root/testdata/sf0.001"
    val first = Tables.lineitem(spark, d)
    val (jobs, again) = jobsOf {
      val df = Tables.lineitem(spark, d)
      df.schema
      df
    }
    assert(jobs == 0, s"the second read ran $jobs Spark jobs")
    assert(again.schema == spark.read.parquet(s"$d/lineitem.parquet").schema)
    assert(again.queryExecution.optimizedPlan.sameResult(first.queryExecution.optimizedPlan))
  }

  test("a table rewritten at the same path with another schema is inferred again") {
    val s = spark; import s.implicits._
    val dir = Files.createTempDirectory("graft-tables")
    try {
      val path = s"$dir/t.parquet"
      Seq((1, "a"), (2, "b")).toDF("id", "name").write.parquet(path)
      assert(Tables.table(spark, dir.toString, "t").columns.toSeq == Seq("id", "name"))
      Seq((3.5, 7L, true)).toDF("score", "n", "flag").write.mode("overwrite").parquet(path)
      val df = Tables.table(spark, dir.toString, "t")
      assert(df.columns.toSeq == Seq("score", "n", "flag"))
      assert(df.as[(Double, Long, Boolean)].collect().toSeq == Seq((3.5, 7L, true)))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("a changed parquet setting infers the schema again") {
    val s = spark; import s.implicits._
    val dir = Files.createTempDirectory("graft-tables")
    def read() = jobsOf(Tables.table(spark, dir.toString, "t").schema)._1
    try {
      Seq(1, 2).toDF("id").write.parquet(s"$dir/t.parquet")
      read()
      assert(read() == 0, "an unchanged read must reuse the schema")
      spark.conf.set("spark.sql.parquet.binaryAsString", "true")
      assert(read() > 0, "a read under another parquet setting must infer again")
    } finally {
      spark.conf.unset("spark.sql.parquet.binaryAsString")
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }
}
