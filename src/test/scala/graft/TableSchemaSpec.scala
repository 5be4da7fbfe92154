package graft

import graft.spark.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

/** `SparkEntry`'s tables take a single file's schema from its footer on
  * the driver: the same schema Spark infers, no job, nothing cached. */
class TableSchemaSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  test("driver-side schemas equal Spark's inferred schemas on every data set") {
    val tables = Seq("documents", "embeddings", "events")
    var checked = 0
    for {
      dir <- Seq("/root/testdata/sf0.001", "testdata_adv/sf0.01", "perfbench/data/sf0.1")
      t <- tables
      path = s"$dir/$t.parquet"
      if new java.io.File(path).isFile
    } {
      assert(SparkEntry.table(spark, path).schema == spark.read.parquet(path).schema, path)
      checked += 1
    }
    // documents everywhere; embeddings and events in the two sf dirs
    assert(checked == 7, s"$checked tables checked")
  }

  test("building docs starts no Spark job") {
    val jobs = SparkTestSession.jobsDuring(SparkEntry.docs(spark, "/root/testdata/sf0.001"))
    assert(jobs == 0, s"$jobs jobs")
  }

  test("a rewritten file is read with its new schema; a directory reads as before") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-table").toFile
    try {
      val file = new java.io.File(base, "documents.parquet")
      // one plain parquet file, as the data sets ship them
      def writeFile(df: org.apache.spark.sql.DataFrame): Unit = {
        val dir = new java.io.File(base, "w")
        df.coalesce(1).write.mode("overwrite").parquet(dir.toString)
        val part = dir.listFiles().find(_.getName.endsWith(".parquet")).get
        java.nio.file.Files.move(part.toPath, file.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
      writeFile(Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text"))
      val first = SparkEntry.docs(spark, base.toString)
      assert(first.columns.toSeq == Seq("doc_id", "text"))
      writeFile(Seq((3, "c", 0.5)).toDF("doc_id", "text", "score"))
      val second = SparkEntry.docs(spark, base.toString)
      assert(second.schema == spark.read.parquet(file.toString).schema)
      assert(second.columns.toSeq == Seq("doc_id", "text", "score"))
      assert(second.collect().map(r => (r.getInt(0), r.getString(1), r.getDouble(2))).toSeq ==
        Seq((3, "c", 0.5)))
      // a directory of part files (e.g. an sf1 build) is inferred by Spark
      val dir = new java.io.File(base, "d")
      Seq((4L, "d")).toDF("doc_id", "text").write.parquet(new java.io.File(dir, "documents.parquet").toString)
      assert(SparkEntry.docs(spark, dir.toString).collect().map(_.getLong(0)).toSeq == Seq(4L))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(base)
  }
}
