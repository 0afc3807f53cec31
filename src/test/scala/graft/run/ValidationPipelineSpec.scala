package graft.run

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class ValidationPipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("parquetRowCount: footer total when flat, None when nested") {
    val root = Files.createTempDirectory("graft-rowcount").toString
    val df = spark.range(0, 1000).selectExpr("id", "id % 4 AS k").repartition(3)
    df.write.parquet(s"$root/flat")
    assert(ValidationPipeline.parquetRowCount(s"$root/flat").contains(1000L))
    // a partitioned layout keeps its files in subdirectories: a top-level
    // listing would count none of them, so the exact count() must run
    df.write.partitionBy("k").parquet(s"$root/nested")
    assert(ValidationPipeline.parquetRowCount(s"$root/nested").isEmpty)
    // files at the top level plus a subdirectory: still no partial count
    df.write.parquet(s"$root/flat/sub")
    assert(ValidationPipeline.parquetRowCount(s"$root/flat").isEmpty)
    graft.io.Scratch.deleteRecursively(root)
  }
}
