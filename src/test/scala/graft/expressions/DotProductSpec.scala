package graft.expressions

import graft.{SparkSpec, TempDirSpec}
import org.apache.spark.sql.functions._

class DotProductSpec extends SparkSpec with TempDirSpec {

  test("graft_dot matches the HOF left-fold bit-for-bit") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val df = Seq(
      (Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0)),
      (Array(0.1, -0.2, 0.3), Array(-0.4, 0.5, 0.6)),
      (Array.empty[Double], Array.empty[Double])
    ).toDF("a", "b")
    val out = df.select(
      expr("graft_dot(a, b)").as("native"),
      expr("aggregate(zip_with(a, b, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (s, x) -> s + x)")
        .as("hof")).collect()
    out.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
    assert(out(0).getDouble(0) == 32.0)
  }

  test("graft_dot is null-safe and rejects wrong types") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val df = Seq((Option.empty[Array[Double]], Array(1.0))).toDF("a", "b")
    assert(df.select(expr("graft_dot(a, b)")).collect()(0).isNullAt(0))
    val err = intercept[Exception] {
      spark.sql("SELECT graft_dot(1, 2)").collect()
    }
    assert(err.getMessage.toLowerCase.contains("graft_dot") ||
      err.getMessage.toLowerCase.contains("data type"))
  }

  test("graft_dot participates in whole-stage codegen") {
    GraftFunctions.register(spark)
    import spark.implicits._
    // a LocalTableScan never enters WSCG; go through a real datasource
    val tmp = java.nio.file.Files.createDirectories(java.nio.file.Paths.get(tempDir, "graft_dot")).toString
    Seq((Array(1.0, 2.0), Array(3.0, 4.0))).toDF("a", "b")
      .write.mode("overwrite").parquet(tmp)
    val df = spark.read.parquet(tmp).select(expr("graft_dot(a, b)").as("d"))
    val wscg = df.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    assert(wscg.nonEmpty, df.queryExecution.executedPlan.toString)
    assert(df.collect()(0).getDouble(0) == 11.0)
  }
}
