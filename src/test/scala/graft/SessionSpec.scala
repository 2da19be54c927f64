package graft

import org.apache.spark.sql.functions._

class SessionSpec extends SparkSpec {

  test("the test session is local[4] with 4 shuffle partitions") {
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
  }

  test("materialize evaluates the columns count() prunes") {
    // row 3 of `x` raises; count() never evaluates x, materialize must
    val df = spark.range(10).select(col("id"),
      when(col("id") === 3L, raise_error(lit("row 3"))).otherwise(col("id")).as("x"))
    assert(df.count() == 10L)
    val e = intercept[Exception](Session.materialize(df))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("row 3")))
  }

  test("materialize returns the row count of the full plan") {
    val df = spark.range(0, 100, 1, 3).where(col("id") % 7 === 0L).orderBy(col("id").desc).toDF()
    assert(Session.materialize(df) == 15L)
  }
}
