package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-7 batch: group-mode imputation, CDC log application,
  * proportional-share curation, declarative expectation suites.
  */
class Round7cOpsSpec extends SparkSpec {
  import spark.implicits._

  test("imputeModeBy: fills with group mode, ties to smallest value") {
    val df = Seq(
      ("g1", "b"), ("g1", "b"), ("g1", "a"), ("g1", null),
      // g2 ties a=1, c=1 -> lexicographically smallest "a" wins
      ("g2", "c"), ("g2", "a"), ("g2", null),
      // g3 all null -> stays null
      ("g3", null), ("g3", null)).toDF("g", "v")
    val out = Clean.imputeModeBy(df, "v", Seq("g"))
      .groupBy("g").agg(sum(when(col("v").isNull, 1).otherwise(0)).as("nulls"),
        max(when(col("v") === "b", 1).otherwise(0)).as("has_b"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getInt(2))).toMap
    assert(out("g1") == (0L, 1), "g1 null filled with mode b")
    assert(out("g3")._1 == 2L, "all-null group keeps nulls")
    val g2 = Clean.imputeModeBy(df, "v", Seq("g"))
      .where(col("g") === "g2" && col("v") === "a").count()
    assert(g2 == 2L, "g2 tie broke to 'a' (1 original + 1 filled)")
  }

  test("imputeModeBy: null grouping key is a legitimate group") {
    val df = Seq((null, "x"), (null, "x"), (null, null))
      .toDF("g", "v").select(col("g").cast("string").as("g"), col("v"))
    val filled = Clean.imputeModeBy(df, "v", Seq("g"))
      .where(col("v") === "x").count()
    assert(filled == 3L, "null-key group's null must fill from its own mode")
  }

  test("applyCdc: last op wins, deletes remove, inserts appear, rest pass through") {
    val base = Seq((1L, "one", 10.0), (2L, "two", 20.0), (3L, "three", 30.0))
      .toDF("k", "name", "bal")
    val log = Seq(
      // k=1: update then delete (later ts) -> gone
      (1L, "one_v2", 11.0, "U", 100L, 1L),
      (1L, null.asInstanceOf[String], 0.0, "D", 200L, 2L),
      // k=2: two updates, later ts wins
      (2L, "two_v2", 21.0, "U", 100L, 3L),
      (2L, "two_v3", 22.0, "U", 300L, 4L),
      // k=4: pure insert
      (4L, "four", 40.0, "U", 50L, 5L),
      // k=5: delete of a key the base never had -> still absent
      (5L, null.asInstanceOf[String], 0.0, "D", 60L, 6L))
      .toDF("k", "name", "bal", "op", "ts", "seq")
    val out = Merge.applyCdc(base, log, Seq("k"), "op", "ts", Seq("seq"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
    assert(out.keySet == Set(2L, 3L, 4L))
    assert(out(2L) == ("two_v3", 22.0), "latest log row wins")
    assert(out(3L) == ("three", 30.0), "untouched base row passes through")
    assert(out(4L) == ("four", 40.0), "log-only key is inserted")
  }

  test("applyCdc: same-ts ties break by tieBreakCols, log always beats base") {
    val base = Seq((1L, "base", 0.0)).toDF("k", "name", "bal")
    val log = Seq(
      (1L, "tie_a", 1.0, "U", 100L, 1L),
      (1L, "tie_b", 2.0, "U", 100L, 2L)).toDF("k", "name", "bal", "op", "ts", "seq")
    val out = Merge.applyCdc(base, log, Seq("k"), "op", "ts", Seq("seq"))
      .collect()
    assert(out.length == 1 && out(0).getString(1) == "tie_b",
      "higher tie-break wins at equal ts")
  }

  test("selectProportional: budgets split by exact group-weight shares") {
    // g1 weight 300, g2 weight 100, budget 100 -> 75 / 25
    val df = (1 to 3).map(i => ("g1", i.toLong, 100L)) ++
      Seq(("g2", 10L, 40L), ("g2", 11L, 30L), ("g2", 12L, 30L))
    val in = df.toDF("g", "id", "w")
    val out = graft.Caches.scoped(graft.ext.Pack.selectProportional(in, "w",
        Seq(col("id")), 100L, Seq("g"))
      .select("g", "id").collect().map(r => (r.getString(0), r.getLong(1))).toSet)
    // g1: cum_before 0,100,200 -> keep only cum<75 => id 1
    // g2: cum_before 0,40,70 -> keep cum<25 => id 10
    assert(out == Set(("g1", 1L), ("g2", 10L)), s"got $out")
  }

  test("selectProportional: selection is stable across input partitioning") {
    val rows = (1L to 400L).map(i => (s"g${i % 3}", i, (i % 7) + 1L))
    val a = graft.Caches.scoped(graft.ext.Pack.selectProportional(
      rows.toDF("g", "id", "w"), "w",
      Seq(col("id")), 200L, Seq("g")).select("g", "id").collect().toSet)
    val b = graft.Caches.scoped(graft.ext.Pack.selectProportional(
      rows.toDF("g", "id", "w").repartition(13), "w",
      Seq(col("id")), 200L, Seq("g")).select("g", "id").collect().toSet)
    assert(a == b, "proportional selection must not depend on partitioning")
  }

  test("Quality.expect: one row per rule, nulls count as failures") {
    val df = Seq[(java.lang.Long, String)]((1L, "a"), (2L, "b"),
      (null, "c"), (50L, null)).toDF("x", "s")
    val out = Quality.expect(df, Seq(
      Quality.Expectation("x_small", col("x") < 10),
      Quality.Expectation("s_nonnull", col("s").isNotNull),
      Quality.Expectation("always", lit(true))))
      .orderBy("rule_ord").collect()
    assert(out.map(_.getString(1)).toSeq ==
      Seq("x_small", "s_nonnull", "always"), "definition order preserved")
    val byRule = out.map(r => r.getString(1) ->
      (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(byRule("x_small") == (4L, 2L, 2L), "null x is a failure")
    assert(byRule("s_nonnull") == (4L, 3L, 1L))
    assert(byRule("always") == (4L, 4L, 0L))
    assert(out.find(_.getString(1) == "always").get.getDouble(5) == 1.0)
  }

  test("Quality.expect: duplicate rule names rejected") {
    val df = Seq(1).toDF("x")
    intercept[IllegalArgumentException] {
      Quality.expect(df, Seq(
        Quality.Expectation("r", lit(true)),
        Quality.Expectation("r", lit(false))))
    }
  }
}
